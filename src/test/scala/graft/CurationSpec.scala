package graft

import graft.operators.Curation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CurationSpec extends AnyFunSuite with SparkSpec {

  test("withSplit is a pure function of the id: stable across repartitioning") {
    import spark.implicits._
    val df = (0L until 2000L).toDF("id")
    val a = Curation.withSplit(df.repartition(3), "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val b = Curation.withSplit(df.repartition(11), "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(a.join(b.withColumnRenamed("split", "split2"), "id")
      .filter(col("split") =!= col("split2")).count() == 0)
  }

  test("withSplit fractions land near their targets and partition the rows") {
    import spark.implicits._
    val n = 20000L
    val df = (0L until n).toDF("id")
    val got = Curation.withSplit(df, "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.values.sum == n)
    assert(math.abs(got("train") / n.toDouble - 0.8) < 0.02)
    assert(math.abs(got("val") / n.toDouble - 0.1) < 0.01)
    assert(math.abs(got("test") / n.toDouble - 0.1) < 0.01)
  }

  test("sampleFraction: deterministic, partition-invariant, near the target rate") {
    import spark.implicits._
    val n = 20000L
    val df = (0L until n).toDF("id")
    val a = Curation.sampleFraction(df.repartition(3), "id", 0.25)
      .select("id").collect().map(_.getLong(0)).toSet
    val b = Curation.sampleFraction(df.repartition(13), "id", 0.25)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a == b, "membership must be a pure function of (id, salt)")
    assert(math.abs(a.size / n.toDouble - 0.25) < 0.02)
    // growing the corpus never flips an existing row's membership
    val grown = Curation.sampleFraction((0L until 2 * n).toDF("id"), "id", 0.25)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(grown.filter(_ < n) == a)
    assert(Curation.sampleFraction(df, "id", 0.0).count() == 0)
    assert(Curation.sampleFraction(df, "id", 1.0).count() == n)
    // fractions nest: raising the rate only ADDS rows (monotone thresholds
    // over the same buckets), so a 10% sample is a subset of the 25% one
    val small = Curation.sampleFraction(df, "id", 0.10)
      .collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(a), "samples at growing fractions must nest")
  }

  test("sampleFraction: distinct salts draw independent samples; null ids drop") {
    import spark.implicits._
    val df = (0L until 5000L).toDF("id")
    val s1 = Curation.sampleFraction(df, "id", 0.5, salt = "a")
      .collect().map(_.getLong(0)).toSet
    val s2 = Curation.sampleFraction(df, "id", 0.5, salt = "b")
      .collect().map(_.getLong(0)).toSet
    val overlap = (s1 & s2).size / 5000.0
    // independent 50% draws overlap ~25%; identical draws would overlap 50%
    assert(math.abs(overlap - 0.25) < 0.03, s"salts correlate: overlap=$overlap")
    val withNull = Seq[java.lang.Long](1L, null, 3L).toDF("id")
    assert(Curation.sampleFraction(withNull, "id", 1.0).count() == 2)
  }

  test("corrStats: exact moments reconstruct Pearson; pairwise null deletion; self-pairs") {
    import spark.implicits._
    // y = 2x exactly -> r = 1; z decorrelates; one row has a null z
    val df = Seq(
      (1.0, 2.0, Some(5.0)), (2.0, 4.0, Some(1.0)),
      (3.0, 6.0, None), (4.0, 8.0, Some(3.0)))
      .toDF("x", "y", "z")
    val out = Curation.corrStats(df, Seq("x", "y", "z"), fpDigits = 1)
      .collect().map { r =>
        (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getDecimal(3).longValue, r.getDecimal(4).longValue,
            r.getDecimal(5).longValue, r.getDecimal(6).longValue,
            r.getDecimal(7).longValue))
      }.toMap
    // (x, y): scaled by 10 -> x = 10,20,30,40; y = 20,40,60,80
    assert(out(("x", "y")) == ((4L, 100L, 200L, 6000L, 3000L, 12000L)))
    def pearson(s: (Long, Long, Long, Long, Long, Long)): Double = {
      val (n, sa, sb, sab, saa, sbb) = s
      (n * sab - sa * sb).toDouble /
        math.sqrt((n * saa - sa * sa).toDouble * (n * sbb - sb * sb).toDouble)
    }
    assert(pearson(out(("x", "y"))) == 1.0)
    // (x, z): the null-z row is EXCLUDED from this pair only (n = 3)
    assert(out(("x", "z"))._1 == 3L)
    assert(out(("x", "y"))._1 == 4L && out(("x", "x"))._1 == 4L)
    // self-pair: r = 1 trivially, variance via the same formula
    assert(pearson(out(("y", "y"))) == 1.0)
    // all pairs present: k(k+1)/2 = 6
    assert(out.size == 6)
    // boundedProducts fast path (long per-row multiplies, decimal sums):
    // bit-identical rows to the default decimal-multiply path
    val slow = Curation.corrStats(df, Seq("x", "y", "z"), fpDigits = 1)
      .collect().map(_.toString).sorted
    val fast = Curation.corrStats(df, Seq("x", "y", "z"), fpDigits = 1,
        boundedProducts = true)
      .collect().map(_.toString).sorted
    assert(fast.sameElements(slow))
  }

  test("corrStats boundedProducts: a scaled value past the int64-product bound raises, never wraps") {
    import spark.implicits._
    // 5e7 at fpDigits=2 scales to 5e9 > 3e9: its long square would wrap
    // past 2^63 in non-ANSI mode — the r19 in-plan guard must raise
    val df = Seq((5.0e7, 1.0), (2.0, 2.0)).toDF("x", "y")
    val e = intercept[Exception] {
      Curation.corrStats(df, Seq("x", "y"), fpDigits = 2,
        boundedProducts = true).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("boundedProducts")), e.toString)
    // the same values pass untouched on the default decimal path
    val ok = Curation.corrStats(df, Seq("x", "y"), fpDigits = 2).collect()
    assert(ok.length == 3)
  }

  test("temperatureSample: T>1 shifts share toward small domains; clamps; drops null groups; pure") {
    import spark.implicits._
    val docs = ((1 to 900).map(i => (i.toLong, "big")) ++
      (1001 to 1100).map(i => (i.toLong, "small")) ++
      Seq((2000L, null.asInstanceOf[String]))).toDF("doc_id", "source")
    val out = Curation.temperatureSample(docs, "source", budget = 150L)
      .collect().map(r => r.getLong(1) -> r.getString(0))
    // rates: mass = sqrt(900)+sqrt(100) = 40; big -> min(1, 150*(30/40)/900)
    // = 0.125, small -> min(1, 150*(10/40)/100) = 0.375: the small domain
    // keeps a ~3x higher fraction
    val kept = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(kept("big").toDouble / 900 < kept("small").toDouble / 100)
    assert(!kept.contains(null)) // null domains have no share
    // deterministic: a rerun keeps the identical set
    val again = Curation.temperatureSample(docs, "source", budget = 150L)
      .collect().map(r => r.getLong(1) -> r.getString(0))
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    // budget >= corpus: every non-null row survives (rate clamps at 1)
    assert(Curation.temperatureSample(docs, "source", budget = 10000L)
      .count() == 1000)
  }

  test("temperatureSample: tiny-rate domain floors at one bucket; zero budget keeps nothing") {
    import spark.implicits._
    // budget 1 over a 140k corpus: the 'rare' domain's derived rate
    // (~6e-6) rounds to threshold 0 out of 10000 buckets — pre-floor it
    // starved ENTIRELY; the floor keeps threshold 1, so the ~1/10000 of
    // its ids whose salted bucket is 0 still survive (deterministic: the
    // md5 bucket is a pure function of doc_id)
    val docs = ((1L to 40000L).map(i => (i, "big")) ++
      (100001L to 200000L).map(i => (i, "rare"))).toDF("doc_id", "source")
    val kept = Curation.temperatureSample(docs, "source", budget = 1L)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept.getOrElse("rare", 0L) >= 1L,
      s"rare domain starved despite positive budget: $kept")
    // budget 0 keeps nothing anywhere (the floor must NOT resurrect rows)
    assert(Curation.temperatureSample(docs, "source", budget = 0L).count() == 0L)
  }

  test("mixtureSample applies per-group keep rates; unlisted and null groups take the default") {
    import spark.implicits._
    val rows = (0L until 30000L).map(i => (i, i % 3 match {
      case 0 => "keep_all"; case 1 => "downsample"; case _ => "drop"
    })).toDF("id", "src")
      .union(Seq((100000L, null.asInstanceOf[String])).toDF("id", "src"))
    val out = Curation.mixtureSample(rows, "id", "src",
      Seq("keep_all" -> 1.0, "downsample" -> 0.1, "drop" -> 0.0), defaultRate = 1.0)
    val byGroup = out.groupBy("src").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(byGroup(Some("keep_all")) == 10000L)
    assert(!byGroup.contains(Some("drop")))
    assert(math.abs(byGroup(Some("downsample")) / 10000.0 - 0.1) < 0.02)
    assert(byGroup(None) == 1L, "null group keeps the default rate")
    // the kept set must agree with an explicit salted-bucket filter
    val manual = rows.filter(
      Curation.hashBucketSalted(col("id"), "mixture") <
        when(col("src") === "keep_all", 10000)
          .when(col("src") === "downsample", 1000)
          .when(col("src") === "drop", 0).otherwise(10000))
      .collect().map(_.getLong(0)).toSet
    assert(out.collect().map(_.getLong(0)).toSet == manual)
  }

  test("mixtureUpsample replicates by weight: whole copies exact, fractional deterministic") {
    import spark.implicits._
    val rows = (0L until 9000L).map(i => (i, i % 3 match {
      case 0 => "triple"; case 1 => "half"; case _ => "keep"
    })).toDF("id", "src")
    val out = Curation.mixtureUpsample(rows, "id", "src",
      Seq("triple" -> 3.0, "half" -> 0.5), defaultWeight = 1.0)
    val byGroup = out.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byGroup("triple") == 9000L, "integer weight = exact replication")
    assert(byGroup("keep") == 3000L)
    assert(math.abs(byGroup("half") / 3000.0 - 0.5) < 0.04)
    // copy indices are 1..k per id
    val copies = out.filter(col("src") === "triple" && col("id") === 0L)
      .select("copy").collect().map(_.getLong(0)).sorted.toSeq
    assert(copies == Seq(1L, 2L, 3L))
    // fractional copies are deterministic under repartitioning
    val again = Curation.mixtureUpsample(rows.repartition(7), "id", "src",
      Seq("triple" -> 3.0, "half" -> 0.5), defaultWeight = 1.0)
      .select("id", "copy").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == out.select("id", "copy").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("mixtureUpsample at w <= 1 degenerates to mixtureSample's membership") {
    import spark.implicits._
    val rows = (0L until 4000L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "src")
    val weights = Seq("a" -> 0.3, "b" -> 0.7)
    val up = Curation.mixtureUpsample(rows, "id", "src", weights)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val sampled = Curation.mixtureSample(rows, "id", "src", weights)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(up == sampled, "one weight table must drive both directions")
  }

  test("packSequences assigns docs to token-budget bins by exclusive prefix offset") {
    import spark.implicits._
    // tokens: 5, 5, 5, 5 with budget 12 -> offsets 0,5,10,15 -> bins 0,0,0,1
    val docs = Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 5L)).toDF("id", "n")
    val got = Curation.packSequences(docs, col("n"), Seq(col("id")), 12L)
      .orderBy("id").collect().map(r => r.getAs[Long]("seq_id")).toSeq
    assert(got == Seq(0L, 0L, 0L, 1L))
    // partition-invariant: the same assignment from a different layout
    val again = Curation.packSequences(docs.repartition(3), col("n"), Seq(col("id")), 12L)
      .orderBy("id").collect().map(r => r.getAs[Long]("seq_id")).toSeq
    assert(again == got)
    // every sequence's docs are contiguous in the order key
    val big = (0L until 500L).map(i => (i, 1L + i % 7)).toDF("id", "n")
    val rows = Curation.packSequences(big, col("n"), Seq(col("id")), 64L)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getAs[Long]("seq_id")))
    assert(rows.map(_._2).sliding(2).forall(p => p(1) - p(0) >= 0 && p(1) - p(0) <= 1),
      "seq_id must be non-decreasing and gapless over the order key")
  }

  test("withSplit matches an independent md5 bucket reimplementation") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 42L, 9999L, 123456789L)
    val got = Curation.withSplit(ids.toDF("id"), "id", Seq("a" -> 0.5, "b" -> 0.5))
      .orderBy("id").collect().map(_.getString(1)).toSeq
    def bucket(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16) % 10000
    }
    val want = ids.sorted.map(id => if (bucket(id) < 5000) "a" else "b")
    assert(got == want)
  }

  test("withSplit rejects fractions summing past 1") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      Curation.withSplit(Seq(1L).toDF("id"), "id", Seq("a" -> 0.8, "b" -> 0.3))
    }
  }

  test("profile reports count, nulls, and exact distincts per column") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", Some(10)), (2L, "b", None), (3L, "a", Some(10)), (4L, null, Some(20)))
      .toDF("id", "s", "v")
    val got = Curation.profile(df, Seq("s", "v"))
      .orderBy("col_name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(("s", 4L, 1L, 2L), ("v", 4L, 1L, 2L)))
  }

  test("profile approx=true stays within the rsd band of exact and keeps exact counts/nulls") {
    import spark.implicits._
    val df = (1L to 2000L).map(i => (i, s"g${i % 7}", if (i % 10 == 0) null else s"v$i"))
      .toDF("id", "g", "v")
    val exact = Curation.profile(df, Seq("g", "v", "id"))
      .orderBy("col_name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val apx = Curation.profile(df, Seq("g", "v", "id"), approx = true, rsd = 0.05)
      .orderBy("col_name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // rows and nulls are exact aggregates in both modes
    assert(exact.map(t => (t._1, t._2, t._3)).toSeq == apx.map(t => (t._1, t._2, t._3)).toSeq)
    // HLL++ distinct within a generous 4×rsd of exact on every column
    exact.zip(apx).foreach { case ((c, _, _, nd), (_, _, _, nda)) =>
      assert(math.abs(nda - nd) <= math.max(1L, math.round(nd * 0.2)),
        s"$c: approx $nda vs exact $nd")
    }
    // the one-pass combined profile agrees with both single-mode profiles
    // column for column (same aggregates, one Expand pass)
    val both = Curation.profileWithApprox(df, Seq("g", "v", "id"))
      .orderBy("col_name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(both.map(t => (t._1, t._2, t._3, t._4)).toSeq == exact.toSeq)
    assert(both.map(t => (t._1, t._2, t._3, t._5)).toSeq == apx.toSeq)
  }

  test("sampleNPerGroup: exactly n per group, deterministic, partition-invariant, salt-independent") {
    import spark.implicits._
    val df = (1L to 200L).map(i => (i, s"g${i % 3}")).toDF("id", "g")
    val s1 = Curation.sampleNPerGroup(df, Seq("g"), "id", n = 10)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val s2 = Curation.sampleNPerGroup(df.repartition(13), Seq("g"), "id", n = 10)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(s1 == s2, "partition layout must not change the sample")
    assert(s1.groupBy(_._2).forall(_._2.size == 10))
    // a different salt draws a different (but equally sized) sample
    val s3 = Curation.sampleNPerGroup(df, Seq("g"), "id", n = 10, salt = "other")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(s3 != s1 && s3.groupBy(_._2).forall(_._2.size == 10))
    // a group smaller than n keeps everything
    val tiny = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "g")
    assert(Curation.sampleNPerGroup(tiny, Seq("g"), "id", n = 10).count() == 3)
  }

  test("quantileProfile: exact interpolation; approx within one rank; partition-invariant") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("k", "x").repartition(7)
    val probs = Seq(0.25, 0.5, 0.99)
    val exact = Curation.quantileProfile(df, Seq("x", "k"), probs)
      .orderBy("col_name", "prob").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    // linear interpolation over 1..100: q(p) = 1 + 99p, for both col types
    val want = for (c <- Seq("k", "x"); p <- probs) yield (c, p, 1.0 + 99.0 * p)
    assert(exact.toSeq == want)
    // the sketch path returns a real element within one rank of the truth
    val apx = Curation.quantileProfile(df, Seq("x"), probs, approx = true)
      .orderBy("prob").collect().map(r => (r.getDouble(1), r.getDouble(2)))
    apx.foreach { case (p, v) =>
      assert(math.abs(v - (1.0 + 99.0 * p)) <= 1.0, s"p=$p got $v")
    }
    // per-group: each group's quantiles computed over its own rows only
    val grouped = (1 to 10).map(i => (i.toDouble, "a")) ++
      (101 to 120).map(i => (i.toDouble, "b"))
    val byG = Curation.quantileProfile(grouped.toDF("x", "g"), Seq("x"),
        Seq(0.5), groupCols = Seq("g"))
      .collect().map(r => (r.getString(0), r.getDouble(2), r.getDouble(3))).sorted.toSeq
    assert(byG == Seq(("a", 0.5, 5.5), ("b", 0.5, 110.5)))
  }

  test("tokenRarity: corpus-wide frequencies, exact integer signals") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat"),        // the:3, cat:2
      (2L, "the cat sat"),    // sat:1
      (3L, "the"))
      .toDF("doc_id", "text")
    val got = Curation.tokenRarity(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 2L, 5L, 2L),   // the(3) + cat(2); rarest 2
      (2L, 3L, 6L, 1L),   // 3 + 2 + 1; rarest 1
      (3L, 1L, 3L, 3L)))
  }

  test("bigramRarity: corpus bigram/prefix frequencies, exact integers; <2-token docs absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b"),   // bigrams: "a b","b a","a b"
      (2L, "a b"),       // bigram:  "a b"
      (3L, "c"))         // no transition
      .toDF("doc_id", "text")
    // corpus: c("a b")=3, c("b a")=1; unigrams a:3, b:3, c:1
    val got = Curation.bigramRarity(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 3L, 7L, 1L, 9L),   // Σc2 = 3+1+3; min 1 (unique "b a"); Σc1(w1) = 3+3+3
      (2L, 1L, 3L, 3L, 3L)))
  }

  test("clipToQuantiles: clamps into the band, nulls stay null, per-group thresholds, sketch close to exact") {
    import spark.implicits._
    // group a: 1..100 -> p10=10.9, p90=90.1 (linear interp); one null
    val df = ((1 to 100).map(i => ("a", i.toDouble: java.lang.Double)) :+
      ("a", null.asInstanceOf[java.lang.Double]) :+
      ("b", 1000000.0: java.lang.Double))
      .toDF("g", "v")
    val got = Curation.clipToQuantiles(df, "v", 0.10, 0.90,
      groupCols = Seq("g"), exact = true)
    val a = got.filter(col("g") === "a").select("v", "v_raw").collect()
    assert(a.length == 101)
    // interior values untouched, tails clamped to the interpolated bounds
    assert(a.filter(r => !r.isNullAt(1) && r.getDouble(1) == 50.0).head.getDouble(0) == 50.0)
    assert(math.abs(a.filter(r => !r.isNullAt(1) && r.getDouble(1) == 1.0).head.getDouble(0) - 10.9) < 1e-9)
    assert(math.abs(a.filter(r => !r.isNullAt(1) && r.getDouble(1) == 100.0).head.getDouble(0) - 90.1) < 1e-9)
    // null value stays null (greatest/least would have clamped it to lo)
    assert(a.filter(_.isNullAt(1)).head.isNullAt(0))
    // group b's single value is its own band: unchanged
    assert(got.filter(col("g") === "b").head.getDouble(1) == 1000000.0)
    // sketch path lands within a tight rank band of exact on this data
    val approx = Curation.clipToQuantiles(df, "v", 0.10, 0.90, groupCols = Seq("g"))
      .filter(col("g") === "a" && col("v_raw") === 1.0).select("v").head.getDouble(0)
    assert(approx >= 9.0 && approx <= 12.0, s"approx lo bound: $approx")
  }

  test("minMaxScale: [0,1] per group, constant group -> 0, nulls through, bit-stable") {
    import spark.implicits._
    val df = (Seq(("a", 10L), ("a", 20L), ("a", 30L), ("b", 7L), ("b", 7L)))
      .toDF("g", "v")
      .union(Seq(("a", null.asInstanceOf[java.lang.Long])).toDF("g", "v"))
    val got = Curation.minMaxScale(df, "v", Seq("g"))
    val a = got.filter(col("g") === "a" && col("v").isNotNull)
      .collect().map(r => r.getLong(1) -> r.getAs[Double]("scaled")).toMap
    assert(a == Map(10L -> 0.0, 20L -> 0.5, 30L -> 1.0))
    assert(got.filter(col("g") === "b").collect().forall(_.getAs[Double]("scaled") == 0.0))
    assert(got.filter(col("v").isNull).head.isNullAt(got.schema.fieldIndex("scaled")))
    val again = Curation.minMaxScale(df.repartition(5), "v", Seq("g"))
      .filter(col("v").isNotNull)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(again == got.filter(col("v").isNotNull)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet)
  }

  test("standardize: exact-integer z-scores, null pass-through, zero-variance -> 0, null groups kept") {
    import spark.implicits._
    val df = (Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 5L), ("b", 5L)) ++
      Seq((null.asInstanceOf[String], 10L), (null.asInstanceOf[String], 20L)))
      .toDF("g", "v")
      .union(Seq(("a", null.asInstanceOf[java.lang.Long])).toDF("g", "v"))
    val got = Curation.standardize(df, "v", Seq("g"))
    assert(got.count() == 8)
    val a = got.filter(col("g") === "a" && col("v") === 2L).head.getAs[Double]("z")
    assert(a == 0.0, "the mean standardizes to exactly 0")
    // group a: n=3, S=6, Q=14 -> z(3) = (9-6)/sqrt(42-36) = 3/sqrt(6)
    val a3 = got.filter(col("g") === "a" && col("v") === 3L).head.getAs[Double]("z")
    assert(a3 == 3.0 / math.sqrt(6.0), "bit-exact against the direct formula")
    assert(got.filter(col("g") === "b").collect().forall(_.getAs[Double]("z") == 0.0),
      "zero-variance group -> 0")
    assert(got.filter(col("g").isNull).count() == 2, "null group standardizes in its own group")
    assert(got.filter(col("v").isNull).head.isNullAt(got.schema.fieldIndex("z")))
    // partition-invariant bit-for-bit (the property avg/stddev lack)
    val again = Curation.standardize(df.repartition(7), "v", Seq("g"))
      .filter(col("v").isNotNull)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getDouble(2))).toSet
    assert(again == got.filter(col("v").isNotNull)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getDouble(2))).toSet)
  }

  test("packedSequences: ordered concat per sequence, budget-bounded membership") {
    import spark.implicits._
    // token counts 3 each, budget 7 -> docs per sequence: floor-offset rule
    val docs = (1L to 9L).map(i => (i, s"w${i}a w${i}b w${i}c")).toDF("doc_id", "text")
    val got = Curation.packedSequences(docs, "doc_id", "text",
        graft.functions.TextFunctions.tokenCount(col("text")), 7L)
      .collect().map(r => (r.getAs[Long]("seq_id"), r.getAs[Long]("first_doc_id"),
        r.getAs[Long]("last_doc_id"), r.getAs[Long]("n_docs"), r.getAs[String]("text")))
      .sortBy(_._1)
    // exclusive prefix: docs 1-3 (offsets 0,3,6) -> seq 0; 4-5 (9,12) ->
    // seq 1; 6,7 (15,18) -> seq 2; 8,9 (21,24) -> seq 3
    assert(got.map(g => (g._1, g._2, g._3, g._4)).toSeq ==
      Seq((0L, 1L, 3L, 3L), (1L, 4L, 5L, 2L), (2L, 6L, 7L, 2L), (3L, 8L, 9L, 2L)))
    assert(got.head._5 == "w1a w1b w1c w2a w2b w2c w3a w3b w3c")
    // identical under repartitioning
    val again = Curation.packedSequences(docs.repartition(7), "doc_id", "text",
        graft.functions.TextFunctions.tokenCount(col("text")), 7L)
      .collect().map(r => (r.getAs[Long]("seq_id"), r.getAs[String]("text"))).toMap
    assert(got.forall { case (sid, _, _, _, t) => again(sid) == t })
  }

  test("sampleNGlobal: exactly n, deterministic, partition-invariant; small corpora keep all") {
    import spark.implicits._
    val df = (0L until 5000L).toDF("id")
    val a = Curation.sampleNGlobal(df.repartition(3), "id", 250)
      .collect().map(_.getLong(0)).toSet
    val b = Curation.sampleNGlobal(df.repartition(17), "id", 250)
      .collect().map(_.getLong(0)).toSet
    assert(a.size == 250 && a == b)
    // independent draws under distinct salts
    val c = Curation.sampleNGlobal(df, "id", 250, salt = "other")
      .collect().map(_.getLong(0)).toSet
    assert(c.size == 250 && c != a)
    assert(Curation.sampleNGlobal(df.limit(10).toDF("id"), "id", 250).count() == 10)
  }

  test("lengthBucketBatches: full batches within buckets, no cross-bucket batch, deterministic") {
    import spark.implicits._
    // 100 docs per synthetic length so bucket populations are known
    val df = (0L until 300L).map(i => (i, 10L + 50L * (i % 3))).toDF("id", "n_tok")
    val got = Curation.lengthBucketBatches(df, col("n_tok"), "id",
      Seq(40.0, 90.0), batchSize = 8)
    assert(got.count() == 300)
    val rows = got.collect().map(r =>
      (r.getAs[Long]("id"), r.getAs[Int]("len_bucket"), r.getAs[Long]("batch_id")))
    // bucket = #(bounds <= len): 10 -> 0, 60 -> 1, 110 -> 2
    assert(rows.forall { case (id, b, _) => b == ((10 + 50 * (id % 3)) match {
      case 10 => 0; case 60 => 1; case _ => 2 }) })
    // every batch lives inside one bucket (id encodes the bucket) and holds
    // at most 8 docs; with 100 docs per bucket: 12 full batches + one of 4
    val sizes = rows.groupBy(_._3).map { case (bid, g) =>
      assert(g.map(_._2).distinct.size == 1, s"batch $bid spans buckets")
      g.size
    }.toSeq
    assert(sizes.count(_ == 8) == 36 && sizes.count(_ == 4) == 3 && sizes.sum == 300)
    // partition-invariant assignment
    val again = Curation.lengthBucketBatches(df.repartition(13), col("n_tok"), "id",
        Seq(40.0, 90.0), batchSize = 8)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("batch_id"))).toMap
    assert(rows.forall { case (id, _, bid) => again(id) == bid })
  }

  test("clipToQuantiles / keepAboveQuantile: null GROUP keys form their own group, not dropped") {
    import spark.implicits._
    val df = (Seq.tabulate(10)(i => ("a", (i + 1).toDouble: java.lang.Double)) ++
      Seq.tabulate(10)(i => (null.asInstanceOf[String], (100 + i).toDouble: java.lang.Double)))
      .toDF("g", "v")
    val clipped = Curation.clipToQuantiles(df, "v", 0.0, 0.5, groupCols = Seq("g"), exact = true)
    // row-preserving clamp: every row survives, including the null group's
    assert(clipped.count() == 20)
    val nullG = clipped.filter(col("g").isNull)
    assert(nullG.count() == 10)
    // the null group clamps against ITS OWN band (p50 of 100..109 = 104.5),
    // not group a's
    assert(nullG.agg(max("v")).head.getDouble(0) == 104.5)
    val kept = Curation.keepAboveQuantile(df, "v", 0.5, groupCols = Seq("g"), exact = true)
    // null group cut against its own median, same as the named group
    assert(kept.filter(col("g").isNull).count() == 5)
    assert(kept.filter(col("g") === "a").count() == 5)
  }

  test("clipToQuantiles: clamped column is double on both paths regardless of input type") {
    import spark.implicits._
    val df = (1L to 100L).map(i => ("a", i)).toDF("g", "v")  // long input
    for (exact <- Seq(true, false)) {
      val out = Curation.clipToQuantiles(df, "v", 0.1, 0.9, groupCols = Seq("g"), exact = exact)
      assert(out.schema("v").dataType == org.apache.spark.sql.types.DoubleType,
        s"exact=$exact clamped type")
      assert(out.schema("v_raw").dataType == org.apache.spark.sql.types.LongType)
    }
  }

  test("bigramRarityAgainstCorpus: novel transitions score 0; collapse on/off identical") {
    import spark.implicits._
    val corpus = Seq((100L, "a b a b"), (101L, "b c")).toDF("doc_id", "text")
    val fresh = Seq((1L, "a b z"), (2L, "z z"), (3L, "solo")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1).toSeq
    val got = rows(Curation.bigramRarityAgainstCorpus(fresh, corpus))
    // doc 1: "a b" (c2=2, c1(a)=2) + novel "b z"; doc 2: novel only;
    // doc 3: no transitions -> absent
    assert(got == Seq((1L, 2L, 1L, 2L, 2L), (2L, 1L, 0L, 0L, 0L)))
    assert(got == rows(Curation.bigramRarityAgainstCorpus(
      fresh, corpus, collapseOccurrences = false)))
  }

  test("sampleWeighted: zero weight drops, huge weight keeps, monotone in rate, deterministic") {
    import spark.implicits._
    val df = (1L to 2000L).map(i => (i, i % 5)).toDF("doc_id", "w")
    assert(Curation.sampleWeighted(df.withColumn("w", lit(0L)), "doc_id", "w", 0.5).count() == 0)
    assert(Curation.sampleWeighted(df.withColumn("w", lit(10L)), "doc_id", "w", 0.5).count() == 2000)
    val lo = Curation.sampleWeighted(df, "doc_id", "w", 0.05)
      .select("doc_id").as[Long].collect().toSet
    val hi = Curation.sampleWeighted(df, "doc_id", "w", 0.10)
      .select("doc_id").as[Long].collect().toSet
    // same per-row uniform, higher threshold: membership only grows
    assert(lo.subsetOf(hi), s"lost ${lo.diff(hi).size} rows when rate doubled")
    assert(lo.size < hi.size)
    // expected keep fraction ~ E[min(1, w*rate)] = mean(0,.05..,.2)=0.1 at rate=.05
    assert(lo.size > 100 && lo.size < 320, s"keep count off: ${lo.size}")
    // w=0 rows never pass regardless of hash
    assert(!lo.exists(_ % 5 == 0))
    val again = Curation.sampleWeighted(df.repartition(13), "doc_id", "w", 0.05)
      .select("doc_id").as[Long].collect().toSet
    assert(again == lo)
  }

  test("mixtureToTargets: binding group keeps rate 1, shares land on target, untargeted drop") {
    import spark.implicits._
    // equal 10-token docs; masses a=30k, b=10k, c=20k tokens; targets
    // 60/20 for a/b -> ratios c/w: a=50k, b=50k (tied binding), c dropped
    val df = ((1 to 3000).map(i => (i.toLong, "a")) ++
      (100001 to 101000).map(i => (i.toLong, "b")) ++
      (200001 to 202000).map(i => (i.toLong, "c")))
      .toDF("doc_id", "g").withColumn("n_tok", lit(10L)).repartition(7)
    val kept = Curation.mixtureToTargets(df, "doc_id", "g", "n_tok",
      Seq("a" -> 0.6, "b" -> 0.2)).collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("doc_id")))
    val byG = kept.groupBy(_._1).view.mapValues(_.length).toMap
    // both groups bind (rate exactly 1): every row of a and b survives
    assert(byG == Map("a" -> 3000, "b" -> 1000))
    assert(!kept.exists(_._1 == "c"))
    // unequal binding: target 30/70 -> b binds (10k/0.7 < 30k/0.3),
    // a trims to ~ (10k/0.7)*0.3/30k = 1/7 of its rows (Bernoulli)
    val kept2 = Curation.mixtureToTargets(df, "doc_id", "g", "n_tok",
      Seq("a" -> 0.3, "b" -> 0.7)).collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("doc_id"))).toSeq
    val n2 = kept2.groupBy(_._1).view.mapValues(_.length).toMap
    assert(n2("b") == 1000)
    assert(math.abs(n2("a") - 3000.0 / 7.0) < 60, s"got ${n2("a")}")
    // deterministic: same ids on a repartitioned rerun
    val again = Curation.mixtureToTargets(df.repartition(3), "doc_id", "g", "n_tok",
      Seq("a" -> 0.3, "b" -> 0.7)).collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("doc_id"))).toSeq
    assert(again.sorted == kept2.sorted)
  }

  test("keepAboveQuantile: per-group cuts against each group's own distribution") {
    import spark.implicits._
    // group a: 1..10 (p50 interpolates to 5.5 -> keeps 6..10);
    // group b: 101..120 (p50 = 110.5 -> keeps 111..120) — a global cut
    // would keep ALL of b and none of a
    val df = ((1 to 10).map(i => (i.toLong, "a")) ++
      (101 to 120).map(i => (i.toLong, "b"))).toDF("x", "g").repartition(5)
    val got = Curation.keepAboveQuantile(df, "x", 0.5,
        groupCols = Seq("g"), exact = true)
      .collect().map(r => (r.getAs[String]("g"), r.getAs[Long]("x"))).sorted.toSeq
    assert(got == ((6 to 10).map(i => ("a", i.toLong)) ++
      (111 to 120).map(i => ("b", i.toLong))).sorted.toSeq)
    // global cut over the union; null scores never survive
    val withNull = df.union(Seq((null.asInstanceOf[java.lang.Long], "a"))
      .toDF("x", "g").select(col("x").cast("long"), col("g")))
    val glob = Curation.keepAboveQuantile(withNull, "x", 0.9, exact = true)
      .collect().map(_.getAs[Long]("x")).sorted.toSeq
    // p90 over the 30 non-null values (1..10, 101..120) = 117.1 -> 118..120
    assert(glob == Seq(118L, 119L, 120L))
    // sketch path: a real element no more than one rank from the exact cut
    val apx = Curation.keepAboveQuantile(df.filter(col("g") === "b"), "x", 0.5)
      .collect().map(_.getAs[Long]("x")).min
    assert(apx == 110L || apx == 111L, s"got min $apx")
  }

  test("chunkDocuments: null text behaves like empty text (one chunk, n_tokens 0)") {
    import spark.implicits._
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, "real doc here"))
      .toDF("doc_id", "text")
    val got = Curation.chunkDocuments(docs, maxTokens = 8)
      .orderBy("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSeq
    // the null doc emits exactly one empty chunk with a ZERO (not null)
    // token count — a NULL here would poison packSequences' prefix sums
    assert(got == Seq((1L, 0L, "", 0L), (2L, 0L, "real doc here", 3L)))
  }

  test("topKPerGroup keeps the k best per group with deterministic ties") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", 10L), (2L, "a", 30L), (3L, "a", 30L), (4L, "a", 5L),
      (5L, "b", 7L)).toDF("id", "g", "score")
    val got = Curation.topKPerGroup(df, Seq("g"), col("score"), col("id"), k = 2)
      .orderBy("g", "rank").collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(3))).toSeq
    // tie at 30 broken by ascending id: 2 before 3; 10 drops out of a's top 2
    assert(got == Seq(("a", 2L, 1L), ("a", 3L, 2L), ("b", 5L, 1L)))
  }

  test("tokenBudget counts docs and tokens per group") {
    import spark.implicits._
    val docs = Seq(
      (1L, "web", "one two three"),
      (2L, "web", "four five"),
      (3L, "book", "six")).toDF("doc_id", "source", "text")
    val got = Curation.tokenBudget(docs, Seq(col("source")))
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("book", 1L, 1L), ("web", 2L, 5L)))
  }

  test("chunkDocuments: windows cover every token, overlap carried, sizes bounded") {
    import spark.implicits._
    val words = (1 to 75).map(i => s"w$i")
    val docs = Seq((1L, words.mkString(" ")), (2L, "tiny doc")).toDF("doc_id", "text")
    val chunks = Curation.chunkDocuments(docs, maxTokens = 32, overlap = 8)
      .orderBy("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))

    val d1 = chunks.filter(_._1 == 1L)
    // starts step by 24: 0, 24, 48 — a start at 72 would cover only tokens
    // 73..75, all already inside chunk 2 (tail <= overlap adds nothing and
    // must NOT be emitted: duplicate training tokens)
    assert(d1.map(_._2).toSeq == Seq(0L, 1L, 2L))
    assert(d1.map(_._4).toSeq == Seq(32L, 32L, 27L))
    assert(d1.forall(_._4 <= 32))
    // consecutive chunks share exactly the 8-token overlap
    val c0 = d1(0)._3.split(" ")
    val c1 = d1(1)._3.split(" ")
    assert(c0.takeRight(8).toSeq == c1.take(8).toSeq)
    // stitched back together (dropping each successor's overlap) = original
    val stitched = d1.map(_._3.split(" ").toSeq).reduce((a, b) => a ++ b.drop(8))
    assert(stitched == words)
    // short doc: itself as chunk 0
    assert(chunks.filter(_._1 == 2L).toSeq == Seq((2L, 0L, "tiny doc", 2L)))
  }

  test("chunkDocuments output feeds packSequences (the full context-window pipeline)") {
    import spark.implicits._
    val docs = (1L to 10L)
      .map(i => (i, (1 to 20 + (i % 5).toInt * 7).map(j => s"d${i}w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val chunks = Curation.chunkDocuments(docs, maxTokens = 16, overlap = 0)
    val packed = Curation.packSequences(
      chunks, col("n_tokens"), Seq(col("doc_id"), col("chunk_idx")), seqTokens = 64L)
      .select("doc_id", "chunk_idx", "n_tokens", "seq_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    // exclusive-prefix-sum assignment reproduced independently
    var cum = 0L
    for ((_, _, n, seqId) <- packed) {
      assert(seqId == cum / 64, packed.mkString(", "))
      cum += n
    }
    // every chunk respects the window...
    assert(packed.forall(_._3 <= 16))
    // ...and no sequence collects more than budget + one straddling chunk
    // (a chunk STARTING inside its sequence may overflow it by < maxTokens)
    val perSeq = packed.groupBy(_._4).view.mapValues(_.map(_._3).sum)
    assert(perSeq.values.forall(_ <= 64 + 16), perSeq.toMap.toString)
    // the packing is dense: every sequence except possibly the last opens
    // only after its predecessor passed the budget boundary
    assert(perSeq.keys.toSeq.sorted == (0L to perSeq.keys.max))
  }

  test("withShuffleOrder: positions are the md5-order permutation") {
    import spark.implicits._
    val df = (1L to 100L).toDF("doc_id")
    val got = Curation.withShuffleOrder(df, "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.map(_._2).sorted.toSeq == (1L to 100L))
    val want = (1L to 100L).sortBy(id =>
      java.security.MessageDigest.getInstance("MD5").digest(id.toString.getBytes)
        .map("%02x".format(_)).mkString)
      .zipWithIndex.map { case (id, i) => (id, i + 1L) }.toMap
    assert(got.forall { case (id, pos) => want(id) == pos })
  }

  test("sampleNWeightedGlobal: exact n, deterministic, weight-sensitive") {
    import spark.implicits._
    val df = (1L to 400L).map(i => (i, if (i <= 20) 1000000.0 else 1.0))
      .toDF("id", "w")
    val got = Curation.sampleNWeightedGlobal(df, "id", "w", n = 50)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got.length == 50)
    // u^(1/1e6) ~ 1 for any u: the 20 heavy rows always make a top-50 cut
    assert((1L to 20L).forall(got.contains))
    val again = Curation.sampleNWeightedGlobal(df.repartition(13), "id", "w", n = 50)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(again == got)
    // a different salt draws a different light-row tail
    val other = Curation.sampleNWeightedGlobal(df, "id", "w", n = 50, salt = "w2")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(other != got && (1L to 20L).forall(other.contains))
  }

  test("sampleNWeightedGlobal: non-positive/null weights excluded; small corpus kept whole") {
    import spark.implicits._
    val df = Seq((1L, Some(5.0)), (2L, Some(0.0)), (3L, Some(-1.0)), (4L, None),
      (5L, Some(0.1))).toDF("id", "w")
    val got = Curation.sampleNWeightedGlobal(df, "id", "w", n = 10)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 5L))
    intercept[IllegalArgumentException](
      Curation.sampleNWeightedGlobal(df, "id", "w", n = 0))
  }

  test("distinctiveTerms: rare-across frequent-within integer ranking") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a", "alpha alpha alpha shared shared"),
      (2L, "a", "alpha shared"),
      (3L, "b", "beta shared shared"),
      (4L, "b", "beta beta gamma shared"))
      .toDF("doc_id", "source", "text")
    val got = Curation.distinctiveTerms(docs, topK = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .sortBy(t => (t._1, t._5))
    // source a: alpha (df 1, tf 4) rank 1; shared (df 2) only other term
    // source b: beta (df 1, tf 3), gamma (df 1, tf 1) both unique -> tf desc
    assert(got.toSeq == Seq(
      ("a", "alpha", 4L, 1L, 1L), ("a", "shared", 3L, 2L, 2L),
      ("b", "beta", 3L, 1L, 1L), ("b", "gamma", 1L, 1L, 2L)))
  }

  test("corpusOverlap: exact set algebra below the sketch threshold") {
    import spark.implicits._
    val a = (1L to 300L).map(i => s"key$i").toDF("fp")
    val b = (201L to 500L).map(i => s"key$i").toDF("fp")
    val r = Curation.corpusOverlap(a, b, "fp", lgk = 12).first()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == (300L, 300L, 100L, 200L, 200L, 500L))
    // disjoint and identical corners
    val d = Curation.corpusOverlap(a, a.withColumn("fp", concat(lit("x"), $"fp")),
      "fp", lgk = 12).first()
    assert(d.getLong(2) == 0L && d.getLong(5) == 600L)
    val i = Curation.corpusOverlap(a, a, "fp", lgk = 12).first()
    assert(i.getLong(2) == 300L && i.getLong(3) == 0L && i.getLong(5) == 300L)
    intercept[IllegalArgumentException](Curation.corpusOverlap(a, b, "fp", lgk = 2))
  }

  test("sketchProfiles merge: union of shard sketches == sketch of the union") {
    import spark.implicits._
    val docs = (1L to 900L).map(i => (i, s"shard${i % 3}", s"text${i % 77}"))
      .toDF("doc_id", "source", "text")
    val shards = Curation.sketchProfiles(docs, Seq("source"), Seq("text"))
    assert(shards.count() == 3)
    val merged = Curation.mergeSketchProfiles(shards, Seq("text")).first()
    val whole = Curation.sketchProfiles(docs, Nil, Seq("text"))
    val wholeEst = whole.select(hll_sketch_estimate(col("text_sketch"))).first().getLong(0)
    assert(merged.getLong(0) == 900L)
    // merge exactness: identical estimate, not merely close
    assert(merged.getLong(1) == wholeEst)
    // 77 distinct values: HLL at lgK 12 is exact-ish at this cardinality
    assert(math.abs(merged.getLong(1) - 77L) <= 2L)
  }

  test("populationStability: identical distributions -> every psi_term 0") {
    import spark.implicits._
    val df = (1L to 1000L).map(i => (i, i % 100)).toDF("id", "v")
    val rows = Curation.populationStability(df, df, "v", bins = 10)
      .orderBy("bin").collect()
    assert(rows.length == 10)
    assert(rows.forall(r => r.getAs[Double]("psi_term") == 0.0))
    assert(rows.map(_.getAs[Long]("n_ref")).sum == 1000L)
    // p columns sum to 1 (smoothing preserves normalization)
    assert(math.abs(rows.map(_.getAs[Double]("p_ref")).sum - 1.0) < 1e-12)
  }

  test("populationStability: a shifted batch drifts; empty bins survive ln") {
    import spark.implicits._
    val ref = (1L to 1000L).map(i => (i, i % 100)).toDF("id", "v")
    val cur = (1L to 300L).map(i => (i, 200 + i % 10)).toDF("id", "v") // all past ref max
    val rows = Curation.populationStability(ref, cur, "v", bins = 5)
      .orderBy("bin").collect()
    assert(rows.length == 5)
    // every cur value lands in the top bin; lower bins are empty on the
    // cur side yet keep finite terms
    assert(rows.last.getAs[Long]("n_cur") == 300L)
    assert(rows.forall(r => !r.getAs[Double]("psi_term").isNaN
      && !r.getAs[Double]("psi_term").isInfinite))
    val psi = rows.map(_.getAs[Double]("psi_term")).sum
    assert(psi > 0.25, s"expected strong drift, got $psi")
  }

  test("populationStability: nulls count on neither side; approx path close to exact") {
    import spark.implicits._
    val ref = ((1L to 500L).map(i => (i, Some(i % 50))) :+ (0L, None))
      .toDF("id", "v")
    val exact = Curation.populationStability(ref, ref, "v", bins = 4)
      .orderBy("bin").collect()
    assert(exact.map(_.getAs[Long]("n_ref")).sum == 500L)
    val approx = Curation.populationStability(ref, ref, "v", bins = 4, approx = true)
      .orderBy("bin").collect()
    assert(approx.length == 4)
    assert(approx.forall(r => r.getAs[Double]("psi_term") == 0.0))
    intercept[IllegalArgumentException](
      Curation.populationStability(ref, ref, "v", bins = 1))
  }

  test("robustScale: hand-computed median/IQR, zero-IQR, nulls preserved") {
    import spark.implicits._
    // group a: values 1..5 -> med 3, q1 2, q3 4, IQR 2
    val rows = Seq(("a", Some(1L)), ("a", Some(2L)), ("a", Some(3L)),
      ("a", Some(4L)), ("a", Some(5L)),
      // group b: constant -> IQR 0 -> scaled 0
      ("b", Some(7L)), ("b", Some(7L)),
      // null value passes through null; null GROUP still gets its stats
      ("a", None), (null, Some(9L)), (null, Some(11L)))
      .toDF("g", "v")
    val out = Curation.robustScale(rows, "v", groupCols = Seq("g"), exact = true)
    val a = out.filter(col("g") === "a" && col("v").isNotNull)
      .orderBy("v").collect().map(_.getAs[Double]("scaled")).toSeq
    assert(a == Seq(-1.0, -0.5, 0.0, 0.5, 1.0))
    assert(out.filter(col("g") === "b").collect()
      .forall(_.getAs[Double]("scaled") == 0.0))
    val nullV = out.filter(col("g") === "a" && col("v").isNull).collect()
    assert(nullV.length == 1 && nullV(0).isNullAt(nullV(0).fieldIndex("scaled")))
    // null-group rows are NOT dropped and scale against their own stats:
    // med 10, IQR 1 -> -1 and +1... quartiles of {9,11}: q1 9.5, med 10, q3 10.5
    val ng = out.filter(col("g").isNull).orderBy("v").collect()
      .map(_.getAs[Double]("scaled")).toSeq
    assert(ng == Seq(-1.0, 1.0))
    assert(out.count() == rows.count())
  }

  test("curriculumOrder: bands ascend with position, within-band salted order") {
    import spark.implicits._
    val docs = (1L to 80L).map(i => (i, i)).toDF("id", "difficulty")
    val out = Curation.curriculumOrder(docs, "difficulty", "id", bands = 4,
      exact = true).collect()
      .map(r => (r.getAs[Long]("pos"), r.getAs[Long]("band"),
        r.getAs[Long]("id"))).sortBy(_._1)
    assert(out.length == 80)
    // positions are a permutation of 1..80 and bands are non-decreasing
    assert(out.map(_._1).toSeq == (1L to 80L))
    assert(out.map(_._2).toSeq == out.map(_._2).sorted.toSeq)
    // equal-depth quartile cuts of 1..80: bands of 20 each
    assert(out.map(_._2).groupBy(identity).view.mapValues(_.length).toMap ==
      Map(1L -> 20, 2L -> 20, 3L -> 20, 4L -> 20))
    // within band 1 (ids 1..20) the order is NOT the id order (salted md5)
    val band1Ids = out.filter(_._2 == 1L).map(_._3).toSeq
    assert(band1Ids.toSet == (1L to 20L).toSet && band1Ids != (1L to 20L))
  }

  test("curriculumOrder: partition-invariant and salt-independent") {
    import spark.implicits._
    val docs = (1L to 60L).map(i => (i, i % 7)).toDF("id", "difficulty")
    def posMap(df: org.apache.spark.sql.DataFrame, salt: String) =
      Curation.curriculumOrder(df, "difficulty", "id", salt = salt,
        exact = true).collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Long]("pos")).toMap
    val p1 = posMap(docs.repartition(1), "s1")
    val p8 = posMap(docs.repartition(8), "s1")
    assert(p1 == p8)
    val p2 = posMap(docs, "s2")
    assert(p1 != p2) // different salt -> different within-band order
    intercept[IllegalArgumentException] {
      Curation.curriculumOrder(docs, "difficulty", "id", bands = 1)
    }
  }

  test("vocabCoverage: frequency-ranked exact cumulative coverage") {
    import spark.implicits._
    val docs = Seq("a a a b b c", "a b x").toDF("text")
    val out = Curation.vocabCoverage(docs, topK = 3).collect()
      .map(r => (r.getAs[Long]("rnk"), r.getAs[String]("term"),
        r.getAs[Long]("freq"), r.getAs[Long]("cum_freq"),
        r.getAs[Long]("total"))).sortBy(_._1).toSeq
    // freqs: a=4, b=3, c=1, x=1; total 9; ties break term-ascending
    assert(out == Seq((1L, "a", 4L, 4L, 9L), (2L, "b", 3L, 7L, 9L),
      (3L, "c", 1L, 8L, 9L)))
    // topK larger than the vocab keeps everything
    assert(Curation.vocabCoverage(docs, topK = 100).count() == 4)
  }

  test("exactQuantilesDistributed: bit-identical to the percentile aggregate") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // heavy ties + nulls + a skewed tail, grouped and global
    val rows = (1 to 400).map { i =>
      val g = if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else null
      val v: Option[Long] =
        if (i % 29 == 0) None else Some((rnd.nextInt(12) * rnd.nextInt(12)).toLong)
      (g, v)
    }
    val df = rows.toDF("g", "v")
    val probs = Seq(0.0, 0.25, 0.5, 0.61, 0.75, 0.99, 1.0)
    // grouped: compare against percentile() per group (null group included)
    val got = Curation.exactQuantilesDistributed(df, "v", probs, Seq("g"))
      .collect().map(r => (Option(r.getAs[String]("g")),
        r.getAs[Double]("prob"), r.getAs[Double]("value"))).toSet
    val aggExprs = probs.map(p =>
      percentile(col("v").cast("double"), lit(p)).as(s"p$p"))
    val want = df.groupBy("g")
      .agg(aggExprs.head, aggExprs.tail: _*)
      .collect().flatMap(r => probs.zipWithIndex.map { case (p, i) =>
        (Option(r.getAs[String]("g")), p, r.getDouble(i + 1)) }).toSet
    assert(got == want)
    // global: same contract through the two-phase prefix machinery
    val gotG = Curation.exactQuantilesDistributed(df, "v", probs)
      .collect().map(r => (r.getAs[Double]("prob"), r.getAs[Double]("value"))).toSet
    val wantG = df.agg(aggExprs.head, aggExprs.tail: _*)
      .collect().flatMap(r => probs.zipWithIndex.map { case (p, i) =>
        (p, r.getDouble(i)) }).toSet
    assert(gotG == wantG)
    // partition invariance
    val got8 = Curation.exactQuantilesDistributed(df.repartition(8), "v", probs,
      Seq("g")).collect().map(r => (Option(r.getAs[String]("g")),
        r.getAs[Double]("prob"), r.getAs[Double]("value"))).toSet
    assert(got8 == want)
  }

  test("packingStats: per-sequence doc and token totals match the assignment") {
    import spark.implicits._
    // tokens: 5,5,5,5 with budget 8 -> seqs: [d1,d2)(cum 0,5), d2 starts at 5
    // seq = (cum - t) div 8: d1->0, d2->0, d3->1, d4->1
    val docs = Seq((1L, "a a a a a"), (2L, "b b b b b"),
      (3L, "c c c c c"), (4L, "d d d d d")).toDF("doc_id", "text")
    val out = Curation.packingStats(docs,
      graft.functions.TextFunctions.tokenCount(col("text")),
      Seq(col("doc_id")), 8L)
      .collect().map(r => (r.getAs[Long]("seq_id"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_tokens"))).sortBy(_._1).toSeq
    assert(out == Seq((0L, 2L, 10L), (1L, 2L, 10L)))
  }

  test("collocations: PMI ratio ranks always-together pairs above chance pairs") {
    import spark.implicits._
    // 'aa bb' always co-occur (4/4 docs); 'cc' floats independently
    val docs = Seq(
      (1L, "aa bb cc x1"), (2L, "aa bb x2 x3"), (3L, "aa bb cc x4"),
      (4L, "aa bb x5 x6"), (5L, "cc x7 zz qq"), (6L, "cc x8 zz qq"))
      .toDF("doc_id", "text")
    val out = Curation.collocations(docs, minPairCount = 2, topK = 10)
      .collect().map(r => (r.getAs[String]("x"), r.getAs[String]("y"),
        r.getAs[Long]("c_xy"), r.getAs[Long]("c_x"), r.getAs[Long]("c_y"),
        r.getAs[Double]("ratio")))
    // (aa, bb): c_xy=4, c_x=c_y=4, N=6 -> ratio 24/16 = 1.5
    val ab = out.find(t => t._1 == "aa" && t._2 == "bb").get
    assert(ab._3 == 4 && ab._6 == 1.5)
    // (aa, cc): 2 * 6 / (4 * 4) = 0.75 — below the perfect pair
    val ac = out.find(t => t._1 == "aa" && t._2 == "cc").get
    assert(ac._6 == 0.75)
    assert(out.head._6 >= out.last._6) // ratio-descending
    // zz/qq: perfect 2-doc pair -> 2*6/(2*2) = 3.0 tops the list
    assert(out.head._1 == "qq" && out.head._2 == "zz" && out.head._6 == 3.0)
    // pairs under minPairCount vanish
    assert(!out.exists(t => t._1 == "x1" || t._2 == "x1"))
  }

  test("collocations: maxDocTerms cap excludes the pathological doc") {
    import spark.implicits._
    val wide = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, "aa bb"), (2L, "aa bb"), (3L, wide)).toDF("doc_id", "text")
    val out = Curation.collocations(docs, minPairCount = 2, maxDocTerms = 10,
      topK = 10).collect()
    // the 40-term doc is excluded: N=2, only (aa, bb) survives
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[String]("x") == "aa" && r.getAs[Long]("c_x") == 2 &&
      r.getAs[Double]("ratio") == 1.0)
  }

  test("medianAbsDeviation: exact MAD per group and globally, nulls ignored") {
    import spark.implicits._
    // group a: {1,2,3,4,100} -> med 3, |dev| {2,1,0,1,97} -> MAD 1 (robust
    // to the 100 outlier where stddev is not)
    val df = Seq(("a", Some(1L)), ("a", Some(2L)), ("a", Some(3L)),
      ("a", Some(4L)), ("a", Some(100L)), ("a", None),
      ("b", Some(5L)), ("b", Some(9L))).toDF("g", "v")
    val out = Curation.medianAbsDeviation(df, "v", Seq("g")).collect()
      .map(r => r.getAs[String]("g") -> r.getAs[Double]("mad")).toMap
    assert(out("a") == 1.0)
    assert(out("b") == 2.0) // med 7, devs {2,2} -> 2
    // global: {1,2,3,4,5,9,100} -> med 4, devs sorted {0,1,1,2,3,5,96}
    // -> MAD 2
    val g = Curation.medianAbsDeviation(df, "v").collect()
    assert(g.length == 1 && g(0).getAs[Double]("mad") == 2.0)
  }

  test("percentileRankAgainst: searchsorted semantics incl. ties and nulls") {
    import spark.implicits._
    val ref = Seq(10L, 20L, 20L, 30L, 40L).map(Tuple1(_)).toDF("v")
    val q = Seq((1L, Some(5L)), (2L, Some(20L)), (3L, Some(25L)),
      (4L, Some(40L)), (5L, Some(99L)), (6L, None)).toDF("id", "v")
    val out = Curation.percentileRankAgainst(q, ref, "v", "id")
      .collect().map(r => r.getAs[Long]("id") ->
        (if (r.isNullAt(r.fieldIndex("n_le"))) -1L else r.getAs[Long]("n_le")))
      .toMap
    // <= semantics: 20 counts BOTH ref 20s; below-min -> 0; above-max -> all
    assert(out == Map(1L -> 0L, 2L -> 3L, 3L -> 3L, 4L -> 5L, 5L -> 5L, 6L -> -1L))
    // partition invariance through the two-phase machinery
    val out8 = Curation.percentileRankAgainst(q.repartition(8),
      ref.repartition(3), "v", "id").collect()
      .map(r => r.getAs[Long]("id") ->
        (if (r.isNullAt(r.fieldIndex("n_le"))) -1L else r.getAs[Long]("n_le")))
      .toMap
    assert(out8 == out)
  }

  test("skyline: dominance filter keeps the Pareto frontier, ties survive") {
    import spark.implicits._
    val pts = Seq(
      (1L, 5L, 1L), (2L, 4L, 2L), (3L, 3L, 3L), // frontier
      (4L, 3L, 2L), (5L, 1L, 1L),               // dominated
      (6L, 3L, 3L),                             // tie of 3: both survive
      (7L, 5L, 1L))                             // tie of 1: both survive
      .toDF("id", "x", "y")
    val out = Curation.skyline(pts, Seq("x", "y"))
      .collect().map(_.getAs[Long]("id")).sorted.toSeq
    assert(out == Seq(1L, 2L, 3L, 6L, 7L))
    // partition invariance of the two-phase filter
    val out8 = Curation.skyline(pts.repartition(8), Seq("x", "y"))
      .collect().map(_.getAs[Long]("id")).sorted.toSeq
    assert(out8 == out)
    // null criteria rows are excluded
    val withNull = pts.unionByName(Seq((9L, Option.empty[Long], Option(9L)))
      .toDF("id", "x", "y"))
    assert(!Curation.skyline(withNull, Seq("x", "y"))
      .collect().map(_.getAs[Long]("id")).contains(9L))
    // candidate cap fails loudly, not OOM
    intercept[org.apache.spark.SparkException] {
      Curation.skyline(pts, Seq("x", "y"), maxCandidates = 1).collect()
    }
  }

  test("quantileNormalizeAgainst: maps the batch distribution onto the reference") {
    import spark.implicits._
    val ref = Seq(10L, 20L, 30L, 40L, 50L).map(Tuple1(_)).toDF("v")
    // batch {1,2,3}: p = 0, 0.5, 1 -> mapped 10, 30, 50
    val q = Seq((1L, Some(1L)), (2L, Some(2L)), (3L, Some(3L)),
      (4L, None)).toDF("id", "v")
    val out = Curation.quantileNormalizeAgainst(q, ref, "v", "id")
      .collect().map(r => r.getAs[Long]("id") ->
        (if (r.isNullAt(r.fieldIndex("mapped"))) -1.0 else r.getAs[Double]("mapped")))
      .toMap
    assert(out == Map(1L -> 10.0, 2L -> 30.0, 3L -> 50.0, 4L -> -1.0))
    // interpolation: batch of 2 over a ref of 4 -> p=0,1 -> min,max; batch
    // of 5 hits quarters: p=0.25 with m=4 -> pos 0.75 -> 0.25*r1 + 0.75*r2
    val ref4 = Seq(0L, 100L, 200L, 300L).map(Tuple1(_)).toDF("v")
    val q5 = (1L to 5L).map(i => (i, i)).toDF("id", "v")
    val out5 = Curation.quantileNormalizeAgainst(q5, ref4, "v", "id")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("mapped")).toMap
    assert(out5 == Map(1L -> 0.0, 2L -> 75.0, 3L -> 150.0, 4L -> 225.0,
      5L -> 300.0))
    // single-row batch maps to the reference minimum (p = 0)
    val one = Curation.quantileNormalizeAgainst(
      Seq((9L, 7L)).toDF("id", "v"), ref, "v", "id").collect()
    assert(one.length == 1 && one(0).getAs[Double]("mapped") == 10.0)
    // partition invariance
    val outR = Curation.quantileNormalizeAgainst(q5.repartition(7),
      ref4.repartition(3), "v", "id")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("mapped")).toMap
    assert(outR == out5)
  }

  test("quantileNormalizeAgainst per group: each group calibrates independently") {
    import spark.implicits._
    val ref = Seq(0L, 100L).map(Tuple1(_)).toDF("v")
    // group a: {1,2,3} -> p 0,.5,1 -> 0,50,100; group b: {10,20} -> 0,100
    val q = Seq(("a", 1L, 1L), ("a", 2L, 2L), ("a", 3L, 3L),
      ("b", 4L, 10L), ("b", 5L, 20L)).toDF("g", "id", "v")
    val out = Curation.quantileNormalizeAgainst(q, ref, "v", "id", Seq("g"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("mapped")).toMap
    assert(out == Map(1L -> 0.0, 2L -> 50.0, 3L -> 100.0, 4L -> 0.0, 5L -> 100.0))
    // group column survives in the output; partition invariance
    val out8 = Curation.quantileNormalizeAgainst(q.repartition(5), ref, "v",
      "id", Seq("g")).collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("id"),
        r.getAs[Double]("mapped"))).toSet
    assert(out8.map(t => t._2 -> t._3).toMap == out)
    assert(out8.map(_._1) == Set("a", "b"))
  }

  test("purgedTimeSplit: exact boundaries, embargo band labeled not dropped") {
    import spark.implicits._
    val testStart = 1706054400000000L // 2024-01-24T00:00:00Z
    val embargo = 172800000000L       // 48 h
    def t(us: Long) = new java.sql.Timestamp(us / 1000L)
    val df = Seq(
      (1L, t(testStart)),               // exactly at the boundary -> test
      (2L, t(testStart - 1L)),          // 1 us before -> purged
      (3L, t(testStart - embargo)),     // exactly at embargo start -> purged
      (4L, t(testStart - embargo - 1L)),// 1 us earlier -> train
      (5L, t(testStart + 999L)),        // after -> test
      (6L, null.asInstanceOf[java.sql.Timestamp])) // null ts -> null label
      .toDF("id", "ts")
    val out = Curation.purgedTimeSplit(df, "ts", testStart, embargo)
      .collect().map(r => r.getAs[Long]("id") ->
        Option(r.getAs[String]("split"))).toMap
    assert(out == Map(1L -> Some("test"), 2L -> Some("purged"),
      3L -> Some("purged"), 4L -> Some("train"), 5L -> Some("test"),
      6L -> None))
    // row-preserving: every input row appears exactly once
    assert(Curation.purgedTimeSplit(df, "ts", testStart, embargo).count() == 6)
    // zero embargo degenerates to a plain temporal split
    val noEmb = Curation.purgedTimeSplit(df, "ts", testStart, 0L)
      .filter("split = 'purged'").count()
    assert(noEmb == 0)
  }

  test("heavyHitters: sketch-pruned path equals exact path equals reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // zipfian-ish: token i appears ~ 400/i times
    val toks = (1 to 40).flatMap(i => Seq.fill(400 / i)(s"tok$i"))
    val docs = rnd.shuffle(toks).grouped(25)
      .map(_.mkString(" ")).toSeq.toDF("text").repartition(6)
    val ref = toks.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= 40L).toMap
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // tiny counter budget -> MG pruned path (threshold 40 > N/16)
    assert(asMap(Curation.heavyHitters(docs, minCount = 40L, counters = 16)) == ref)
    // huge counter budget -> guarantee holds trivially, same answer
    assert(asMap(Curation.heavyHitters(docs, minCount = 40L, counters = 100000)) == ref)
    // threshold below N/counters -> exact fallback path, same contract
    val n = toks.size.toLong
    val lowCut = n / 16 // <= N/counters for counters=16
    val refLow = toks.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= math.max(1L, lowCut)).toMap
    assert(asMap(Curation.heavyHitters(docs, minCount = math.max(1L, lowCut),
      counters = 16)) == refLow)
  }

  test("mgSketch: driver-side candidate volume is partition-count-independent") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val toks = (1 to 60).flatMap(i => Seq.fill(300 / i)(s"tok$i"))
    def sketchAt(parts: Int) = {
      val tokDf = rnd.shuffle(toks).toDF("token").repartition(parts)
      Curation.mgSketch(tokDf, counters = 16)
    }
    val at2 = sketchAt(2)
    val at32 = sketchAt(32)
    // the tree-merge folds per-partition summaries into ONE <= counters-entry
    // map: the driver never sees partitions x counters candidates
    assert(at2._2.size <= 16 && at32._2.size <= 16)
    // exact global token count survives the merge at any partition count
    assert(at2._1 == toks.size.toLong && at32._1 == toks.size.toLong)
    // the mergeable-summaries superset guarantee: every token with global
    // count > N/(counters+1) is present at any partition count
    val ref = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cut = toks.size.toLong / 17
    ref.filter(_._2 > cut).keys.foreach { t =>
      assert(at2._2.contains(t), s"$t missing at 2 partitions")
      assert(at32._2.contains(t), s"$t missing at 32 partitions")
    }
    // and the operator built on it returns identical rows either way
    val docs2 = rnd.shuffle(toks).grouped(20).map(_.mkString(" ")).toSeq
      .toDF("text").repartition(2)
    val docs32 = rnd.shuffle(toks).grouped(20).map(_.mkString(" ")).toSeq
      .toDF("text").repartition(32)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(asMap(Curation.heavyHitters(docs2, minCount = 60L, counters = 16)) ==
      asMap(Curation.heavyHitters(docs32, minCount = 60L, counters = 16)))
  }

  test("heavyHittersByFraction: threshold derives from the exact stream count") {
    import spark.implicits._
    val docs = (Seq.fill(60)("a") ++ Seq.fill(30)("b") ++ (1 to 10).map(i => s"r$i"))
      .grouped(10).map(_.mkString(" ")).toSeq.toDF("text")
    // N = 100, frac 1/4 -> cut 25: only a (60) and b (30) survive
    val out = Curation.heavyHittersByFraction(docs, 1L, 4L, counters = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a" -> 60L, "b" -> 30L))
  }

  test("kneserNeyStats: exact integer moments on a hand corpus") {
    import spark.implicits._
    // "a b a b c": bigrams = (a b) x2, (b a), (b c)
    val d = Seq((1L, "a b a b c")).toDF("doc_id", "text")
    val got = Curation.kneserNeyStats(d, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    assert(got == Map(
      ("a", "b") -> ((2L, 2L, 1L, 1L, 3L)),
      ("b", "a") -> ((1L, 2L, 2L, 1L, 3L)),
      ("b", "c") -> ((1L, 2L, 2L, 1L, 3L))))
    // the stats ARE a normalized model: for any discount D, interpolated
    // KN over the full vocab sums to exactly 1 per context. Context "b"
    // with D = 0.75 (all terms dyadic, so the doubles are exact):
    //   P(a|b) = max(1-.75,0)/2 + .75*(2/2)*(1/3) = 0.375
    //   P(c|b) = 0.375, P(b|b) = 0 + .75*(2/2)*(1/3) = 0.25
    val D = 0.75
    val (cpreB, n1fwdB, types) = (2L, 2L, 3L)
    def pKn(c2: Long, n1back: Long): Double =
      math.max(c2 - D, 0.0) / cpreB +
        D * n1fwdB / cpreB * (n1back.toDouble / types)
    val vocabP = pKn(1L, 1L) + pKn(1L, 1L) + pKn(0L, 1L) // a, c, unseen b
    assert(vocabP == 1.0)
  }

  test("perplexityScore/Filter: hand-LM fixed-point logprobs, unseen " +
      "fallback, bigram-less docs, empty-reference fail-fast") {
    import spark.implicits._
    // corpus: doc1 "a b a b" -> (a b)x2 (b a)x1; doc2 "b c"; doc3 "x"
    // model (same corpus): c2 (a,b)=2 (b,a)=1 (b,c)=1; cpre a=2 b=2;
    // n1fwd a=1 b=2; n1back a=1 b=1 c=1; n_types=3; D=0.75 (dyadic):
    //   P(b|a) = 1.25/2 + (.75*1/2)*(1/3) = 0.75
    //   P(a|b) = 0.25/2 + (.75*2/2)*(1/3) = 0.375 = P(c|b)
    val d = Seq((1L, "a b a b"), (2L, "b c"), (3L, "x"))
      .toDF("doc_id", "text")
    val lpAB = math.round(math.log(0.75) * 1e6)   // -287682
    val lpBA = math.round(math.log(0.375) * 1e6)  // -980829
    assert(lpAB == -287682L && lpBA == -980829L)
    val got = Curation.perplexityScore(d, d)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      1L -> ((3L, 2 * lpAB + lpBA)),
      2L -> ((1L, lpBA)),
      3L -> ((0L, 0L)))) // single token: no bigrams, no evidence
    // cross-corpus: model from doc1 only; doc2's one bigram (b,c) is
    // unseen -> the uniform fallback ln(1/n_types), n_types = 2
    val lpUnseen = math.round(math.log(1.0 / 2) * 1e6)
    val cross = Curation.perplexityScore(d, d.filter($"doc_id" === 1L))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(cross(2L) == lpUnseen)
    // doc1 under its own model: P(b|a) = 1.25/2 + (.75*1/2)*(1/2) =
    // 0.8125; P(a|b) = 0.25/1 + (.75*1/1)*(1/2) = 0.625 (context b has
    // ONE bigram in doc1: cpre = n1fwd = 1)
    assert(cross(1L) ==
      2 * math.round(math.log(0.8125) * 1e6) + math.round(math.log(0.625) * 1e6))
    assert(cross(3L) == 0L)
    // filter: mean-lp threshold splits doc1 (mean -518731) from doc2
    // (-980829); doc3 keeps vacuously (0 >= 0)
    val kept = Curation.perplexityFilter(d, d, minMeanLpMicros = -600000L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(kept == Map(1L -> true, 2L -> false, 3L -> true))
    // reference with no bigrams: fails loudly in-plan, not silent zeros
    val e = intercept[Exception] {
      Curation.perplexityScore(d, d.filter($"doc_id" === 3L)).collect()
    }
    assert(e.getMessage.contains("no bigrams"))
  }

  test("benfordProfile: first digit from the decimal rendering (sub-1 " +
      "values included), zeros/nulls excluded, exact micro shares") {
    import spark.implicits._
    val df = Seq[Option[Double]](Some(123.45), Some(0.0052), Some(900.0),
      Some(0.0), None, Some(1999.99)).toDF("v")
    val got = Curation.benfordProfile(df, "v")
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // digits: 1 (123.45, 1999.99), 5 (0.0052 — the sub-1 case the
    // log10-floor formulation would misroute), 9 (900.0); total 4
    assert(got == Map(
      1 -> ((2L, 500000L, math.round(math.log10(2.0) * 1000000.0))),
      5 -> ((1L, 250000L, math.round(math.log10(1.2) * 1000000.0))),
      9 -> ((1L, 250000L, math.round(math.log10(10.0 / 9.0) * 1000000.0)))))
  }

  test("benfordProfile2/Second: first-two digits across the decimal point, " +
      "single-significant-digit values excluded, joint + marginal laws") {
    import spark.implicits._
    def exp2(n: Int) = math.round(math.log10(1.0 + 1.0 / n) * 1000000.0)
    // 9.5 -> 95 (digits straddle the point); 0.0052 -> 52 (sub-1);
    // 900.0 and 9.0 -> 90 (rendering zeros extend the digit string);
    // 0.04 -> digits "004", no [1-9][0-9] match -> excluded, like 0/null
    val df = Seq[Option[Double]](Some(9.5), Some(0.0052), Some(900.0),
      Some(9.0), Some(0.04), Some(0.0), None, Some(1234.5)).toDF("v")
    val two = Curation.benfordProfile2(df, "v")
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(two == Map(
      95 -> ((1L, 200000L, exp2(95))),
      52 -> ((1L, 200000L, exp2(52))),
      90 -> ((2L, 400000L, exp2(90))),
      12 -> ((1L, 200000L, exp2(12)))))
    val second = Curation.benfordProfileSecond(df, "v")
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val expS = Curation.benfordExpSecondMicros.toMap
    assert(second == Map(
      5 -> ((1L, 200000L, expS(5))),
      2 -> ((2L, 400000L, expS(2))),
      0 -> ((2L, 400000L, expS(0)))))
    // the marginal literals really are the summed joint law
    assert(expS(0) == math.round((1 to 9)
      .map(k => math.log10(1.0 + 1.0 / (10 * k))).sum * 1000000.0))
  }

  test("perplexityScore3: trigram KN cascade by hand — all four backoff " +
      "branches, exact fixed-point sums, short docs, fail-fast") {
    import spark.implicits._
    // reference trigram census: (a b c):2, (a b d):1, (x y z):1
    val ref = Seq((100L, "a b c"), (101L, "a b c"), (102L, "a b d"),
      (103L, "x y z")).toDF("doc_id", "text")
    // model moments: c12(a,b)=3 n12=2; t2(b,c)=1 (b,d)=1 (y,z)=1;
    // c2(b): b2=2 m2=2; u1: c/d/z = 1 each; U=3; D=0.75
    val D = 0.75
    def p1(u3: Option[Long]) = u3.getOrElse(1L).toDouble / 3.0
    def lam2 = (D * 2.0) / 2.0
    def p2(b23: Option[Long], u3: Option[Long]) = b23 match {
      case Some(b) => math.max(b.toDouble - D, 0.0) / 2.0 + lam2 * p1(u3)
      case None => lam2 * p1(u3)
    }
    def lam3 = (D * 2.0) / 3.0
    def q(p: Double): Long = math.round(math.log(p) * 1000000.0)
    val docs = Seq(
      (1L, "a b c"),  // branch 1: observed trigram
      (2L, "a b e"),  // branch 2: context known, trigram + (b,e) unseen
      (3L, "q b c"),  // branch 3: context unknown, (b,c) continuation known
      (4L, "q q q"),  // branch 4: q never a middle word -> P1 fallback
      (5L, "a b"))    // too short: (0, 0)
    .toDF("doc_id", "text")
    val got = Curation.perplexityScore3(docs, ref)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val e1 = q(math.max(2.0 - D, 0.0) / 3.0 + lam3 * p2(Some(1L), Some(1L)))
    val e2 = q(lam3 * p2(None, None))
    val e3 = q(p2(Some(1L), Some(1L)))
    val e4 = q(p1(None))
    assert(got == Map(1L -> ((1L, e1)), 2L -> ((1L, e2)), 3L -> ((1L, e3)),
      4L -> ((1L, e4)), 5L -> ((0L, 0L))))
    // KN telescoping: over the CONTINUATION vocab {w3 : u3 > 0} = {c,d,z}
    // the interpolated distribution sums to exactly 1 per context —
    // P1 sums to 1 there, so every level's discount mass telescopes
    // (the uniform 1/U fallback for non-continuation words is EXTRA mass
    // by design, like the bigram scorer's unseen fallback)
    val pC = math.max(2.0 - D, 0.0) / 3.0 + lam3 * p2(Some(1L), Some(1L))
    val pD = math.max(1.0 - D, 0.0) / 3.0 + lam3 * p2(Some(1L), Some(1L))
    val pZ = lam3 * p2(None, Some(1L)) // (a,b,z) unseen, (b,z) unseen
    assert(math.abs((pC + pD + pZ) - 1.0) < 1e-12)
    // a reference with no trigrams has no model: in-plan fail-fast
    val e = intercept[Exception] {
      Curation.perplexityScore3(docs, ref.filter($"doc_id" === 999L)).collect()
    }
    assert(e.getMessage.contains("no trigrams"))
  }

  test("spanCorrupt: input+target reconstruct the original text exactly; " +
      "sentinels dense and terminal; density near spanLen/startEvery") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val docs = (1L to 30L).map(i =>
      (i, (1 to 80).map(_ => s"w${rnd.nextInt(50)}").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Curation.spanCorrupt(docs, startEvery = 5, spanLen = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.length == 30)
    val original = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val sentinelRe = "<extra_id_(\\d+)>".r
    out.foreach { case (id, input, target, nMasked) =>
      // parse target into sentinel -> hidden tokens
      val tks = target.split(" ").filter(_.nonEmpty)
      val spans = scala.collection.mutable.Map[Int, Vector[String]]()
      var cur = -1
      tks.foreach {
        case sentinelRe(k) => cur = k.toInt; spans.getOrElseUpdate(cur, Vector())
        case tok => spans(cur) = spans(cur) :+ tok
      }
      if (nMasked > 0) {
        // terminal sentinel closes the target and hides nothing
        val maxK = spans.keys.max
        assert(spans(maxK).isEmpty)
        assert(spans.keys.toSeq.sorted == (0 to maxK)) // dense numbering
        assert(spans.values.map(_.size).sum == nMasked)
      } else assert(target == "")
      // splice the hidden spans back over the input's sentinels
      val rebuilt = input.split(" ").filter(_.nonEmpty).flatMap {
        case sentinelRe(k) => spans(k.toInt)
        case tok => Seq(tok)
      }.mkString(" ")
      assert(rebuilt == original(id), s"doc $id failed round-trip")
    }
    // density: expected ~3/5 = 60% at this aggressive setting; just check
    // masking actually happened and didn't swallow everything
    val frac = out.map(_._4).sum.toDouble / (30 * 80)
    assert(frac > 0.3 && frac < 0.9, s"mask fraction $frac out of range")
  }

  test("spanCorrupt: mask membership is ANSI-independent — identical " +
      "output with spark.sql.ansi.enabled on and off (the pmod operand " +
      "is cast to long BEFORE the mod, never string->double coerced)") {
    import spark.implicits._
    val docs = (1L to 20L).map(i =>
      (i, (1 to 40).map(j => s"t${(i * 7 + j) % 30}").mkString(" ")))
      .toDF("doc_id", "text")
    def run(): Map[Long, (String, String, Long)] =
      Curation.spanCorrupt(docs, startEvery = 4, spanLen = 2).collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getLong(3))))
        .toMap
    val ansiBefore = spark.conf.get("spark.sql.ansi.enabled")
    val withAnsi = run()
    try {
      spark.conf.set("spark.sql.ansi.enabled", "false")
      assert(run() == withAnsi,
        "spanCorrupt output changed under ansi.enabled=false")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansiBefore)
    assert(withAnsi.values.map(_._3).sum > 0)
  }

  test("balancedShards: snake allocation on a hand mass list — near-equal " +
      "shard masses, deterministic ties") {
    import spark.implicits._
    val d = Seq((1L, 10L), (2L, 9L), (3L, 8L), (4L, 7L), (5L, 6L), (6L, 5L))
      .toDF("doc_id", "m")
    val got = Curation.balancedShards(d, "m", nShards = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    // ranks 1..6 by mass desc; snake over 2 shards: 0,1,1,0,0,1
    assert(got == Map(1L -> ((1L, 0L)), 2L -> ((2L, 1L)), 3L -> ((3L, 1L)),
      4L -> ((4L, 0L)), 5L -> ((5L, 0L)), 6L -> ((6L, 1L))))
    // masses: shard0 = 10+7+6 = 23, shard1 = 9+8+5 = 22 — within one item
    val masses = Curation.balancedShards(d, "m", 2)
      .groupBy("shard").agg(sum("m").as("mass"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(masses == Map(0L -> 23L, 1L -> 22L))
    // a negative mass is a caller bug: the row fails loudly in-plan
    val e = intercept[Exception] {
      Curation.balancedShards(
        Seq((1L, -5L)).toDF("doc_id", "m"), "m", 2).collect()
    }
    assert(e.getMessage.contains("negative mass"))
  }

  test("dsirLogRatios/Filter: disjoint-vocab hand corpus — exact smoothed " +
      "log-ratios, featureless docs, threshold split") {
    import spark.implicits._
    // target (en) and source (de) use disjoint vocab: 2 docs x 4 'good
    // good' bigrams each side -> NT = NS = 8, one bucket per side with
    // (ct, cs) = (8, 0) / (0, 8); Laplace over 256 buckets
    val d = Seq(
      (1L, "good good good good good", "en"),
      (2L, "good good good good good", "en"),
      (3L, "bad bad bad bad bad", "de"),
      (4L, "bad bad bad bad bad", "de"),
      (5L, "solo", "en")).toDF("doc_id", "text", "lang")
    val lrGood = math.round(
      (math.log(9.0 / 264.0) - math.log(1.0 / 264.0)) * 1e6) // ln 9
    val lrBad = math.round(
      (math.log(1.0 / 264.0) - math.log(9.0 / 264.0)) * 1e6) // -ln 9
    val got = Curation.dsirLogRatios(d, col("lang") === "en")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      1L -> ((4L, 4 * lrGood)), 2L -> ((4L, 4 * lrGood)),
      3L -> ((4L, 4 * lrBad)), 4L -> ((4L, 4 * lrBad)),
      5L -> ((0L, 0L)))) // single token: no bigram features
    // the natural cut at 0: target-vocab docs keep, source-vocab drop,
    // featureless keeps vacuously
    val kept = Curation.dsirFilter(d, col("lang") === "en")
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(kept == Map(1L -> true, 2L -> true, 3L -> false, 4L -> false,
      5L -> true))
  }

  test("weightedQuantiles: mass-threshold cutoffs on a hand histogram; " +
      "zero-weight values never picked") {
    import spark.implicits._
    // mass: 10 x3, 20 x1, 30 x6 (total 10); 15 carries no weight
    val d = Seq((10, 3L), (20, 1L), (30, 6L), (15, 0L)).toDF("v", "w")
    def q(ps: Seq[Double]) = Curation.weightedQuantiles(d, "v", "w", ps)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    // thresholds: ceil(p*10) -> 10 covers cum<=3, 20 covers 4, 30 covers 5..10
    assert(q(Seq(0.0, 0.3, 0.31, 0.4, 0.5, 1.0)) ==
      Map(0.0 -> 10.0, 0.3 -> 10.0, 0.31 -> 20.0, 0.4 -> 20.0,
        0.5 -> 30.0, 1.0 -> 30.0))
    // grouped: each group gets its own CDF
    val g = Seq(("a", 1, 1L), ("a", 2, 1L), ("b", 5, 9L), ("b", 9, 1L))
      .toDF("grp", "v", "w")
    val got = Curation.weightedQuantiles(g, "v", "w", Seq(0.5), Seq("grp"))
      .collect().map(r => (r.getString(0), r.getDouble(2))).toMap
    assert(got == Map("a" -> 1.0, "b" -> 5.0))
  }

  test("countMinSketch: additive counters — partition-count invariant; " +
      "estimates exact when width beats the vocab, bounded always") {
    import spark.implicits._
    val keys = Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c")
    val df = keys.toDF("k")
    def m(sk: org.apache.spark.sql.DataFrame) = sk.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val wide = Curation.countMinSketch(df, "k", depth = 3, width = 1024)
    // merge = sum: the sketch is a pure function of the multiset
    assert(m(wide) == m(Curation.countMinSketch(df.repartition(7), "k", 3, 1024)))
    val est = Curation.countMinEstimate(wide,
        Seq("a", "b", "c").toDF("k"), "k", depth = 3, width = 1024)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est == Map("a" -> 5L, "b" -> 3L, "c" -> 1L)) // no collisions at 1024
    // width 1: total collision — every estimate is the stream length,
    // the CM overestimate bound at its worst
    val tiny = Curation.countMinSketch(df, "k", depth = 2, width = 1)
    val estT = Curation.countMinEstimate(tiny,
        Seq("a", "c").toDF("k"), "k", depth = 2, width = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(estT == Map("a" -> 9L, "c" -> 9L))
    // a NEVER-SEEN key whose buckets happen to be empty estimates 0: the
    // absent sketch row IS a zero counter (an inner join would silently
    // overestimate or drop the probe)
    val estU = Curation.countMinEstimate(wide,
        Seq("zzz_unseen").toDF("k"), "k", depth = 3, width = 1024)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(estU == Map("zzz_unseen" -> 0L))
  }

  test("weightedQuantiles: a negative weight fails the row loudly") {
    import spark.implicits._
    val d = Seq((1, 2L), (2, -1L)).toDF("v", "w")
    val e = intercept[Exception] {
      Curation.weightedQuantiles(d, "v", "w", Seq(0.5)).collect()
    }
    assert(e.getMessage.contains("negative weight"))
  }

  test("kneserNeyStats: deterministic (c2 desc, w1, w2) top-K cut") {
    import spark.implicits._
    val d = Seq((1L, "x y x y z w z w")).toDF("doc_id", "text")
    val got = Curation.kneserNeyStats(d, topK = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // (x y) and (z w) tie at c2=2: w1 breaks the tie, c2=1 rows cut
    assert(got.toSeq == Seq(("x", "y", 2L), ("z", "w", 2L)))
  }

  test("scoped census lifetime: re-registering a tag releases the previous " +
      "census; a repeated entry-point call leaves at most one cached") {
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    // registry mechanics: replace-on-reregister
    val p1 = graft.ops.Pins.scopedPersist("spec.census",
      Seq(1, 2).toDF("a").groupBy("a").count())
    assert(p1.storageLevel != StorageLevel.NONE)
    val p2 = graft.ops.Pins.scopedPersist("spec.census",
      Seq(3, 4).toDF("a").groupBy("a").count())
    assert(p1.storageLevel == StorageLevel.NONE,
      "superseded census must be unpersisted")
    assert(p2.storageLevel != StorageLevel.NONE)
    // same-plan re-registration must NOT evict (Spark's cache is keyed by
    // plan — unpersisting the old frame would drop the new one's entry too)
    val p3 = graft.ops.Pins.scopedPersist("spec.census",
      Seq(3, 4).toDF("a").groupBy("a").count())
    assert(p2.storageLevel != StorageLevel.NONE)
    assert(p3.storageLevel != StorageLevel.NONE)
    p3.unpersist(blocking = false)

    // entry-point balance: the previous knModel census must not survive a
    // NEW perplexityScore call against a different reference
    val docs = Seq((1L, "a b c a b"), (2L, "b c d b c")).toDF("doc_id", "text")
    Curation.perplexityScore(docs, docs.filter($"doc_id" === 1L)).count(): Unit
    val census1 = graft.ops.Pins.scopedEntry(spark, "curation.knModel").get
    assert(census1.storageLevel != StorageLevel.NONE)
    Curation.perplexityScore(docs, docs.filter($"doc_id" === 2L)).count(): Unit
    assert(census1.storageLevel == StorageLevel.NONE,
      "previous knModel census survived a new entry-point call")
    val census2 = graft.ops.Pins.scopedEntry(spark, "curation.knModel").get
    assert(census2.storageLevel != StorageLevel.NONE)
    census2.unpersist(blocking = false)

    // same balance for the dsir census
    Curation.dsirLogRatios(docs, $"doc_id" === 1L, buckets = 16).count(): Unit
    val d1 = graft.ops.Pins.scopedEntry(spark, "curation.dsir").get
    Curation.dsirLogRatios(docs, $"doc_id" === 2L, buckets = 16).count(): Unit
    assert(d1.storageLevel == StorageLevel.NONE,
      "previous dsir census survived a new entry-point call")
    graft.ops.Pins.scopedEntry(spark, "curation.dsir").get.unpersist(blocking = false)

    // and the trigram census
    Curation.perplexityScore3(docs, docs.filter($"doc_id" === 1L)).count(): Unit
    val t1 = graft.ops.Pins.scopedEntry(spark, "curation.trigramCensus").get
    Curation.perplexityScore3(docs, docs.filter($"doc_id" === 2L)).count(): Unit
    assert(t1.storageLevel == StorageLevel.NONE,
      "previous trigram census survived a new entry-point call")
    graft.ops.Pins.scopedEntry(spark, "curation.trigramCensus").get
      .unpersist(blocking = false)
  }

  test("zipfFit: equal-frequency vocabulary fits slope exactly 0, intercept = qln(freq)") {
    import spark.implicits._
    // 10 distinct single-shingle docs, each text repeated 7 times:
    // every shingle has frequency 7 -> y constant -> OLS slope exactly 0
    val docs = (for (i <- 0 until 10; r <- 0 until 7)
      yield (i * 7L + r, s"w${i}a w${i}b w${i}c")).toDF("doc_id", "text")
    val row = Curation.zipfFit(docs).collect().head
    assert(row.getAs[Long]("n") == 10L)
    assert(row.getAs[Double]("slope") == 0.0)
    // qln(7) = floor(ln 7 * 2^20 + 1/2)
    assert(row.getAs[Double]("intercept") == 2040435.0)
  }

  test("heapsFit: fully disjoint vocabulary fits slope exactly 1, intercept exactly 0") {
    import spark.implicits._
    // every doc contributes only new shingles and no within-doc repeats:
    // cumulative tokens == cumulative vocab at every doc -> y = x exactly
    val docs = (0 until 40).map(i =>
      (i.toLong, s"w${i}a w${i}b w${i}c w${i}d w${i}e")).toDF("doc_id", "text")
    val row = Curation.heapsFit(docs).collect().head
    assert(row.getAs[Long]("n") == 40L)
    assert(row.getAs[Double]("slope") == 1.0)
    assert(row.getAs[Double]("intercept") == 0.0)
  }

  test("ksStatistic: hand case exact; identical samples give D = 0; empty side fails fast") {
    import spark.implicits._
    // A = {1,2,3}, B = {2,3,4}: ECDF gap numerator max |cumA*3 - cumB*3| = 3
    val df = Seq((1.0, false), (2.0, false), (3.0, false),
      (2.0, true), (3.0, true), (4.0, true)).toDF("x", "b")
    val r = Curation.ksStatistic(df, "x", col("b")).collect().head
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 3L)
    assert(r.getAs[Long]("d_num") == 3L)
    assert(r.getAs[Double]("d") == 3.0 / 9.0)
    val same = Seq((1.0, false), (2.0, false), (1.0, true), (2.0, true)).toDF("x", "b")
    assert(Curation.ksStatistic(same, "x", col("b")).collect().head.getAs[Long]("d_num") == 0L)
    val err = intercept[Exception] {
      Curation.ksStatistic(df.filter(!col("b")), "x", col("b")).collect()
    }
    assert(err.getMessage.contains("sample B is empty"))
  }

  test("mannWhitneyU: doubled U matches the average-rank hand computation") {
    import spark.implicits._
    // combined sorted [1,2,2,3,3,4]; R_A = 1 + 2.5 + 4.5 = 8 -> 2U_A = 2*8 - 3*4 = 4
    val df = Seq((1.0, false), (2.0, false), (3.0, false),
      (2.0, true), (3.0, true), (4.0, true)).toDF("x", "b")
    val r = Curation.mannWhitneyU(df, "x", col("b")).collect().head
    assert(r.getAs[Long]("u2_a") == 4L)
    assert(r.getAs[Long]("u2_b") == 2L * 3L * 3L - 4L)
    // no ties, clear separation: A all below B -> U_A = 0, U_B = n_a*n_b
    val sep = Seq((1.0, false), (2.0, false), (10.0, true), (11.0, true)).toDF("x", "b")
    val r2 = Curation.mannWhitneyU(sep, "x", col("b")).collect().head
    assert(r2.getAs[Long]("u2_a") == 0L && r2.getAs[Long]("u2_b") == 8L)
  }

  test("chi2Drift: 2x2 hand case exact; identical mixes give 0; empty side fails fast") {
    import spark.implicits._
    // A: {x:3, y:1}, B: {x:1, y:3} -> classic 2x2: chi2 = N(ad-bc)^2 /
    // (r1 r2 c1 c2) = 8*64/256 = 2.0; per category D = 3*8-4*4 = +-8,
    // term = 64/(4*4*4) = 1.0 each; dof = 1
    val df = (Seq.fill(3)(("x", false)) ++ Seq(("y", false)) ++
      Seq(("x", true)) ++ Seq.fill(3)(("y", true))).toDF("c", "b")
    val rows = Curation.chi2Drift(df, "c", col("b")).collect()
      .map(r => (r.getAs[String]("category"), r.getAs[Long]("o_a"),
        r.getAs[Long]("o_b"), r.getAs[Long]("d_num"),
        r.getAs[Double]("term"), r.getAs[Double]("chi2"),
        r.getAs[Long]("dof"))).sortBy(_._1)
    assert(rows.toSeq == Seq(
      ("x", 3L, 1L, 8L, 1.0, 2.0, 1L),
      ("y", 1L, 3L, -8L, 1.0, 2.0, 1L)))
    // Cramér's V = sqrt(chi2/N) for the 2-sample table: sqrt(2/8) = 0.5
    assert(Curation.chi2Drift(df, "c", col("b")).collect()
      .forall(_.getAs[Double]("cramers_v") == 0.5))
    // identical category mixes -> every D = 0, chi2 = 0 exactly
    val same = Seq(("x", false), ("y", false), ("x", true), ("y", true)).toDF("c", "b")
    assert(Curation.chi2Drift(same, "c", col("b")).collect()
      .forall(r => r.getAs[Double]("chi2") == 0.0 && r.getAs[Long]("d_num") == 0L))
    // partitioning cannot move the fixed-order fold
    val rep = Curation.chi2Drift(df.repartition(7), "c", col("b"))
      .collect().head.getAs[Double]("chi2")
    assert(rep == 2.0)
    val err = intercept[Exception] {
      Curation.chi2Drift(df.filter(col("b")), "c", col("b")).collect()
    }
    assert(err.getMessage.contains("sample A is empty"))
  }

  test("gTest: hand case within grid residue; identical proportions give EXACTLY 0") {
    import spark.implicits._
    // A: {x:3, y:1}, B: {x:1, y:3}, e = 2 everywhere:
    // G = 2*(3 ln 1.5 + ln 0.5 + ln 0.5 + 3 ln 1.5) = 12 ln 1.5 - 4 ln 2
    val df = (Seq.fill(3)(("x", false)) ++ Seq(("y", false)) ++
      Seq(("x", true)) ++ Seq.fill(3)(("y", true))).toDF("c", "b")
    val r = Curation.gTest(df, "c", col("b")).collect().head
    val exact = 12.0 * math.log(1.5) - 4.0 * math.log(2.0)
    assert(math.abs(r.getAs[Double]("g") - exact) < 1e-4,
      s"g=${r.getAs[Double]("g")} exact=$exact")
    assert(r.getAs[Long]("dof") == 1L)
    // identical proportions: o*N = N_s*m for every cell, so the quantized
    // lns are EQUAL and every term is exactly zero — not approximately
    val same = Seq(("x", false), ("x", false), ("y", false),
      ("x", true), ("x", true), ("y", true)).toDF("c", "b")
    val r2 = Curation.gTest(same, "c", col("b")).collect().head
    assert(r2.getAs[java.math.BigDecimal]("s_g").longValueExact() == 0L)
    assert(r2.getAs[Double]("g") == 0.0)
    val err = intercept[Exception] {
      Curation.gTest(df.filter(col("b")), "c", col("b")).collect()
    }
    assert(err.getMessage.contains("sample A is empty"))
  }

  test("wasserstein1: shift hand cases exact; identical samples give 0; empty side fails fast") {
    import spark.implicits._
    // A = {0,1}, B = {1,2}: every point moves by 1 -> W1 = 1 exactly
    val df = Seq((0.0, false), (1.0, false), (1.0, true), (2.0, true))
      .toDF("x", "b")
    val r = Curation.wasserstein1(df, "x", col("b")).collect().head
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[java.math.BigDecimal]("s_w1").longValueExact() ==
      4L * 1048576L)
    assert(r.getAs[Double]("w1") == 1.0)
    // point masses 5 apart -> W1 = 5; fractional gap quantizes exactly
    val far = Seq((0.0, false), (5.0, true)).toDF("x", "b")
    assert(Curation.wasserstein1(far, "x", col("b"))
      .collect().head.getAs[Double]("w1") == 5.0)
    val frac = Seq((0.0, false), (0.5, true)).toDF("x", "b")
    assert(Curation.wasserstein1(frac, "x", col("b"))
      .collect().head.getAs[Double]("w1") == 0.5)
    // identical samples: every ECDF gap numerator is 0 -> W1 = 0 exactly
    val same = Seq((1.0, false), (2.0, false), (1.0, true), (2.0, true))
      .toDF("x", "b")
    assert(Curation.wasserstein1(same, "x", col("b"))
      .collect().head.getAs[Double]("w1") == 0.0)
    // partitioning cannot move the order-free integer sum
    assert(Curation.wasserstein1(df.repartition(7), "x", col("b"))
      .collect().head.getAs[Double]("w1") == 1.0)
    val err = intercept[Exception] {
      Curation.wasserstein1(df.filter(!col("b")), "x", col("b")).collect()
    }
    assert(err.getMessage.contains("sample B is empty"))
  }

  test("theilIndex: equal values give EXACTLY 0; hand case within grid residue") {
    import spark.implicits._
    // all equal: qln(x*n) == qln(S) identically -> every term 0 exactly
    val eq = Seq(7L, 7L, 7L).toDF("x")
    val r0 = Curation.theilIndex(eq, "x").collect().head
    assert(r0.getAs[java.math.BigDecimal]("s_t").longValueExact() == 0L)
    assert(r0.getAs[Double]("theil") == 0.0)
    // x = {1, 3}: T = (1*ln(2/4) + 3*ln(6/4)) / 4
    val df = Seq(1L, 3L).toDF("x")
    val r = Curation.theilIndex(df, "x").collect().head
    val exact = (math.log(0.5) + 3.0 * math.log(1.5)) / 4.0
    assert(math.abs(r.getAs[Double]("theil") - exact) < 1e-4)
    // zero and null rows carry no mass and are excluded
    val withJunk = Seq(Some(1L), Some(3L), Some(0L), None).toDF("x")
    assert(Curation.theilIndex(withJunk, "x").collect().head
      .getAs[Long]("n") == 2L)
    val err = intercept[Exception] {
      Curation.theilIndex(df.filter(col("x") < 0), "x").collect()
    }
    assert(err.getMessage.contains("no positive values"))
  }

  test("mutualInfo: independence gives EXACTLY 0, identity gives NMI 1, hand case within grid") {
    import spark.implicits._
    // independent uniform 2x2: c_xy*N = c_x*c_y for every cell -> the
    // quantized lns are EQUAL and every term is exactly zero
    val ind = Seq(("a", "p"), ("a", "q"), ("b", "p"), ("b", "q"))
      .toDF("x", "y")
    val r0 = Curation.mutualInfo(ind, "x", "y").collect().head
    assert(r0.getAs[java.math.BigDecimal]("s_mi").longValueExact() == 0L)
    assert(r0.getAs[Double]("mi") == 0.0)
    // x == y: MI = H(X) = H(Y) = ln 2 -> NMI = 1 up to grid residue (the
    // MI terms quantize ln(c·N) and ln(c²) separately, so no exact cancel)
    val same = Seq(("a", "a"), ("a", "a"), ("b", "b"), ("b", "b"))
      .toDF("x", "y")
    val r1 = Curation.mutualInfo(same, "x", "y").collect().head
    assert(math.abs(r1.getAs[Double]("mi") - math.log(2.0)) < 1e-4)
    assert(math.abs(r1.getAs[Double]("nmi") - 1.0) < 1e-4)
    // hand case: cells {(a,p):2, (a,q):1, (b,q):1}
    val df = Seq(("a", "p"), ("a", "p"), ("a", "q"), ("b", "q"))
      .toDF("x", "y")
    val r = Curation.mutualInfo(df, "x", "y").collect().head
    val exact = (2.0 * math.log(8.0 / 6.0) + math.log(4.0 / 6.0) +
      math.log(2.0)) / 4.0
    assert(math.abs(r.getAs[Double]("mi") - exact) < 1e-4)
    assert(r.getAs[Long]("k") == 3L)
    // null on either column lands in no cell
    val withNull = Seq((Some("a"), Some("p")), (Some("a"), None),
      (None, Some("p"))).toDF("x", "y")
    assert(Curation.mutualInfo(withNull, "x", "y").collect().head
      .getAs[Long]("n") == 1L)
    val err = intercept[Exception] {
      Curation.mutualInfo(df.filter(col("x") === "zzz"), "x", "y").collect()
    }
    assert(err.getMessage.contains("no non-null"))
  }

  test("trimmedMeans: rank-mass trim exact under ties; winsorized clamps to order stats") {
    import spark.implicits._
    // 1..10, 10% tails: k=1, trimmed = mean(2..9) = 5.5, winsor = 5.5
    val df = (1 to 10).map(_.toDouble).toDF("x")
    val r = Curation.trimmedMeans(df, "x").collect().head
    assert(r.getAs[Long]("n") == 10L && r.getAs[Long]("k") == 1L)
    assert(r.getAs[Double]("lo_cut") == 2.0 && r.getAs[Double]("hi_cut") == 9.0)
    assert(r.getAs[Double]("trimmed_mean") == 5.5)
    assert(r.getAs[Double]("winsor_mean") == 5.5)
    // ties: [1,1,1,5,9,9,9] at 1/4 tails -> k=1 drops ONE copy per side
    val t = Seq(1.0, 1.0, 1.0, 5.0, 9.0, 9.0, 9.0).toDF("x")
    val rt = Curation.trimmedMeans(t, "x", tailNum = 1L, tailDen = 4L)
      .collect().head
    assert(rt.getAs[Long]("k") == 1L)
    assert(rt.getAs[Double]("trimmed_mean") == 25.0 / 5.0)
    assert(rt.getAs[Double]("winsor_mean") == 35.0 / 7.0)
    // boundary clamps stay inside the data: lo_cut = 1 (rank 2), hi = 9
    assert(rt.getAs[Double]("lo_cut") == 1.0 && rt.getAs[Double]("hi_cut") == 9.0)
    val err = intercept[Exception] {
      Curation.trimmedMeans(df.filter(col("x") < 0), "x").collect()
    }
    assert(err.getMessage.contains("no non-null values"))
  }

  test("mixEntropy: uniform day = ln k within grid, single-category day EXACTLY 0") {
    import spark.implicits._
    val usPerDay = 86400000000L
    // day 0: a,a,b,b -> ln 2; day 1: a only -> 0; day 2: a,b,c,d -> ln 4
    val rows = Seq((0L, "a"), (0L, "a"), (0L, "b"), (0L, "b"),
      (1L, "a"), (1L, "a"), (1L, "a"),
      (2L, "a"), (2L, "b"), (2L, "c"), (2L, "d"))
    val df = rows.map { case (d, c) => (d * usPerDay + 7L, c) }
      .toDF("us", "cat")
      .select(timestamp_micros(col("us")).as("ts"), col("cat"))
    val got = Curation.mixEntropy(df, "cat").collect()
      .map(r => r.getAs[Long]("day") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("k"), r.getAs[Double]("h")))).toMap
    assert(got(0L)._1 == 4L && got(0L)._2 == 2L)
    assert(math.abs(got(0L)._3 - math.log(2.0)) < 1e-4)
    assert(got(1L) == ((3L, 1L, 0.0))) // qln(3)-qln(3) = 0 exactly
    assert(math.abs(got(2L)._3 - math.log(4.0)) < 1e-4)
  }

  test("hhi: uniform = 1/k, skew hand case exact, empty fails fast") {
    import spark.implicits._
    val uni = Seq("a", "b", "c", "d").toDF("c")
    val r0 = Curation.hhi(uni, "c").collect().head
    assert(r0.getAs[Long]("k") == 4L && r0.getAs[Double]("hhi") == 0.25 &&
      r0.getAs[Double]("effective_k") == 4.0)
    // counts {a:3, b:1}: hhi = 10/16, effective k = 16/10
    val sk = Seq("a", "a", "a", "b").toDF("c")
    val r1 = Curation.hhi(sk, "c").collect().head
    assert(r1.getAs[java.math.BigDecimal]("ssq").longValueExact() == 10L)
    assert(r1.getAs[Double]("hhi") == 10.0 / 16.0)
    assert(r1.getAs[Double]("effective_k") == 16.0 / 10.0)
    val err = intercept[Exception] {
      Curation.hhi(uni.filter(col("c") === "zzz"), "c").collect()
    }
    assert(err.getMessage.contains("no non-null categories"))
  }

  test("kendallTau: monotone = exactly +-1, classic 0.2 case, tie case 0, constant column nulls") {
    import spark.implicits._
    val mono = Seq((1.0, 1.0), (2.0, 2.0), (3.0, 3.0)).toDF("x", "y")
    val r0 = Curation.kendallTau(mono, "x", "y").collect().head
    assert(r0.getAs[java.math.BigDecimal]("c_pairs").longValueExact() == 3L)
    assert(r0.getAs[Double]("tau_b") == 1.0)
    val rev = Seq((1.0, 3.0), (2.0, 2.0), (3.0, 1.0)).toDF("x", "y")
    assert(Curation.kendallTau(rev, "x", "y").collect().head
      .getAs[Double]("tau_b") == -1.0)
    // classic: y = [3,4,1,2,5] -> C=6 D=4 -> tau = 2/10
    val cl = Seq((1.0, 3.0), (2.0, 4.0), (3.0, 1.0), (4.0, 2.0), (5.0, 5.0))
      .toDF("x", "y")
    val r1 = Curation.kendallTau(cl, "x", "y").collect().head
    assert(r1.getAs[java.math.BigDecimal]("c_pairs").longValueExact() == 6L)
    assert(r1.getAs[java.math.BigDecimal]("d_pairs").longValueExact() == 4L)
    assert(r1.getAs[Double]("tau_b") == 2.0 * 2.0 / math.sqrt(20.0 * 20.0))
    // 2x2 balanced ties: C = D = 1, doubled marginal ties 4 each -> tau 0
    val ti = Seq((1.0, 1.0), (1.0, 2.0), (2.0, 1.0), (2.0, 2.0)).toDF("x", "y")
    val r2 = Curation.kendallTau(ti, "x", "y").collect().head
    assert(r2.getAs[java.math.BigDecimal]("t2_x").longValueExact() == 4L)
    assert(r2.getAs[Double]("tau_b") == 0.0)
    // constant x: den = 0 -> null, not a divide error
    val cx = Seq((1.0, 1.0), (1.0, 2.0)).toDF("x", "y")
    val r3 = Curation.kendallTau(cx, "x", "y").collect().head
    assert(r3.isNullAt(r3.fieldIndex("tau_b")))
    val err = intercept[Exception] {
      Curation.kendallTau(mono.limit(1), "x", "y").collect()
    }
    assert(err.getMessage.contains("at least 2"))
  }

  test("hillTail: hand top-k case within grid, all-equal tail gives gamma 0 and null alpha") {
    import spark.implicits._
    // values [1,1,2,4,8], k=2: top-2 = {8,4}, x_ref = 2 ->
    // gamma = (ln 4 + ln 2)/2 = 1.5 ln 2
    val df = Seq(1L, 1L, 2L, 4L, 8L).toDF("x")
    val r = Curation.hillTail(df, "x", k = 2).collect().head
    assert(r.getAs[Long]("x_ref") == 2L)
    assert(math.abs(r.getAs[Double]("gamma") - 1.5 * math.log(2.0)) < 1e-4)
    assert(math.abs(r.getAs[Double]("alpha") - 1.0 / (1.5 * math.log(2.0))) < 1e-4)
    // all-equal tail: every qln diff is 0 exactly -> gamma 0, alpha null
    val eq = Seq(5L, 5L, 5L, 5L).toDF("x")
    val r1 = Curation.hillTail(eq, "x", k = 2).collect().head
    assert(r1.getAs[java.math.BigDecimal]("s_gamma").longValueExact() == 0L)
    assert(r1.getAs[Double]("gamma") == 0.0)
    assert(r1.isNullAt(r1.fieldIndex("alpha")))
    val err = intercept[Exception] {
      Curation.hillTail(df.limit(2), "x", k = 2).collect()
    }
    assert(err.getMessage.contains("need more than"))
  }

  test("lorenzCurve: quartile hand case exact; boundary ties split by mass") {
    import spark.implicits._
    // [1,1,2,4] at 4 points: L = 1/8, 2/8, 4/8, 1
    val df = Seq(1L, 1L, 2L, 4L).toDF("x")
    val got = Curation.lorenzCurve(df, "x", points = 4).collect()
      .map(r => r.getAs[Long]("i") ->
        ((r.getAs[java.math.BigDecimal]("mass").longValueExact(),
          r.getAs[Double]("mass_share")))).toMap
    assert(got(1L) == ((1L, 1.0 / 8.0)))
    assert(got(2L) == ((2L, 2.0 / 8.0)))
    assert(got(3L) == ((4L, 0.5)))
    assert(got(4L) == ((8L, 1.0)))
    // two tied rows, 2 points: the boundary splits the tie by mass
    val ti = Seq(2L, 2L).toDF("x")
    val g2 = Curation.lorenzCurve(ti, "x", points = 2).collect()
      .map(r => r.getAs[Long]("i") ->
        r.getAs[java.math.BigDecimal]("mass").longValueExact()).toMap
    assert(g2(1L) == 2L && g2(2L) == 4L)
    val err = intercept[Exception] {
      Curation.lorenzCurve(df.filter(col("x") < 0), "x").collect()
    }
    assert(err.getMessage.contains("no mass to rank"))
  }

  test("ebShrinkRates: small groups pull to the corpus rate, big groups dominate the prior") {
    import spark.implicits._
    // group a: 3/4 good; group b: 900/1000 good; corpus m = 903/1004
    val df = (Seq.fill(3)(("a", true)) ++ Seq.fill(1)(("a", false)) ++
      Seq.fill(900)(("b", true)) ++ Seq.fill(100)(("b", false)))
      .toDF("g", "ok")
    val got = Curation.ebShrinkRates(df, "g", col("ok"), strength = 50L)
      .collect().map(r => r.getAs[String]("group") -> r).toMap
    val m = 903.0 / 1004.0
    assert(got("a").getAs[Double]("raw_rate") == 0.75)
    assert(got("a").getAs[Double]("shrunk_rate") == (3.0 + 50.0 * m) / (4.0 + 50.0))
    assert(got("b").getAs[Double]("shrunk_rate") == (900.0 + 50.0 * m) / (1000.0 + 50.0))
    // the small group moved most of the way to m; the big one barely
    assert(math.abs(got("a").getAs[Double]("shrunk_rate") - m) <
      math.abs(0.75 - m) / 2)
    assert(math.abs(got("b").getAs[Double]("shrunk_rate") - 0.9) < 0.01)
    // per-group granularity: empty input -> empty frame (no raise row)
    assert(Curation.ebShrinkRates(df.filter(col("g") === "zzz"), "g",
      col("ok")).collect().isEmpty)
  }

  test("spearman: monotone = exactly +-1, tie hand case exact, tiny input fails fast") {
    import spark.implicits._
    // monotone nonlinear: ranks align exactly -> rho = 1.0 EXACTLY
    // (num = denom = 24, both exact in double)
    val up = Seq((1.0, 1.0), (2.0, 4.0), (3.0, 9.0)).toDF("x", "y")
    assert(Curation.spearman(up, "x", "y").collect().head.getAs[Double]("rho") == 1.0)
    val down = Seq((1.0, 9.0), (2.0, 4.0), (3.0, 1.0)).toDF("x", "y")
    assert(Curation.spearman(down, "x", "y").collect().head.getAs[Double]("rho") == -1.0)
    // tie case: x = [1,1,2] -> doubled avg ranks [3,3,6] (two ties at
    // positions 1,2 average 1.5, doubled 3); y = [1,2,3] -> [2,4,6];
    // rho = 18/sqrt(18*24) = sqrt(3)/2 in the fixed op order
    val tie = Seq((1.0, 1.0), (1.0, 2.0), (2.0, 3.0)).toDF("x", "y")
    val r = Curation.spearman(tie, "x", "y").collect().head
    assert(r.getAs[java.math.BigDecimal]("sxy").longValueExact() == 54L)
    assert(r.getAs[Double]("rho") == (3.0 * 54.0 - 12.0 * 12.0) /
      math.sqrt((3.0 * 54.0 - 12.0 * 12.0) * (3.0 * 56.0 - 12.0 * 12.0)))
    // complete-case: a null row drops on either side
    val withNull = Seq((Some(1.0), Some(1.0)), (Some(2.0), None),
      (Some(3.0), Some(9.0)), (Some(4.0), Some(16.0))).toDF("x", "y")
    assert(Curation.spearman(withNull, "x", "y").collect().head.getAs[Long]("n") == 3L)
    val err = intercept[Exception] {
      Curation.spearman(up.limit(1), "x", "y").collect()
    }
    assert(err.getMessage.contains("fewer than 2 complete rows"))
  }

  test("jsDivergence: identical corpora ~0, disjoint corpora ~ln 2, bounds hold, empty side fails") {
    import spark.implicits._
    val a = (0 until 30).map(i => (i.toLong, s"w$i x$i y$i z$i")).toDF("doc_id", "text")
    val b = (0 until 30).map(i => (i.toLong, s"p$i q$i r$i s$i")).toDF("doc_id", "text")
    // identical distributions: only grid-quantization residue survives
    val same = Curation.jsDivergence(a, a).collect().head
    assert(math.abs(same.getAs[Double]("jsd")) < 1e-5,
      s"identical corpora: ${same.getAs[Double]("jsd")}")
    // disjoint vocabularies: JSD = ln 2 nats (up to the 2^-20 grid)
    val dis = Curation.jsDivergence(a, b).collect().head
    assert(math.abs(dis.getAs[Double]("jsd") - math.log(2.0)) < 1e-4,
      s"disjoint corpora: ${dis.getAs[Double]("jsd")}")
    // a skewed overlap lands strictly between
    val mix = Curation.jsDivergence(a,
      a.limit(15).unionByName(b.limit(15))).collect().head
    val v = mix.getAs[Double]("jsd")
    assert(v > 1e-3 && v < math.log(2.0) - 1e-3, s"mixed: $v")
    // partitioning cannot move the order-free integer sums
    val rep = Curation.jsDivergence(a.repartition(7), b.repartition(5))
      .collect().head.getAs[Double]("jsd")
    assert(rep == dis.getAs[Double]("jsd"))
    val err = intercept[Exception] {
      Curation.jsDivergence(a.filter(col("doc_id") < 0), b).collect()
    }
    assert(err.getMessage.contains("corpus A has no shingles"))
  }

  test("giniIndex: equal frequencies give exactly 0; concentration raises it; hand case exact") {
    import spark.implicits._
    // every shingle exactly once -> perfectly equal mass -> gini 0.0 exactly
    val uniform = (0 until 20).map(i => (i.toLong, s"u${i}a u${i}b u${i}c")).toDF("doc_id", "text")
    val g0 = Curation.giniIndex(uniform).collect().head
    assert(g0.getAs[Double]("gini") == 0.0)
    // hand case: frequencies {1, 1, 6} ascending -> i*x = 1+2+18 = 21
    // gini = (2*21 - 4*8) / (3*8) = 10/24
    val skew = (Seq((100L, "a b c")) ++ (0 until 5).map(i => (i.toLong, "x y z")) ++
      Seq((200L, "p q r"), (201L, "x y z"))).toDF("doc_id", "text")
    val g1 = Curation.giniIndex(skew).collect().head
    assert(g1.getAs[Long]("n") == 3L)
    assert(g1.getAs[Double]("gini") == 10.0 / 24.0)
    // partitioning (and therefore tie order within the prefix machinery)
    // cannot move the result
    val g2 = Curation.giniIndex(skew.repartition(7)).collect().head
    assert(g2.getAs[Double]("gini") == g1.getAs[Double]("gini"))
  }

  test("zipfFit/heapsFit: slopes on skewed vs uniform corpora order as expected") {
    import spark.implicits._
    // geometric repetition -> steeper (more negative) zipf slope than flat
    val flat = (0 until 64).map(i => (i.toLong, s"a$i b$i c$i")).toDF("doc_id", "text")
    val skew = (for (i <- 0 until 8; r <- 0 until (1 << i))
      yield ((i * 1000 + r).toLong, s"a$i b$i c$i")).toDF("doc_id", "text")
    val sFlat = Curation.zipfFit(flat).collect().head.getAs[Double]("slope")
    val sSkew = Curation.zipfFit(skew).collect().head.getAs[Double]("slope")
    assert(sFlat == 0.0)
    assert(sSkew < -0.5, s"skewed corpus should have a steep slope: $sSkew")
  }

  test("kAnonymity: equivalence-class sizes and the k flag; null quasi values form a class") {
    import spark.implicits._
    val d = Seq(("en", "web"), ("en", "web"), ("en", "web"),
      ("en", "books"), (null, "web"), (null, "web"))
      .toDF("lang", "source")
    val got = Curation.kAnonymity(d, Seq("lang", "source"), k = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(got == Map(
      ("en", "web") -> ((3L, true)),
      ("en", "books") -> ((1L, false)),   // the re-identifiable singleton
      ((null, "web"): (String, String)) -> ((2L, true))))
  }
}
