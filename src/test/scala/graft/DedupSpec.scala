package graft

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite with SparkSpec {

  /** 60 base docs + 2 exact dups + 2 planted near-dups (one word changed). */
  private lazy val docs: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val base = (0L until 60L).map { i =>
      (i, Seq.fill(30)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val exactDup = Seq((100L, base(3)._2), (101L, base(7)._2))
    val nearDup = Seq(
      (200L, base(5)._2.replaceFirst("\\w+$", "omega")),
      (201L, base(9)._2.replaceFirst("^\\w+", "omega")))
    (base ++ exactDup ++ nearDup).toDF("doc_id", "text")
  }

  test("exact dedup groups identical content, keeps min id") {
    val g = Dedup.exact(docs)
    assert(g.count() == 62) // 64 docs, 2 collapse into existing groups
    val dups = g.filter("n_dups > 1").collect()
    assert(dups.map(_.getAs[Long]("keep_id")).sorted.toSeq == Seq(3L, 7L))
    assert(dups.forall(_.getAs[Long]("n_dups") == 2L))
  }

  test("dropExistingIn keeps only docs absent from the corpus; null text always passes") {
    import spark.implicits._
    val corpus = Seq("known one", "known two").toDF("text")
    val docs = Seq(
      (1L, "known one"),          // exists -> dropped
      (2L, "fresh content"),      // new -> kept
      (3L, "known two"),          // exists -> dropped
      (4L, null.asInstanceOf[String])) // null fp never matches -> kept
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.dropExistingIn(docs, corpus)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(2L, 4L))
  }

  test("corpusDiff labels added/removed/changed/unchanged; null text is null-safe") {
    import spark.implicits._
    val prev = Seq(
      (1L, "same"), (2L, "old text"), (3L, "gone"),
      (4L, null.asInstanceOf[String]), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val next = Seq(
      (1L, "same"), (2L, "new text"), (6L, "brand new"),
      (4L, null.asInstanceOf[String]), (5L, "was null"))
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.corpusDiff(prev, next)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "unchanged"), (2L, "changed"), (3L, "removed"),
      (4L, "unchanged"),   // null <=> null
      (5L, "changed"),     // null -> text
      (6L, "added")))
  }

  test("corpusDiff: duplicate ids within a version collapse to ONE row per id") {
    import spark.implicits._
    // id 1 duplicated in prev (identical text), id 2 duplicated in next
    // with CONFLICTING text — the min-fingerprint summary keeps the
    // one-row-per-id contract deterministic either way
    val prev = Seq((1L, "x"), (1L, "x"), (2L, "keep")).toDF("doc_id", "text")
    val next = Seq((1L, "x"), (2L, "keep"), (2L, "zzz different")).toDF("doc_id", "text")
    val got = graft.operators.Dedup.corpusDiff(prev, next).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got.map(_._1) == Seq(1L, 2L), "exactly one row per id")
    assert(got.head == (1L -> "unchanged"))
    // id 2's next-side summary is min(md5("keep"), md5("zzz different")) —
    // deterministic; the status is whatever that summary compares as, but
    // crucially there is ONE status, reproducibly
    val again = graft.operators.Dedup.corpusDiff(prev.repartition(5), next.repartition(3))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(again == got, "partitioning-invariant")
  }

  test("firstOccurrence: repeated paragraphs survive only in the earliest doc") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, posexplode, split => fsplit}
    val docs = Seq(
      (1L, "unique intro\n\nshared boilerplate\n\nmore text"),
      (2L, "shared boilerplate\n\nsecond doc body"),
      (3L, "third doc\n\nshared boilerplate"))
      .toDF("doc_id", "text")
    val paras = docs.select(col("doc_id"),
      posexplode(fsplit(col("text"), "\n\n")).as(Seq("idx", "para")))
    val kept = graft.operators.Dedup.firstOccurrence(
        paras, col("para"), Seq(col("doc_id"), col("idx")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq
    // "shared boilerplate" kept ONLY at its first occurrence (doc 1, idx 1)
    assert(kept.count(_._3 == "shared boilerplate") == 1)
    assert(kept.contains((1L, 1, "shared boilerplate")))
    // everything unique survives untouched
    assert(kept.map(_._3).toSet == Set("unique intro", "shared boilerplate",
      "more text", "second doc body", "third doc"))
  }

  test("rebuildFromSpans reassembles survivors in position order; fully-duplicate docs vanish") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, posexplode, split => fsplit}
    val docs = Seq(
      (1L, "unique intro\n\nshared boilerplate\n\nmore text"),
      (2L, "shared boilerplate\n\nsecond doc body"),
      (3L, "shared boilerplate")) // every span already seen -> doc vanishes
      .toDF("doc_id", "text")
    val paras = docs.select(col("doc_id"),
      posexplode(fsplit(col("text"), "\n\n")).as(Seq("idx", "para")))
    val got = graft.operators.Dedup
      .rebuildFromSpans(paras, "doc_id", "idx", "para", sep = "\n\n")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == Seq(
      1L -> "unique intro\n\nshared boilerplate\n\nmore text",
      2L -> "second doc body"))
  }

  test("minhash LSH finds exactly the brute-force pairs (verified candidates)") {
    val brute = Dedup.ngramJaccardPairs(docs, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(docs, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture should contain near-dup pairs")
    assert(brute.contains((3L, 100L)) && brute.contains((7L, 101L)))
    assert(brute.contains((5L, 200L)) && brute.contains((9L, 201L)))
    assert(lsh == brute)
  }

  test("ppjoinPairs equals brute-force pairs exactly at several thresholds") {
    for (tau <- Seq(0.3, 0.5, 0.7)) {
      val brute = Dedup.ngramJaccardPairs(docs, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val pp = Dedup.ppjoinPairs(docs, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
      assert(brute.nonEmpty, s"fixture should contain pairs at tau=$tau")
      assert(pp == brute, s"tau=$tau")
    }
  }

  test("ppjoinPairs: prefix-boundary sizes (set sizes where ceil(tau*sz) is integral)") {
    import spark.implicits._
    // 12 distinct shingles per doc at tau=0.75 -> prefix = 12-9+1 = 4;
    // pairs engineered to overlap ONLY in rare suffix shingles must still
    // be found when jaccard >= tau, and dropped when just below.
    val a = (1 to 14).map(i => s"w$i").mkString(" ")              // shingles w1..w12
    val b = (1 to 13).map(i => s"w$i").mkString(" ") + " x1 x2"   // 11 shared + 2 new
    val df = Seq((1L, a), (2L, b), (3L, (20 to 40).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val brute = Dedup.ngramJaccardPairs(df, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pp = Dedup.ppjoinPairs(df, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pp == brute)
  }

  test("ppjoin positional filter: candidates shrink (never grow), no true pair pruned") {
    for (tau <- Seq(0.3, 0.6)) {
      val raw = Dedup.ppjoinSelfCandidates(docs, tau, 3, "text", "doc_id",
          positional = false)._2
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val pos = Dedup.ppjoinSelfCandidates(docs, tau, 3, "text", "doc_id",
          positional = true)._2
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pos.subsetOf(raw), s"tau=$tau: positional must only PRUNE")
      val brute = Dedup.ngramJaccardPairs(docs, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(brute.subsetOf(pos),
        s"tau=$tau: a true pair was pruned at candidate time")
    }
  }

  test("ppjoin positional filter bites on rank-skewed pairs (strict cut, same result)") {
    import spark.implicits._
    // Docs 1 and 2 share token r1 (df 2) in BOTH prefixes but at ranks
    // 1 vs 5 (doc 2 fronts four unique df-1 tokens; every c-filler has
    // df >= 3 so r1 sorts FIRST in doc 1): bound = min(1,5) +
    // min(10-1, 10-5) = 6 < required ceil(0.375*20) = 8, so the
    // positional filter prunes the candidate the bare prefix join emits —
    // and the true Jaccard 6/14 = 0.43 < 0.6 confirms nothing is lost.
    val c = (1 to 9).map(i => s"c$i")                       // fillers, df >= 3
    val docA = ("r1" +: c).mkString(" ")                    // {r1, c1..c9}
    val docB = ((1 to 4).map(i => s"u$i") ++ Seq("r1") ++ c.take(5)).mkString(" ")
    val docC = c.mkString(" ")                              // {c1..c9}
    val docD = (c :+ "z1").mkString(" ")                    // {c1..c9, z1}
    val df = Seq((1L, docA), (2L, docB), (3L, docC), (4L, docD))
      .toDF("doc_id", "text")
    val raw = Dedup.ppjoinSelfCandidates(df, 0.6, 1, "text", "doc_id",
        positional = false)._2
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pos = Dedup.ppjoinSelfCandidates(df, 0.6, 1, "text", "doc_id",
        positional = true)._2
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(raw.contains((1L, 2L)), "fixture must produce the prefix candidate")
    assert(!pos.contains((1L, 2L)), "positional filter must prune the rank-skewed pair")
    // end result unchanged (the pair fails the threshold anyway)
    assert(Dedup.ppjoinPairs(df, 0.6, ngram = 1).count() ==
      Dedup.ngramJaccardPairs(df, 0.6, ngram = 1).count())
  }

  test("ppjoinAgainstCorpus equals brute-force cross-side pairs; batch-only shingles rank rarest") {
    import spark.implicits._
    val batch = docs.filter("doc_id % 3 = 0")
    val corpus = docs.filter("doc_id % 3 <> 0")
    val brute = Dedup.ngramJaccardAgainstCorpus(batch, corpus, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pp = Dedup.ppjoinAgainstCorpus(batch, corpus, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture should contain cross-side pairs")
    assert(pp == brute)
    // a batch doc whose shingles are ALL absent from the corpus must not
    // break ranking (df 0 everywhere) — and can never pair
    val alien = Seq((999L, "xq1 xq2 xq3 xq4 xq5")).toDF("doc_id", "text")
    val pp2 = Dedup.ppjoinAgainstCorpus(batch.unionAll(alien), corpus, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pp2 == brute)
  }

  test("shingle df-cap drops boilerplate pairs, keeps real near-dups, never invents") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit}
    // every doc shares a boilerplate prefix; only the planted pairs are real
    val noisy = docs.select(col("doc_id"),
      concat(lit("legal disclaimer boilerplate header text here "), col("text")).as("text"))
    val exact = Dedup.ngramJaccardPairs(noisy, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.ngramJaccardPairs(noisy, 0.5, maxShingleDf = Some(10))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // capping only lowers evidence: no invented pairs
    assert(capped.subsetOf(exact))
    // the genuinely-identical docs still pair (their shingles are rare)
    assert(capped.contains((3L, 100L)) && capped.contains((7L, 101L)))
  }

  test("simhash banding catches the exact dups within hamming 3") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((3L, 100L)) && pairs.contains((7L, 101L)))
  }

  test("simhash LSH equals brute-force hamming pairs (pigeonhole: maxHamming < chunks)") {
    import org.apache.spark.sql.functions._
    import graft.functions.{Sketches, TextFunctions}
    val sigs = docs.select(col("doc_id").as("id"),
      Sketches.simhash64(TextFunctions.tokens(col("text"))).as("sig"))
    val brute = sigs.toDF("a_id", "a_sig")
      .crossJoin(sigs.toDF("b_id", "b_sig"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("h", bit_count(col("a_sig").bitwiseXOR(col("b_sig"))))
      .filter(col("h") <= 6)
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.simhashPairs(docs, maxHamming = 6, chunks = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty)
    assert(lsh == brute)
  }

  test("embedding cosine pairs find planted near-parallel vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val base = (0L until 30L).map(i => (i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    val nearDup = (100L, base(4)._2.map(x => x * 1.01f))
    val emb = (base :+ nearDup).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingCosinePairs(emb, 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((4L, 100L)))
  }

  test("LSH-bucketed embedding pairs find the scaled duplicate (exact-cosine parity)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val base = (0L until 30L).map(i => (i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    // exactly colinear => identical sign signature => guaranteed bucket hit
    val nearDup = (100L, base(4)._2.map(x => x * 1.01f))
    val emb = (base :+ nearDup).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingCosinePairsLsh(emb, 0.99, nPlanes = 6, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((4L, 100L)))
  }

  test("multi-seed LSH recovers pairs a single seed's planes miss; recall never drops") {
    import spark.implicits._
    // many moderate-angle near-dup pairs at many orientations: with 16
    // planes the expected signature disagreement exceeds the 2-plane
    // multi-probe reach for a fair share of pairs, so ONE plane set misses
    // some — a second, independently-seeded set looks from a different
    // angle and must recover part of them (miss rates multiply)
    val rnd = new scala.util.Random(42)
    val pairsPlanted = (0L until 40L).map { i =>
      val v = Array.fill(16)(rnd.nextFloat() * 2 - 1)
      val norm = math.sqrt(v.map(x => x * x).sum).toFloat
      val u = v.map(_ / norm)
      // rotate by a small random perturbation: cos ~ 0.93-0.99
      val w = u.map(x => x + (rnd.nextFloat() - 0.5f) * 0.3f)
      (i, u, i + 1000L, w)
    }
    val emb = pairsPlanted.flatMap { case (ia, a, ib, b) => Seq((ia, a), (ib, b)) }
      .toDF("vec_id", "embedding")
    val threshold = 0.93
    def recall(seeds: Seq[Long]): Set[(Long, Long)] =
      Dedup.embeddingCosinePairsLsh(emb, threshold, nPlanes = 16, dim = 16, seeds = seeds)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.embeddingCosinePairs(emb, threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val one = recall(Seq(0x5DEECE66DL))
    val two = recall(Seq(0x5DEECE66DL, 777L))
    assert(one.subsetOf(exact) && two.subsetOf(exact), "LSH invented a pair")
    assert(one.subsetOf(two), "adding a seed dropped a previously-found pair")
    assert(one.size < exact.size, "single seed missed nothing — test data too easy to show recovery")
    assert(two.size > one.size,
      s"second seed recovered nothing: exact=${exact.size} one=${one.size} two=${two.size}")
  }

  test("containment catches an embedded document that Jaccard misses") {
    import spark.implicits._
    val short = "alpha beta gamma delta epsilon zeta"
    val long = ("padding" +: (1 to 40).map(i => s"w$i")).mkString(" ") + " " + short
    val docs = Seq((1L, short), (2L, long), (3L, "totally unrelated words here now"))
      .toDF("doc_id", "text")
    val cont = Dedup.ngramContainmentPairs(docs, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cont.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L)))
    assert(cont.head._3 == 1.0) // every shingle of the short doc is in the long one
    val jac = Dedup.ngramJaccardPairs(docs, threshold = 0.5).collect()
    assert(jac.isEmpty, "Jaccard should structurally miss the embedded doc")
  }

  test("fractional df-cap equals the equivalent absolute cap") {
    val n = docs.count()
    // fraction chosen so ceil(f * n) lands on an absolute cap that actually
    // drops shingles in this corpus
    val f = 3.0 / n
    val abs = Dedup.ngramJaccardPairs(docs, 0.3, maxShingleDf = Some(3))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val frac = Dedup.ngramJaccardPairs(docs, 0.3, maxShingleDfFraction = Some(f))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(frac == abs)
    // both caps set: the tighter wins
    val both = Dedup.ngramJaccardPairs(docs, 0.3,
      maxShingleDf = Some(Int.MaxValue), maxShingleDfFraction = Some(f))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(both == abs)
  }

  test("fractional df-cap runs NO extra job: corpus size derived in-plan, not via docs.count()") {
    // count Spark jobs fired while CONSTRUCTING the pair frame (the eager
    // postings pin runs here; the old implementation also ran a
    // docs.count() job here for the fraction form)
    val absJobs = jobsDuring {
      Dedup.ngramJaccardPairs(docs, 0.3, maxShingleDf = Some(3))
    }
    val fracJobs = jobsDuring {
      Dedup.ngramJaccardPairs(docs, 0.3, maxShingleDfFraction = Some(0.3))
    }
    assert(fracJobs == absJobs,
      s"fraction form fired $fracJobs construction jobs vs $absJobs for the absolute cap")
  }

  test("LSH pair emitters never emit a pair twice (filter-dedup, no shuffle)") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // dense cluster: everything within a cone -> heavy multi-bucket meeting
    val center = Array.fill(16)(rnd.nextFloat() * 2 - 1)
    val emb = (0L until 40L).map { i =>
      (i, center.map(x => x + rnd.nextFloat() * 0.3f - 0.15f))
    }.toDF("vec_id", "embedding")
    val embPairs = Dedup.embeddingCosinePairsLsh(emb, 0.5, nPlanes = 6, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(embPairs.nonEmpty)
    assert(embPairs.distinct.size == embPairs.size,
      "embedding LSH emitted duplicate pairs")
    // every emitted pair is a true >=threshold pair (subset of brute force)
    val brute = Dedup.embeddingCosinePairs(emb, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(embPairs.forall(brute.contains))

    val simPairs = Dedup.simhashPairs(docs, maxHamming = 20, chunks = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(simPairs.nonEmpty)
    assert(simPairs.distinct.size == simPairs.size,
      "simhash emitted duplicate pairs")
  }

  test("clusters: connected components with min-id labels, multi-round chains included") {
    import spark.implicits._
    // component {1..5} as a CHAIN (diameter 4 -> several propagation
    // rounds), component {10,11} as a pair, plus a self-contained triangle
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L), // chain, mixed orientations
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)). // triangle
      toDF("a_id", "b_id")
    val got = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("starContraction: path of diameter 200 resolves in O(log n) rounds; matches propagation on random graphs") {
    import spark.implicits._
    // a single path 0-1-2-...-200 (diameter 200, ids shuffled so the min
    // isn't adjacent to everything) — min-label propagation would need 200
    // rounds; star contraction must finish well inside its 120-round bound
    val perm = new scala.util.Random(7).shuffle((0L to 200L).toVector)
    val path = perm.sliding(2).map(w => (w(0), w(1))).toSeq.toDF("a_id", "b_id")
    val got = Dedup.starContraction(path).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 201 && got.values.forall(_ == 0L))

    // random sparse graphs (several shapes/densities): star contraction and
    // min-label propagation must produce the identical component map
    for (seed <- Seq(11, 23, 47)) {
      val rnd = new scala.util.Random(seed)
      val n = 40 + rnd.nextInt(80)
      val edges = Seq.fill(n * 3 / 2)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val pairs = edges.toDF("a_id", "b_id")
      val viaStars = Dedup.starContraction(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaProp = Dedup.clusters(pairs, maxRounds = 200).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaStars == viaProp, s"seed=$seed n=$n")
    }
  }

  test("clusters/starContraction: per-round checkpoint pins are RELEASED — " +
      "the registry grows by at most the returned pins") {
    import spark.implicits._
    // diameter-4 chain: several propagation rounds, so several hop pins
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("a_id", "b_id")
    val before = spark.sparkContext.getPersistentRDDs.size
    assert(Dedup.clusters(pairs).count() == 7)
    // only the final labels pin may survive (undirected + every earlier
    // round's pin released); the star-fallback path keeps vertices + the
    // converged edge pin
    assert(spark.sparkContext.getPersistentRDDs.size <= before + 1,
      "clusters leaked per-round checkpoint pins")
    val b2 = spark.sparkContext.getPersistentRDDs.size
    val path = (0L until 40L).sliding(2).map(w => (w(0), w(1))).toSeq
      .toDF("a_id", "b_id")
    assert(Dedup.starContraction(path).count() == 40)
    assert(spark.sparkContext.getPersistentRDDs.size <= b2 + 2,
      "starContraction leaked per-round checkpoint pins")
  }

  test("jobs per round: clusters on a path of 4/6/8/12 nodes") {
    import spark.implicits._
    // the costs measured before the loops shared Pins.scope, each run
    // including one final count(); adaptive hop batching makes them step
    val bound = Map(4 -> 29L, 6 -> 43L, 8 -> 43L, 12 -> 72L)
    val jobs = bound.keys.toSeq.sorted.map { n =>
      val path = (0L until n.toLong).sliding(2).map(w => (w(0), w(1))).toSeq.toDF("a_id", "b_id")
      n -> jobsDuring(Dedup.clusters(path).count(): Unit)
    }
    assert(jobs.forall { case (n, j) => j <= bound(n) }, s"clusters ran $jobs jobs")
  }

  test("clusters falls back to star contraction past maxRounds instead of failing") {
    import spark.implicits._
    val path = (0L until 60L).sliding(2).map(w => (w(0), w(1))).toSeq.toDF("a_id", "b_id")
    // diameter 59 > maxRounds=5: the propagation loop can't converge and
    // must hand off; the result is still the full component under id 0
    val got = Dedup.clusters(path, maxRounds = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 60 && got.values.forall(_ == 0L))
  }

  test("survivors keeps one doc per cluster and every unpaired doc") {
    import spark.implicits._
    val docs = (1L to 8L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a_id", "b_id")
    val kept = Dedup.survivors(docs, pairs).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    // clusters {1,2,3}->1 and {5,6}->5; 4,7,8 never appeared in pairs
    assert(kept == Seq(1L, 4L, 5L, 7L, 8L))
  }

  test("survivorsBy keeps the highest-scored member per cluster, id tiebreak") {
    import spark.implicits._
    val docs = Seq(
      (1L, 10L), (2L, 99L), (3L, 50L), // cluster {1,2,3}: 2 wins on score
      (5L, 7L), (6L, 7L),              // cluster {5,6}: tie -> min id 5
      (4L, 1L), (7L, 2L))              // unpaired, untouched
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a_id", "b_id")
    val kept = Dedup.survivorsBy(docs, pairs, scoreCol = "score")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(2L, 4L, 5L, 7L))
  }

  test("fuzzyPairs: typo-level pairs within a block, blocked apart otherwise") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox jumpz"),   // dist 1, same 8-prefix block
      (3L, "the quick brown cat jumps"),   // dist 3 from doc 1
      (4L, "zzz quick brown fox jumps"),   // near doc 1 but different block
      (5L, "the quick totally different sentence entirely"))
      .toDF("doc_id", "text")
    val got = Dedup.fuzzyPairs(docs, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(p => (p._1, p._2))
    assert(got.toSeq == Seq((1L, 2L, 1L), (1L, 3L, 3L), (2L, 3L, 4L)).filter(_._3 <= 3))
  }

  test("fuzzyPairs: maxBlockSize drops a boilerplate block whole") {
    import spark.implicits._
    val hot = (1L to 10L).map(i => (i, s"same prefix here variant $i"))
    val cold = Seq((100L, "cold block text one"), (101L, "cold block text onX"))
    val docs = (hot ++ cold).toDF("doc_id", "text")
    val got = Dedup.fuzzyPairs(docs, maxDist = 3, maxBlockSize = Some(5))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((100L, 101L)))
    // uncapped, the hot block pairs freely
    val un = Dedup.fuzzyPairs(docs, maxDist = 3)
    assert(un.filter(un("a_id") <= 10L).count() > 0)
  }

  test("fuzzyPairs: length pre-filter and threshold agree with plain levenshtein") {
    import spark.implicits._
    // same block, lengths 11 apart: pre-filter must drop it before any
    // distance call; threshold form would return -1 anyway
    val docs = Seq((1L, "prefix12 a"), (2L, "prefix12 a plus eleven ch"))
      .toDF("doc_id", "text")
    assert(Dedup.fuzzyPairs(docs, maxDist = 10).collect().isEmpty)
    intercept[IllegalArgumentException](Dedup.fuzzyPairs(docs, maxDist = -1))
    intercept[IllegalArgumentException](
      Dedup.fuzzyPairs(docs, maxDist = 1, maxBlockSize = Some(1)))
  }

  test("jaroWinklerPairs: prefix-weighted matches within blocks, threshold respected") {
    import spark.implicits._
    val df = Seq(
      (1L, "worldwide shipping company"),
      (2L, "worldwide shipping compamy"),  // typo late in string: high JW
      (3L, "worldwide logistics and freight"), // same block, below threshold
      (4L, "acme corp"),                   // different block entirely
      (5L, "acme corp")                    // exact dup of 4
    ).toDF("doc_id", "text")
    val got = Dedup.jaroWinklerPairs(df, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)) && got.contains((4L, 5L)))
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L))
    // exact dup scores exactly 1.0
    val exact = Dedup.jaroWinklerPairs(df, threshold = 0.9)
      .filter("a_id = 4").collect().head.getDouble(2)
    assert(exact == 1.0)
  }

  test("ngramJaccardAgainstCorpus: cross-side pairs only, cap prunes corpus boilerplate") {
    import spark.implicits._
    val newDocs = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "totally different words here entirely now")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon eta"), // near-dup of 100
      (2L, "alpha beta gamma delta epsilon zeta"), // exact content twin
      (3L, "unrelated content of its own kind")).toDF("doc_id", "text")
    val out = Dedup.ngramJaccardAgainstCorpus(newDocs, corpus, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("jac"))).sortBy(t => (t._1, t._2))
    // only new x corpus pairs; 100-2 is jac 1.0; 100-1 shares 3 of 4+4
    // trigrams -> 3/5 = 0.6; 101 matches nothing
    assert(out.map(t => (t._1, t._2)).toSeq == Seq((100L, 1L), (100L, 2L)))
    assert(out(1)._3 == 1.0 && out(0)._3 == 0.6)
    // corpus-side df cap: a boilerplate shingle present in every corpus doc
    val boiler = Seq((10L, "x y z one"), (11L, "x y z two"), (12L, "x y z three"))
      .toDF("doc_id", "text")
    val probe = Seq((200L, "x y z one")).toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardAgainstCorpus(probe, boiler, 0.2)
    val capped = Dedup.ngramJaccardAgainstCorpus(probe, boiler, 0.2,
      maxShingleDf = Some(2))
    // "x y z" (df 3) is dropped under the cap; the exact twin still pairs
    // through its unique shingles, the others lose their only link
    assert(uncapped.count() == 3)
    val cappedPairs = capped.collect().map(r => r.getAs[Long]("b_id")).toSeq
    assert(cappedPairs == Seq(10L))
  }

  test("tfCosinePairs: repetition-weighted similarity jaccard cannot see") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam ham"),   // heavy repetition of 'spam'
      (2L, "spam spam spam spam eggs"),  // same shape -> high cosine
      (3L, "spam ham eggs toast jam"))   // same VOCAB overlap, flat tfs
      .toDF("doc_id", "text")
    val out = Dedup.tfCosinePairs(docs, threshold = 0.1)
      .collect().map(r => ((r.getAs[Long]("a_id"), r.getAs[Long]("b_id")),
        (r.getAs[Long]("dot"), r.getAs[Long]("na2"), r.getAs[Double]("cos"))))
      .toMap
    // 1-2: dot 16, norms 17 -> cos 16/17; 1-3: dot 4+1=5 over sqrt(17*5)
    assert(out((1L, 2L))._1 == 16L && out((1L, 2L))._2 == 17L)
    assert(math.abs(out((1L, 2L))._3 - 16.0 / 17.0) < 1e-15)
    assert(out((1L, 2L))._3 > out((1L, 3L))._3)
    // identical docs: dot == both norms; cos is EXACTLY dot/(sqrt*sqrt) —
    // an ulp under 1.0, because sqrt(5)^2 != 5 in fp (and identically so
    // in DuckDB, which is why the raw double sits under the gate)
    val twins = Seq((1L, "a a b"), (2L, "a a b")).toDF("doc_id", "text")
    val t = Dedup.tfCosinePairs(twins, 0.5).collect()(0)
    assert(t.getAs[Long]("dot") == 5L)
    assert(t.getAs[Double]("cos") == 5.0 / (math.sqrt(5.0) * math.sqrt(5.0)))
    // stopword cap prunes the only shared term -> no candidates
    val boiler = Seq((1L, "the x"), (2L, "the y"), (3L, "the z"))
      .toDF("doc_id", "text")
    assert(Dedup.tfCosinePairs(boiler, 0.1, maxTermDf = Some(2)).count() == 0)
    assert(Dedup.tfCosinePairs(boiler, 0.1).count() == 3)
  }

  test("dupShingleStats: per-doc duplicate fraction, row-preserving on short docs") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d"),      // shingles {a b c, b c d}
      (2L, "a b c x"),      // shares "a b c" with doc 1
      (3L, "p q r s"),      // all unique
      (4L, "a b"),          // too short: zero shingles, row kept
      (5L, null.asInstanceOf[String])) // null text: zero shingles, row kept
      .toDF("doc_id", "text")
    val out = Dedup.dupShingleStats(df, ngram = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_shingles"), r.getAs[Long]("n_dup"),
          Option(r.getAs[java.lang.Double]("dup_frac")).map(_.toDouble)))).toMap
    assert(out(1L) == ((2L, 1L, Some(0.5))))
    assert(out(2L) == ((2L, 1L, Some(0.5))))
    assert(out(3L) == ((2L, 0L, Some(0.0))))
    assert(out(4L) == ((0L, 0L, None)))
    assert(out(5L) == ((0L, 0L, None)))
    // a REPEATED shingle within one doc counts once (distinct per doc):
    // "a b c a b c a" yields shingles {a b c, b c a, c a b} all df=1 here
    val rep = Seq((9L, "a b c a b c a")).toDF("doc_id", "text")
    val r9 = Dedup.dupShingleStats(rep, ngram = 3).collect().head
    assert(r9.getAs[Long]("n_shingles") == 3L && r9.getAs[Long]("n_dup") == 0L)
    // raising minDf tightens the bar
    assert(Dedup.dupShingleStats(df, ngram = 3, minDf = 3)
      .filter("n_dup > 0").count() == 0)
  }

  test("pairRecall: canonicalizes orientation and dupes; exact precision/recall") {
    import spark.implicits._
    // approx has (1,2) twice in both orientations (canonical dedup -> 1),
    // (3,4) correct, (5,6) false positive; exact adds (7,8) missed
    val approx = Seq((2L, 1L), (1L, 2L), (3L, 4L), (5L, 6L)).toDF("a_id", "b_id")
    val exact = Seq((1L, 2L), (4L, 3L), (7L, 8L)).toDF("a_id", "b_id")
    val r = Dedup.pairRecall(approx, exact).collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L && r.getLong(2) == 2L)
    assert(r.getDouble(3) == 2.0 / 3 && r.getDouble(4) == 2.0 / 3)
    // self-comparison is perfect
    val self = Dedup.pairRecall(exact, exact).collect().head
    assert(self.getDouble(3) == 1.0 && self.getDouble(4) == 1.0)
  }

  test("removeRepeatedSpans: cross-doc spans go from all copies; overlaps merge; short docs pass") {
    import spark.implicits._
    val docs = Seq(
      1L -> "p q r a b c d s t u", // shares the 4-token run a b c d with 2
      2L -> "a b c d x y z w m n", // windows "a b c" and "b c d" both dup -> ONE merged span [0,4)
      3L -> "k l m k l m k l m n", // within-doc repeat: "k l m k"? windows repeat internally
      4L -> "too short",           // < windowTokens -> untouched
      5L -> "all unique tokens here nothing repeats at all ok"
    ).toDF("doc_id", "text")
    val out = Dedup.removeRepeatedSpans(docs, windowTokens = 3, minCount = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // "a b c" and "b c d" windows each occur twice corpus-wide -> both
    // positions duplicated in both docs; islands merge them to one span
    assert(out(1L) == (("p q r s t u", 4L)))
    assert(out(2L) == (("x y z w m n", 4L)))
    // doc 3: windows klm(0) lmk(1) mkl(2) klm(3) lmk(4) mkl(5) klm(6) kln? ->
    // "k l m" x3, "l m k" x2, "m k l" x2 all >= 2 -> positions 0..6 covered,
    // span [0, 9): only the trailing "n" survives
    assert(out(3L) == (("n", 9L)))
    assert(out(4L) == (("too short", 0L)))
    assert(out(5L) == (("all unique tokens here nothing repeats at all ok", 0L)))
  }

  test("removeSpansMatching: reference spans strip from quoting docs; prose survives; no self-census") {
    import spark.implicits._
    val ref = Seq("alpha beta gamma delta", "one two three")
      .toDF("text")
    val docs = Seq(
      // quotes ref mid-document: windows of the quote match, span [2,6)
      1L -> "intro words alpha beta gamma delta closing words",
      // quotes BOTH ref docs back to back -> two spans (non-adjacent)
      2L -> "x alpha beta gamma delta y one two three z",
      // repeats ITS OWN phrase twice — within-corpus duplication must NOT
      // trigger removal (no self-census in the cross-corpus form)
      3L -> "p q r s p q r s",
      4L -> "tiny",
      // partial overlap with ref (only 2 consecutive ref tokens) — no
      // full 3-token window of the reference appears
      5L -> "alpha beta epsilon more text here"
    ).toDF("doc_id", "text")
    val out = Dedup.removeSpansMatching(docs, ref, windowTokens = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // doc 1: windows "alpha beta gamma"/"beta gamma delta" (ref windows)
    // at 2 and 3 -> merged span [2,6)
    assert(out(1L) == (("intro words closing words", 4L)))
    // doc 2: span [1,5) from ref1, span [6,9) from ref2 ("one two three")
    assert(out(2L) == (("x y z", 7L)))
    assert(out(3L) == (("p q r s p q r s", 0L)))
    assert(out(4L) == (("tiny", 0L)))
    assert(out(5L) == (("alpha beta epsilon more text here", 0L)))
    // bloom pre-screen parity: EXACT same results at any fpp (false
    // positives die in the confirm semi-join, false negatives don't exist)
    val bloomed = Dedup.removeSpansMatching(docs, ref, windowTokens = 3,
        bloomScreen = true, bloomExpectedItems = 100L, bloomFpp = 0.2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(bloomed == out)
  }

  test("stripBoilerplateLines: cross-doc lines drop, order keeps, blanks and rare lines survive") {
    import spark.implicits._
    val banner = "ACCEPT ALL COOKIES"
    val docs = Seq(
      1L -> s"$banner\nunique alpha\n\nunique beta",
      2L -> s"$banner\nsecond doc body",
      3L -> s"$banner\nthird doc body\n$banner", // repeated within one doc
      4L -> "no banner here",
      5L -> banner // ONLY boilerplate -> empty survivor
    ).toDF("doc_id", "text")
    val out = Dedup.stripBoilerplateLines(docs, minDocs = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // banner is in 4 distinct docs (doc 3 counts ONCE) -> stripped everywhere
    assert(out(1L) == "unique alpha\n\nunique beta") // blank line survives
    assert(out(2L) == "second doc body")
    assert(out(3L) == "third doc body") // both copies stripped
    assert(out(4L) == "no banner here")
    assert(out(5L) == "") // all-boilerplate doc kept, empty
    // minDocs above the banner's df -> nothing stripped
    val loose = Dedup.stripBoilerplateLines(docs, minDocs = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(loose(1L) == s"$banner\nunique alpha\n\nunique beta")
    // blank lines are NEVER boilerplate even at df >= minDocs
    val blanky = Seq(1L -> "a\n\nb", 2L -> "c\n\nd", 3L -> "e\n\nf")
      .toDF("doc_id", "text")
    val kept = Dedup.stripBoilerplateLines(blanky, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kept(1L) == "a\n\nb" && kept(3L) == "e\n\nf")
  }

  test("sortedNeighborhoodPairs: rank-window candidates via bucket join, sorted not by id") {
    import spark.implicits._
    // ids deliberately NOT in key order: sort is by lower(trim(title)).
    // Keys row1..row6 are mutually similar (shared "row" prefix, JW
    // >= 0.87 for adjacent digits), so threshold 0.5 keeps every
    // rank-window pair — the candidate STRUCTURE is what's asserted.
    val d = Seq((10L, "row4"), (20L, "row1"), (30L, "row6"),
      (40L, "row2"), (50L, "row5"), (60L, "row3"))
      .toDF("doc_id", "title")
    val got = Dedup.sortedNeighborhoodPairs(d, window = 2, threshold = 0.5,
        textCol = "title")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // rank order: row1(20) row2(40) row3(60) row4(10) row5(50) row6(30);
    // pairs = every (rank i, rank i+1) gap 1 and (i, i+2) gap 2
    val rankOrder = Seq(20L, 40L, 60L, 10L, 50L, 30L)
    val want = (for {
      i <- rankOrder.indices; g <- 1 to 2; if i + g < rankOrder.size
    } yield (rankOrder(i), rankOrder(i + g), g.toLong)).toSet
    assert(got == want)
    // threshold filters: only truly-near neighbors survive a tight cut
    val tight = Seq((1L, "the quick brown fox"), (2L, "the quick brown fux"),
      (3L, "zzz totally different"))
      .toDF("doc_id", "title")
    val near = Dedup.sortedNeighborhoodPairs(tight, window = 3,
        threshold = 0.9, textCol = "title")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(near.toSeq == Seq((1L, 2L)))
  }

  test("hammingPairs: exact hamming<=7 join at 8 chunks (pigeonhole), " +
      "each pair once, nulls drop") {
    import spark.implicits._
    // sigs 0, 1, 255, 127: hammings (1,2)=1 (1,3)=8 (1,4)=7 (2,3)=7
    // (2,4)=6 (3,4)=1 — everything but (1,3) is within 7
    val d = Seq((1L, 0L), (2L, 1L), (3L, 255L), (4L, 127L))
      .toDF("doc_id", "sig")
      .unionByName(Seq((9L, Option.empty[Long])).toDF("doc_id", "sig"))
    val got = graft.operators.Dedup.hammingPairs(d, "sig")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((1L, 2L) -> 1L, (1L, 4L) -> 7L, (2L, 3L) -> 7L,
      (2L, 4L) -> 6L, (3L, 4L) -> 1L))
    // identical signatures pair at hamming 0 exactly once despite
    // colliding in every band (first-matching-band dedup)
    val eq = graft.operators.Dedup.hammingPairs(
      Seq((1L, -1L), (2L, -1L)).toDF("doc_id", "sig"), "sig")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(eq.toSeq == Seq((1L, 2L, 0L)))
  }
}
