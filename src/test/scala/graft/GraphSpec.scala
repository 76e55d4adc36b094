package graft

import graft.operators.Graph
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

class GraphSpec extends AnyFunSuite with SparkSpec {

  /** Reference fixed-point PageRank on the driver — the same integer spec
    * (floor division everywhere), evaluated over in-memory maps. */
  private def refRanks(
      edges: Seq[(String, String, Long)],
      iters: Int,
      dampNum: Long = 85L,
      dampDen: Long = 100L,
      scale: Long = 1000000000000L,
      redistribute: Boolean = false): Map[String, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size
    val wsum = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    val base = (scale * (dampDen - dampNum)) / (dampDen * n)
    var rank = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to iters) {
      val in = edges
        .map { case (s, d, w) => d -> (rank(s) * w) / wsum(s) }
        .groupBy(_._1).map { case (d, cs) => d -> cs.map(_._2).sum }
      val dsum = nodes.filterNot(wsum.contains).map(rank).sum
      rank = nodes.map { nd =>
        val r0 = base + (dampNum * in.getOrElse(nd, 0L)) / dampDen
        nd -> (if (redistribute) r0 + (dampNum * dsum) / (dampDen * n) else r0)
      }.toMap
    }
    rank
  }

  private def run(
      edges: Seq[(String, String, Long)],
      iters: Int,
      redistribute: Boolean): Map[String, Long] = {
    import spark.implicits._
    Graph.pageRank(edges.toDF("src", "dst", "w"), iters = iters,
      weightCol = Some("w"), redistributeDangling = redistribute)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  private val triangle = Seq( // a -> b -> c -> a plus a heavy a -> c edge
    ("a", "b", 1L), ("b", "c", 1L), ("c", "a", 1L), ("a", "c", 3L))

  test("pageRank matches the driver-side integer reference on a weighted cycle") {
    assert(run(triangle, iters = 10, redistribute = false) ==
      refRanks(triangle, iters = 10))
  }

  test("dangling sink: evaporating vs redistributed mass, both exact") {
    val g = Seq(("a", "b", 1L), ("a", "sink", 1L), ("b", "sink", 2L))
    val evap = run(g, iters = 5, redistribute = false)
    val redist = run(g, iters = 5, redistribute = true)
    assert(evap == refRanks(g, iters = 5))
    assert(redist == refRanks(g, iters = 5, redistribute = true))
    // the sink hoards mass; redistribution feeds it back into the graph
    assert(redist("a") > evap("a"))
    // total mass never exceeds scale, and floor-loss is bounded by
    // (edges + nodes) units per iteration
    val total = redist.values.sum
    assert(total <= 1000000000000L)
    assert(total >= 1000000000000L - 5L * (g.size + 3 + 1))
  }

  test("unweighted default: each edge row counts once") {
    import spark.implicits._
    val rows = Seq(("a", "b"), ("a", "b"), ("a", "c"), ("b", "a"), ("c", "a"))
    val got = Graph.pageRank(rows.toDF("src", "dst"), iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // duplicated (a,b) rows == weight-2 edge under the integer spec:
    // wsum(a)=3 either way and contribs floor identically per unit weight
    // only when grouped — so compare against the grouped weighted form
    val grouped = Seq(("a", "b", 2L), ("a", "c", 1L), ("b", "a", 1L), ("c", "a", 1L))
    val ref = refRanks(grouped, iters = 3)
    // per-row floor can lag the grouped floor by at most 1 unit per edge
    // per iteration; on this graph the values land identically
    assert(got.keySet == ref.keySet)
    for ((k, v) <- got) assert((v - ref(k)).abs <= 3L, s"node $k: $v vs ${ref(k)}")
  }

  test("iteration count is exact: 1 iteration differs from 2") {
    val r1 = run(triangle, iters = 1, redistribute = false)
    val r2 = run(triangle, iters = 2, redistribute = false)
    assert(r1 != r2)
    assert(r1 == refRanks(triangle, iters = 1))
    assert(r2 == refRanks(triangle, iters = 2))
  }

  // ---- triangleCount ----

  private def countTris(edges: Seq[(Long, Long)]): (Long, Long, Long) = {
    import spark.implicits._
    val r = Graph.triangleCount(edges.toDF("src", "dst")).collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Driver-side naive reference: canonical u<v edge set, count triples. */
  private def refTris(edges: Seq[(Long, Long)]): (Long, Long, Long) = {
    val canon = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    val nodes = canon.flatMap(e => Seq(e._1, e._2))
    val tris = (for {
      (u, v) <- canon; (v2, w) <- canon
      if v2 == v && canon((u, w))
    } yield (u, v, w)).size
    (nodes.size.toLong, canon.size.toLong, tris.toLong)
  }

  test("triangleCount: K4 has 4 triangles") {
    val k4 = for { i <- 0L to 3L; j <- (i + 1) to 3L } yield (i, j)
    assert(countTris(k4) == (4L, 6L, 4L))
  }

  test("triangleCount: canonicalizes duplicates, reversals, self-loops") {
    // one real triangle given twice in mixed orientations + a self-loop
    val messy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 3L), (2L, 2L))
    assert(countTris(messy) == (3L, 3L, 1L))
  }

  test("triangleCount: star graph (max skew) has zero triangles") {
    val star = (1L to 20L).map(i => (0L, i))
    assert(countTris(star) == (21L, 20L, 0L))
  }

  test("triangleCount matches naive reference on a seeded random graph") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(200)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
    assert(countTris(edges) == refTris(edges))
  }

  // ---- labelPropagation ----

  private def runLpa(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    import spark.implicits._
    Graph.labelPropagation(edges.toDF("src", "dst"), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Driver-side synchronous vote with the same (count desc, label asc)
    * argmax. */
  private def refLpa(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val canon = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    val nbrs = (canon.toSeq ++ canon.toSeq.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var labels = nbrs.keys.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      labels = nbrs.map { case (n, os) =>
        val votes = os.map(labels).groupBy(identity).view.mapValues(_.size)
        n -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    labels
  }

  test("labelPropagation: two bridged triangles settle into two communities") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L))
    val got = runLpa(edges, rounds = 3)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 3L, 12L -> 3L))
    assert(got == refLpa(edges, 3))
  }

  test("labelPropagation matches the driver reference on a seeded random graph") {
    val rnd = new scala.util.Random(23)
    val edges = Seq.fill(120)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    for (r <- Seq(1, 2, 4))
      assert(runLpa(edges, r) == refLpa(edges, r), s"rounds=$r")
  }

  // ---- kCore ----

  private def runKCore(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    import spark.implicits._
    Graph.kCore(edges.toDF("src", "dst"), k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Driver-side peel reference. */
  private def refKCore(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    val canon = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    var adj = canon.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      .foldLeft(Map.empty[Long, Set[Long]].withDefaultValue(Set.empty[Long])) {
        case (m, (u, vs)) => vs.foldLeft(m)((m2, v) =>
          m2.updated(u, m2(u) + v).updated(v, m2(v) + u))
      }
    var changed = true
    while (changed) {
      val drop = adj.collect { case (n, s) if s.size < k => n }.toSet
      changed = drop.nonEmpty
      adj = adj.collect { case (n, s) if !drop(n) => n -> (s -- drop) }
        .filter(_._2.nonEmpty).toMap
    }
    adj.map { case (n, s) => n -> s.size.toLong }
  }

  test("kCore: K5 with a pendant chain peels down to exactly K5") {
    val k5 = for { i <- 0L to 4L; j <- (i + 1) to 4L } yield (i, j)
    // chain 4-10-11-12: peeling 12 drops 11, then 10 — multi-round
    val edges = k5 ++ Seq((4L, 10L), (10L, 11L), (11L, 12L))
    val got = runKCore(edges, k = 4)
    assert(got == (0L to 4L).map(_ -> 4L).toMap)
    assert(got == refKCore(edges, 4))
  }

  test("kCore: k above the max degree empties the graph") {
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    assert(runKCore(tri, k = 3).isEmpty)
    assert(runKCore(tri, k = 2) == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("kCore matches the driver reference on a seeded random graph") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(150)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    for (k <- Seq(2, 5, 8))
      assert(runKCore(edges, k) == refKCore(edges, k), s"k=$k")
  }

  test("pageRank/kCore: per-round checkpoint pins are RELEASED — the " +
      "persistent-RDD registry grows by at most the one returned pin") {
    import spark.implicits._
    val edges = (for (u <- 1L to 30L; v <- 1L to 30L if u != v && (u + v) % 3 == 0)
      yield (u, v)).toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.size
    assert(Graph.pageRank(edges, iters = 8).count() > 0)
    // 8 iterations pinned 8 rank frames + edges + nodes; everything but
    // the final ranks pin (which the returned plan reads) is released
    assert(spark.sparkContext.getPersistentRDDs.size <= before + 1,
      "pageRank leaked per-iteration checkpoint pins")
    val b2 = spark.sparkContext.getPersistentRDDs.size
    assert(Graph.kCore(edges, k = 2).count() > 0)
    assert(spark.sparkContext.getPersistentRDDs.size <= b2 + 1,
      "kCore leaked per-round checkpoint pins")
  }

  test("jobs per round: pageRank and personalizedPageRank 2, hits 8, labelPropagation 3") {
    import spark.implicits._
    val edges = (for (u <- 1L to 12L; v <- 1L to 12L if u != v && (u + v) % 3 == 0)
      yield (u, v)).toDF("src", "dst")
    val seeds = Seq(3L).toDF("node")
    // (name, run at k rounds, jobs per extra round, total at 4 rounds) —
    // the bounds are the costs measured before the loops shared Pins.scope,
    // each run including one final count(); labelPropagation's total has
    // one more, the count that materializes its lazy last round so the
    // earlier rounds' pins can be released
    val cases: Seq[(String, Int => DataFrame, Long, Long)] = Seq(
      ("pageRank", k => Graph.pageRank(edges, iters = k), 2L, 22L),
      ("personalizedPageRank", k => Graph.personalizedPageRank(edges, seeds, iters = k), 2L, 21L),
      ("hits", k => Graph.hits(edges, iters = k), 8L, 44L),
      ("labelPropagation", k => Graph.labelPropagation(edges, rounds = k), 3L, 19L))
    val over = cases.map { case (name, run, perRound, total) =>
      val jobs = (4 to 6).map(k => jobsDuring(run(k).count(): Unit))
      (name, jobs, jobs.head <= total && jobs.sliding(2).forall(w => w(1) - w(0) <= perRound))
    }.filterNot(_._3)
    assert(over.isEmpty, over.map { case (n, j, _) => s"$n ran ${j.mkString("/")}" }
      .mkString("", "; ", " jobs at 4/5/6 rounds"))
  }

  test("coOccurrenceEdges: distinct sorted pairs per group, cross-group dedup") {
    import spark.implicits._
    val df = Seq((10L, 1L), (10L, 2L), (10L, 3L), (10L, 2L), // dup member
      (20L, 2L), (20L, 1L), // same pair as group 10
      (30L, 9L)) // singleton group: no pairs
      .toDF("grp", "id")
    val got = Graph.coOccurrenceEdges(df, "grp", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("textRank: a hub word co-occurring with everything ranks first; self-pairs drop") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hub alpha hub beta hub gamma"),
      (2L, "hub delta hub epsilon"),
      (3L, "alpha beta"),
      (4L, "solo solo solo")) // only self-pairs: contributes no edges
      .toDF("doc_id", "text")
    val got = Graph.textRank(docs, window = 2, iters = 5, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.head._1 == "hub")
    assert(!got.map(_._1).contains("solo"))
    // deterministic: a second run returns the identical ranking
    val again = Graph.textRank(docs, window = 2, iters = 5, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == again.toSeq)
  }

  test("textRank: window widens the edge set, never narrows it") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val w1 = Graph.textRank(docs, window = 1, iters = 3, topK = 50).count()
    val w3 = Graph.textRank(docs, window = 3, iters = 3, topK = 50).count()
    // same node set (all words appear in both graphs)
    assert(w1 == 8 && w3 == 8)
  }

  /** Reference fixed-point HITS on the driver — BigInt, floor division,
    * the same half-step integer spec. */
  private def refHits(
      edges: Seq[(String, String, Long)],
      iters: Int,
      scale: Long = 1000000000000L): Map[String, (Long, Long)] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    def half(sc: Map[String, BigInt], rev: Boolean): Map[String, BigInt] = {
      val raw = nodes.map { nd =>
        nd -> edges.collect {
          case (s, d, w) if !rev && d == nd => sc(s) * w
          case (s, d, w) if rev && s == nd => sc(d) * w
        }.sum
      }.toMap
      val tot = raw.values.sum
      nodes.map(nd => nd -> raw(nd) * scale / tot).toMap
    }
    var h: Map[String, BigInt] = nodes.map(_ -> BigInt(scale / nodes.size)).toMap
    var a: Map[String, BigInt] = Map.empty
    for (_ <- 1 to iters) {
      a = half(h, rev = false)
      h = half(a, rev = true)
    }
    nodes.map(nd => nd -> ((h(nd).toLong, a(nd).toLong))).toMap
  }

  test("personalizedPageRank: driver integer reference; all-seeds degenerates to pageRank") {
    import spark.implicits._
    val edges = Seq(("a", "b", 1L), ("b", "c", 2L), ("c", "a", 1L),
      ("c", "b", 1L), ("d", "a", 1L)) // d is rankless under seeds {a}
    val df = edges.toDF("src", "dst", "w")
    def reference(seeds: Set[String], iters: Int): Map[String, Long] = {
      val scale = 1000000000000L
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val wsum = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
      val baseSeed = (scale * 15L) / (100L * seeds.size)
      var rank = nodes.map(n =>
        n -> (if (seeds(n)) scale / seeds.size else 0L)).toMap
      for (_ <- 1 to iters) {
        val in = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
        edges.foreach { case (s, d, w) =>
          in(d) += rank(s) * w / wsum(s)
        }
        rank = nodes.map(n =>
          n -> ((if (seeds(n)) baseSeed else 0L) + 85L * in(n) / 100L)).toMap
      }
      rank
    }
    val got = Graph.personalizedPageRank(df,
        Seq("a").toDF("node"), iters = 4, weightCol = Some("w"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == reference(Set("a"), 4))
    // seed mass flows a -> b -> c; the seedless feeder d holds no rank
    assert(got("d") == 0L && got("a") > got("d"))
    // seeding EVERY node with uniform init = plain pageRank (no dangling
    // redistribution): same base, same init, same recursion
    val all = Graph.personalizedPageRank(df,
        Seq("a", "b", "c", "d").toDF("node"), iters = 4, weightCol = Some("w"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val plain = Graph.pageRank(df, iters = 4, weightCol = Some("w"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(all == plain)
  }

  test("hits matches the driver-side integer reference; hub/authority roles separate") {
    import spark.implicits._
    // a fans out (hub), c collects (authority), b does both
    val edges = Seq(("a", "b", 1L), ("a", "c", 2L), ("b", "c", 1L),
      ("d", "c", 1L), ("a", "d", 1L))
    val got = Graph.hits(edges.toDF("src", "dst", "w"), iters = 3,
      weightCol = Some("w"))
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("hub"), r.getAs[Long]("auth")))).toMap
    assert(got == refHits(edges, iters = 3))
    // roles: a is the best hub, c the best authority
    assert(got("a")._1 == got.values.map(_._1).max)
    assert(got("c")._2 == got.values.map(_._2).max)
    // unweighted default = weight-1 edges
    val unw = Graph.hits(edges.map(e => (e._1, e._2)).toDF("src", "dst"),
      iters = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("hub"), r.getAs[Long]("auth")))).toMap
    assert(unw == refHits(edges.map(e => (e._1, e._2, 1L)), iters = 2))
  }
}
