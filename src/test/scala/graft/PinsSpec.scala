package graft

import graft.operators.{Classifier, Dedup, Graph, Similarity, Tokenizer}
import graft.ops.Pins
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `graft.ops.Pins.scope` owns every checkpoint pin of the iterative
  * operators: a call leaves registered only the pins its result reads.
  * `Pins.scopedPersist` never releases a census another session still has
  * registered. */
class PinsSpec extends AnyFunSuite with SparkSpec {

  private def registered: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def readBy(out: Any): Set[Int] = out match {
    case df: DataFrame => df.queryExecution.analyzed
      .collectWithSubqueries { case lr: LogicalRDD => lr.rdd.id }.toSet
    case _ => Set.empty
  }

  /** The persistent RDDs `call` leaves registered that its result does not
    * read. Key sets, not sizes: the context cleaner may reclaim other
    * tests' pins mid-call. A DataFrame result is then run, so a pin
    * released too early fails here too. */
  private def leaked(call: => Any): Set[Int] = {
    val before = registered
    val out = call
    val left = registered -- before -- readBy(out)
    out match {
      case df: DataFrame => df.count(): Unit
      case _ =>
    }
    left
  }

  test("every scoped operator leaves registered only the pins its result reads") {
    import spark.implicits._
    val edges = (for (u <- 1L to 12L; v <- 1L to 12L if u != v && (u + v) % 3 == 0)
      yield (u, v)).toDF("src", "dst")
    val seeds = Seq(3L).toDF("node")
    val chain = Seq((2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L)).toDF("a_id", "b_id")
    val path = (0L until 12L).sliding(2).map(w => (w(0), w(1))).toSeq.toDF("a_id", "b_id")
    val rnd = new scala.util.Random(5)
    val vecs = (0L until 20L).map(i => (i, Array.fill(4)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val cand = Similarity.bruteForceTopK(vecs.filter(col("vec_id") < 2L), vecs, k = 6)
    val text = Seq((1L, "low low low lower newest widest"), (2L, "newer wider lowest"),
      (3L, "the thin thing thinks"), (4L, "hug pug pun bun hugs"))
      .toDF("doc_id", "text")
    val labelled = Seq((1L, "good fine nice", 1L), (2L, "good good fine", 1L),
      (3L, "bad awful", -1L), (4L, "awful awful bad", -1L)).toDF("doc_id", "text", "y")
    val cases: Seq[(String, () => Any)] = Seq(
      "pageRank" -> (() => Graph.pageRank(edges, iters = 5)),
      "personalizedPageRank" -> (() => Graph.personalizedPageRank(edges, seeds, iters = 5)),
      "hits" -> (() => Graph.hits(edges, iters = 3)),
      "kCore" -> (() => Graph.kCore(edges, k = 3)),
      "labelPropagation" -> (() => Graph.labelPropagation(edges, rounds = 5)),
      "clusters" -> (() => Dedup.clusters(chain)),
      "clusters (star fallback)" -> (() => Dedup.clusters(path, maxRounds = 2)),
      "starContraction" -> (() => Dedup.starContraction(path)),
      "kmeansIterate" -> (() => Similarity.kmeansIterate(vecs, k = 3, rounds = 3)),
      "kCenterGreedy" -> (() => Similarity.kCenterGreedy(vecs, k = 4)),
      "mmrRerank" -> (() => Similarity.mmrRerank(cand, vecs, k = 4)),
      "trainBpe" -> (() => Tokenizer.trainBpe(text, 12)),
      "trainWordpieceMerges" -> (() => Tokenizer.trainWordpieceMerges(text, 12)),
      "trainPerceptron" -> (() => Classifier.trainPerceptron(labelled, col("y"), epochs = 3)),
      "personalizedPageRank (no seed in the graph)" -> (() =>
        assertThrows[IllegalArgumentException](
          Graph.personalizedPageRank(edges, Seq(999L).toDF("node")))))
    val leaks = cases.map { case (name, call) => name -> leaked(call()) }.filter(_._2.nonEmpty)
    assert(leaks.isEmpty, leaks.map { case (n, ids) => s"$n: ${ids.size}" }.mkString(
      "pins left registered that the result does not read — ", ", ", ""))
  }

  test("scopedPersist: a session's census stays cached while another session supersedes its own") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.storage.StorageLevel
    val other = spark.newSession()
    def census(s: SparkSession, n: Long) = Pins.scopedPersist("spec.sessions",
      s.range(n).groupBy((col("id") % 3).as("k")).count())
    def cached(df: DataFrame) = df.storageLevel != StorageLevel.NONE
    // different plans: a session's new census releases only its own old one
    val a = census(spark, 10)
    val b = census(other, 11)
    assert(cached(a) && cached(b))
    val b2 = census(other, 12)
    assert(cached(a) && !cached(b) && cached(b2))
    val a2 = census(spark, 13)
    assert(!cached(a) && cached(a2))
    // one plan in both sessions shares one cache entry: it stays until
    // both sessions have moved on
    val s = census(spark, 20)
    val o = census(other, 20)
    assert(cached(s) && cached(o) && !cached(a2) && !cached(b2))
    val s2 = census(spark, 21)
    assert(cached(o) && cached(s2))
    val o2 = census(other, 22)
    assert(!cached(o) && !cached(s) && cached(s2) && cached(o2))
    Seq(s2, o2).foreach(_.unpersist(blocking = false))
  }

  private def code(p: Path): Seq[String] = Files.readAllLines(p).asScala.toSeq
    .map(_.trim).filterNot(l => l.startsWith("*") || l.startsWith("//") || l.startsWith("/*"))

  test("graft.operators pins only through Pins.scope; no hand-placed release is left") {
    val main = Paths.get("src/main/scala")
    val sources = Files.walk(main).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    val bare = sources.filter(_.startsWith(main.resolve("graft/operators")))
      .flatMap(p => code(p).filter(_.contains("localCheckpoint(")).map(l => s"${p.getFileName}: $l"))
    assert(bare.isEmpty, s"a localCheckpoint outside a Pins scope: ${bare.mkString("; ")}")
    val release = sources.filter(p => Files.readString(p).contains("releaseCheckpoint"))
    assert(release.isEmpty, s"releaseCheckpoint is back in ${release.mkString(", ")}")
  }
}
