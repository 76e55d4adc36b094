package graft.operators

import graft.functions.TextFunctions
import graft.ops.Pins
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** In-engine LINEAR-CLASSIFIER TRAINING over hashed bag-of-words features —
  * the training step whose APPLY side is
  * [[graft.functions.TextFunctions.hashedBowMargin]] (the fastText-style
  * quality-filter margin): this closes the loop, so the quality model a
  * pipeline applies can be fit on exactly the corpora this library curates.
  * No reference analog (the reference has no model surface); part of the
  * LLM-data-pipeline extension family.
  *
  * The update rule is the full-batch PERCEPTRON subgradient (hinge at
  * margin 0): misclassified docs (y·m ≤ 0) contribute y·x to the weight of
  * every feature bucket they touch. Everything is INTEGER — token counts,
  * weights, margins, gradients — so training is bit-reproducible across
  * engines, partitionings, and evaluation orders, and a SQL oracle replays
  * it epoch for epoch with no float tolerance (the reason this trains with
  * the perceptron rule rather than logistic SGD: a sigmoid would put a
  * transcendental in the gradient, and libm disagreement across engines
  * would leak through the gate).
  *
  * Scale shape: the corpus collapses ONCE to the per-(doc, bucket) postings
  * frame (one corpus-sized shuffle with map-side combine, pinned); each
  * epoch is a broadcast join of postings × the weight vector, one doc-keyed
  * partial agg (margins), and one bucket-keyed partial agg (the gradient).
  * Driver traffic per epoch = the weight vector itself (≤ buckets+1 rows —
  * the artifact being trained, like the BPE argmax and the PQ codebook).
  */
object Classifier {

  /** md5 feature bucket of one token — [[TextFunctions.hashedBowMarginDyn]]'s
    * exact derivation (first 60 md5 bits mod `buckets`), portable: a SQL
    * replica states `('0x' || substr(md5(t), 1, 15))::UBIGINT % buckets`. */
  private def bucket(t: Column, buckets: Int): Column =
    pmod(conv(substring(md5(t), 1, 15), 16, 10).cast("long"),
      lit(buckets.toLong))

  /** Per-(doc, bucket) integer token counts, plus one BIAS posting
    * (bucket −1, x = 1) per document — the postings frame every training
    * epoch and the margin readout re-scan. One corpus-sized shuffle with
    * map-side combine; null/empty texts keep their bias row. */
  def hashedBowCounts(
      docs: DataFrame,
      buckets: Int = 64,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1: $buckets")
    val tok = docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("t"))
      .filter(length(col("t")) >= 1)
      .select(col(idCol), bucket(col("t"), buckets).as("b"))
      .groupBy(col(idCol), col("b")).agg(count(lit(1)).cast("long").as("x"))
    val bias = docs.select(col(idCol), lit(-1L).as("b"), lit(1L).as("x"))
    tok.unionByName(bias)
  }

  /** Full-batch perceptron training: `epochs` rounds of (integer margins
    * via the postings × broadcast-weights join, misclassified-docs
    * subgradient, weight update). `labelExpr` must evaluate to ±1 per row
    * (validated with one fail-fast pass). Returns the final (b, w) weight
    * table over every OBSERVED bucket (including the −1 bias), zeros kept
    * — the artifact [[TextFunctions.hashedBowMargin]] consumes after a
    * 1e-6 rescale, or [[marginsUnder]] applies exactly. */
  def trainPerceptron(
      docs: DataFrame,
      labelExpr: Column,
      buckets: Int = 64,
      epochs: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxBuckets: Int = 1 << 22): DataFrame = {
    require(epochs >= 0, s"epochs must be >= 0: $epochs")
    // the per-epoch driver round-trip is the weight vector (<= buckets+1
    // rows) and the broadcast back is the same table — the tokenizers'
    // maxInventory discipline: a pathological bucket count must fail
    // loudly here, not OOM the driver mid-epoch
    require(buckets <= maxBuckets,
      s"trainPerceptron: buckets=$buckets exceeds maxBuckets=$maxBuckets — " +
        "the weight table is driver-resident and broadcast per epoch; " +
        "lower buckets or raise maxBuckets if the driver can hold it")
    val spark = docs.sparkSession
    import spark.implicits._
    // corpus-sized work happens once; every epoch runs over these pins
    Pins.scope { pin =>
      val posts = pin(hashedBowCounts(docs, buckets, textCol, idCol))
      val labels = pin(docs.select(col(idCol), labelExpr.cast("long").as("y")))
      val bad = labels.filter(abs(col("y")) =!= 1 || col("y").isNull).limit(1)
      require(bad.isEmpty,
        s"trainPerceptron: labelExpr must be ±1 for every row " +
          s"(found ${bad.collect().mkString(",")})")
      var w = Map.empty[Long, Long].withDefaultValue(0L)
      for (_ <- 1 to epochs) {
        val wDF = w.toSeq.toDF("b", "w")
        val margins = posts.join(broadcast(wDF), Seq("b"), "left")
          .groupBy(col(idCol))
          .agg(sum(col("x") * coalesce(col("w"), lit(0L))).cast("long").as("m"))
        val grad = posts.join(margins, Seq(idCol)).join(labels, Seq(idCol))
          .filter(col("y") * col("m") <= 0)
          .groupBy(col("b")).agg(sum(col("y") * col("x")).cast("long").as("g"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        w = grad.foldLeft(w) { case (acc, (b, g)) => acc + (b -> (acc(b) + g)) }
      }
      // every observed bucket, zeros kept: the weight table's shape is a
      // function of the corpus, not of which buckets happened to move
      val observed = posts.select(col("b")).distinct().as[Long]
        .collect().sorted
      observed.map(b => (b, w(b))).toSeq.toDF("b", "w")
    }
  }

  /** Margin readout under a TRAINED integer weight table: per-doc margin,
    * label, and correctness — the apply side, exact (the postings join
    * replays training's margin pass under the final weights). */
  def marginsUnder(
      docs: DataFrame,
      weights: DataFrame,
      labelExpr: Column,
      buckets: Int = 64,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val posts = hashedBowCounts(docs, buckets, textCol, idCol)
    val labels = docs.select(col(idCol), labelExpr.cast("long").as("y"))
    posts.join(broadcast(weights), Seq("b"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("x") * coalesce(col("w"), lit(0L))).cast("long").as("margin"))
      .join(labels, Seq(idCol))
      .select(col(idCol), col("margin"), col("y"),
        (col("y") * col("margin") > 0).as("correct"))
  }
}
