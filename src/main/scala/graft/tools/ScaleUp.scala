package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesize an sf1.0-equivalent benchmark directory by replicating the
  * driver's sf0.1 tables `factor`× with DECORRELATING perturbations — the
  * input for the scale-trend sweep (SCALE.md): measure each expensive
  * headliner at sf0.1 and sf1.0 and report the growth exponent, so the
  * "plan shape survives 100×" claims rest on a measured trend, not a single
  * scale point.
  *
  * Replication must not distort the workload's similarity structure, so the
  * perturbations are chosen to keep WITHIN-replica relationships exactly and
  * break CROSS-replica ones:
  *  - documents: tokens are rewritten by a CONTENT-keyed bijection (append a
  *    replica tag when murmur3(token) is even) — a bijection on the token
  *    vocabulary preserves every within-replica Jaccard/containment/minhash
  *    relationship bit-exactly, while two replicas of the SAME doc share
  *    only the ~half-untagged tokens (Jaccard ≈ 1/3, under every gate's
  *    threshold) — near-dup family count scales linearly, not quadratically.
  *  - embeddings: a per-replica SIGN-FLIP mask over components — an
  *    orthogonal transform, so all within-replica cosines are exactly
  *    preserved; cross-replica cosines decorrelate (≈ half the terms flip).
  *  - keys (doc_id, vec_id, orderkey, event_id, user_id) offset per replica:
  *    entity counts scale 10×, per-entity densities stay constant (more
  *    users, not hotter users — the realistic growth mode; hot-key behavior
  *    is probed separately by tools/SkewProbe).
  *  - dimension tables (customer, part, supplier, region, nation) copy
  *    unscaled: fact-over-dim growth, the usual warehouse shape.
  *
  * Output mirrors the driver layout: ONE parquet file per table at
  * `<out>/<table>.parquet`. Usage:
  *   runMain graft.tools.ScaleUp <outDir> [srcDir] [factor]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/root/repo/.bench-data/sf1")
    val src = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Probe.session("graft-scaleup")

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    // replica index 0..factor-1 per input row; replica 0 is the original
    def replicate(df: DataFrame): DataFrame =
      df.withColumn("__r", explode(sequence(lit(0), lit(factor - 1))))

    val keyOff = 10000000L

    val documents = replicate(read("documents"))
      .withColumn("doc_id", col("doc_id") + col("__r") * keyOff)
      .withColumn("text",
        when(col("__r") === 0, col("text")).otherwise(concat_ws(" ",
          transform(split(col("text"), " "),
            t => when(pmod(hash(t), lit(2)) === 0,
              concat(t, lit("q"), col("__r"))).otherwise(t)))))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("__r")

    val embeddings = replicate(read("embeddings"))
      .withColumn("vec_id", col("vec_id") + col("__r") * keyOff)
      .withColumn("embedding",
        transform(col("embedding"), (x, i) =>
          when(col("__r") > 0 &&
            pmod(hash(concat(col("__r").cast("string"), lit(":"), i.cast("string"))), lit(2)) === 0,
            -x).otherwise(x)))
      .drop("__r")

    val events = replicate(read("events"))
      .withColumn("event_id", col("event_id") + col("__r") * keyOff)
      .withColumn("user_id", col("user_id") + col("__r") * keyOff)
      .drop("__r")

    val orders = replicate(read("orders"))
      .withColumn("o_orderkey", col("o_orderkey") + col("__r") * keyOff)
      .drop("__r")

    val lineitem = replicate(read("lineitem"))
      .withColumn("l_orderkey", col("l_orderkey") + col("__r") * keyOff)
      .drop("__r")

    val scaled = Map("documents" -> documents, "embeddings" -> embeddings,
      "events" -> events, "orders" -> orders, "lineitem" -> lineitem)
    val copied = Seq("customer", "supplier", "part", "region", "nation")

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    def writeOne(name: String, df: DataFrame): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_scaleup_$name").toString
      df.repartition(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part written for $name"))
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$out/$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      println(s"[scaleup] $name -> $out/$name.parquet")
    }
    scaled.foreach { case (n, df) => writeOne(n, df) }
    copied.foreach { n =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$src/$n.parquet"),
        java.nio.file.Paths.get(s"$out/$n.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      println(s"[scaleup] $n copied")
    }
    spark.stop()
  }
}
