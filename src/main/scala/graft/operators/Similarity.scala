package graft.operators

import graft.functions.VectorFunctions._
import graft.ops.Pins
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an `array<float>` embedding column.
  *
  * - [[bruteForceTopK]]: exact top-k cosine per query. The query side is
  *   broadcast, so the corpus is scanned once with NO shuffle of the corpus —
  *   this is the right plan at 100 TB when the query set is small (the common
  *   case: dedup probes, eval sets).
  * - [[annLsh]]: random-hyperplane LSH bucketing — corpus is shuffled once by
  *   bucket id; each query probes its own bucket plus hamming-1 neighbors
  *   (multi-probe), so per-query work is O(bucket) not O(corpus).
  */
object Similarity {

  /** Trained IVF coarse quantizers, keyed by (semanticHash of the corpus
    * plan, data fingerprint, nlist, trainFraction) — see [[annIvf]]. The
    * semantic hash alone could collide (the round-3 advice), but a collision
    * must ALSO agree on the data fingerprint to be served. For file-backed
    * corpora the fingerprint is a hash of the (path, size, modTime) listing —
    * metadata-only (the driver's FileIndex already holds it, NO job even for
    * a filtered/derived file scan) and it catches a parquet file overwritten
    * in place even at the same row count, which the former count()
    * fingerprint missed; non-file corpora (LocalRelation, cached frames)
    * fall back to a count() job. Keying on the hash rather than the plan
    * object keeps the cache from pinning whole analyzed plans (for a
    * LocalRelation corpus that would be a full copy of the data) in driver
    * memory. Bounded at 32 entries (cleared wholesale). */
  private val ivfModels = scala.collection.mutable.Map.empty[
    (Int, Long, Int, Double),
    scala.concurrent.Promise[org.apache.spark.ml.clustering.KMeansModel]]

  /** Drop every cached IVF quantizer — the escape hatch for corpus files
    * rewritten in place inside the fingerprint's mtime granularity (see
    * [[fileFingerprint]]'s caveat). The next [[annIvf]] call retrains. */
  def clearIvfCache(): Unit = ivfModels.synchronized { ivfModels.clear() }

  /** File-metadata fingerprint of a plan whose leaves are all file scans:
    * hash over the sorted (path, length, modificationTime) listing. None
    * when any leaf is not a file relation — the caller falls back to
    * count(). Caveat: an in-place overwrite that lands the same byte
    * length WITHIN the filesystem's mtime granularity (1 s on ext4 without
    * ns timestamps, 2 s on FAT) — or one made by a tool that deliberately
    * preserves mtime — is invisible to this fingerprint and serves the
    * stale quantizer. Callers that rewrite corpus files in place rapidly
    * should write to fresh paths (the Spark-native pattern: immutable
    * part files, swap the directory) or call [[clearIvfCache]]. */
  private def fileFingerprint(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    val rels = leaves.map {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => Some(fs)
        case _ => None
      }
      case _ => None
    }
    if (rels.isEmpty || rels.exists(_.isEmpty)) None
    else Some {
      val listing = rels.flatten
        .flatMap(_.location.listFiles(Nil, Nil))
        .flatMap(_.files)
        .map(f => s"${f.getPath}|${f.getLen}|${f.getModificationTime}")
        .sorted
      // full 64 bits of an md5 over the listing — a 32-bit hash birthday-
      // collides across ~65k cached variants, weakening the overwrite
      // guarantee the scaladoc makes. Entries stream into the digest: a
      // million-file listing must not materialize as one joined string on
      // the driver.
      val md = java.security.MessageDigest.getInstance("MD5")
      listing.foreach { e => md.update(e.getBytes("UTF-8")); md.update('\n'.toByte) }
      java.nio.ByteBuffer.wrap(md.digest()).getLong
    }
  }

  /** Trained centroids + params of the most recent successful [[annIvf]]
    * call — the verification hook `SparkEntry.oracleSql` reads to emit a
    * DuckDB oracle with the SAME centroid literals the query used (the fit
    * is seed-pinned but data-dependent, so the oracle cannot be a static
    * string; `Verify` runs every query before dumping the SQL, so the stash
    * is always populated when it matters). */
  final case class IvfRun(centroids: Array[Array[Double]], nlist: Int, nprobe: Int, k: Int)
  @volatile private var lastIvf: Option[IvfRun] = None
  def lastIvfRun: Option[IvfRun] = lastIvf

  /** Nearest-centroid cluster assignment with DETERMINISTIC centroids: the
    * `k` lowest-id vectors seed the clusters (an engine-portable choice —
    * no RNG, no iteration-order dependence — adequate for bucketing work
    * like [[graft.operators.Dedup.semanticDedup]]; use [[annIvf]]'s trained
    * quantizer when centroid QUALITY matters). Scale shape: the centroid
    * array is one broadcast row; assignment is a scan-local fold over it in
    * centroid-id order (strict `>` keeps the FIRST maximum, so cosine ties
    * go to the lowest centroid id — the same total order the oracle's
    * `ORDER BY cos DESC, cid` reproduces). No shuffle of the corpus at all.
    * A zero vector has NaN cosine against every centroid and keeps the
    * sentinel cluster -1 (NaN comparisons are false); callers on real data
    * should filter such vectors out first.
    *
    * `centroidSource` (default: the input itself) supplies the seed
    * vectors. Pass the kept CORPUS when assigning a different frame — in
    * particular a STREAMING ingest: the centroid subplan is a static
    * aggregate, so the operator runs unchanged as a stream-static broadcast
    * (spec-pinned batch parity in StreamingSpec) and routes arriving
    * vectors to stable clusters with zero streaming state. */
  def assignToCentroids(
      embeddings: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      centroidSource: Option[DataFrame] = None): DataFrame = {
    require(k > 0, s"need a positive cluster count: $k")
    val src = centroidSource.getOrElse(embeddings)
    val cents = src.select(col(idCol).as("id"), col(vecCol).as("v"))
      .orderBy(col("id")).limit(k)
      .agg(sort_array(collect_list(struct(col("id").as("cid"), col("v").as("cv"))))
        .as("cents"))
    assignAgainst(embeddings, cents, idCol, vecCol, "id", "v")
      .select(col("id").as(idCol), col("cluster"))
  }

  /** [[assignToCentroids]] keeping the vector column — internal to operators
    * that immediately need it again (saves a rejoin against the corpus). */
  private[operators] def assignWithVec(
      embeddings: DataFrame,
      k: Int,
      idCol: String,
      vecCol: String): DataFrame = {
    require(k > 0, s"need a positive cluster count: $k")
    val v = embeddings.select(col(idCol).as("id"), col(vecCol).as("v"))
    // sort_array on struct(cid, cv) orders by cid, fixing the fold order.
    val cents = v.orderBy(col("id")).limit(k)
      .agg(sort_array(collect_list(struct(col("id").as("cid"), col("v").as("cv"))))
        .as("cents"))
    assignAgainst(embeddings, cents, idCol, vecCol, "id", "v")
      .select(col("id"), col("v"), col("cluster"))
  }

  /** Nearest-centroid assignment against a PROVIDED one-row centroid frame
    * (`cents`: array of (cid, cv) structs, cid-sorted) — lets several
    * frames share the same centroids (e.g. a new batch assigned with the
    * reference corpus's seeds). Output columns are (outId, outVec, cluster).
    *
    * Evaluated by the native [[graft.functions.NearestCentroid]] expression
    * (one call per row); the semantically-identical HOF reference
    * formulation — `aggregate(cents, (-1L, -Inf), (acc, c) =>
    * if cos(v, c.cv) > acc.cos then (c.cid, cos) else acc)` — runs
    * interpreted with a lambda frame per centroid and measured 1.14 s /
    * 200k rows at k=8, linear in k (`tools/AssignProbe`); SimilaritySpec
    * pins the native result to a driver-side oracle of that fold. */
  private[operators] def assignAgainst(
      embeddings: DataFrame,
      cents: DataFrame,
      idCol: String,
      vecCol: String,
      outId: String,
      outVec: String): DataFrame = {
    import org.apache.spark.sql.GraftExpr
    embeddings.select(col(idCol).as(outId), col(vecCol).as(outVec))
      .crossJoin(broadcast(cents))
      .select(col(outId), col(outVec),
        GraftExpr.column(graft.functions.NearestCentroid(
          GraftExpr.expression(col(outVec)),
          GraftExpr.expression(col("cents")))).as("cluster"))
  }

  /** One Lloyd M-step over the nearest-centroid assignment: per-(cluster,
    * dimension) vector sums in FIXED-POINT — each component becomes
    * round(v·10^fpDigits) as a long, so the sum is exact integer
    * arithmetic: order-independent across partitions and bit-identical in
    * any engine (a float sum would be partial-order-dependent even between
    * two Spark runs). The new centroid mean is `sum_fp / (n·10^fpDigits)`,
    * one division the caller ([[updatedCentroids]]) applies.
    *
    * Scale shape: assignment is scan-local against the broadcast seed row;
    * the explode emits (cluster, dim, fp) rows that partial-aggregate
    * map-side to k·dims rows — the only shuffle is that tiny frame.
    * Overflow headroom: |fp| ≤ \|v\|·10^fpDigits, so ~10^8 per component at
    * the default 7 digits — 10¹⁰ rows per cluster before nearing 2⁶³
    * (ANSI mode raises rather than wrapping); drop fpDigits for extreme
    * cluster sizes. Unassigned rows (cluster −1: zero vectors) are
    * excluded. */
  def centroidUpdate(
      embeddings: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      fpDigits: Int = 7): DataFrame = {
    require(fpDigits >= 1 && fpDigits <= 15, s"fpDigits out of [1,15]: $fpDigits")
    val scale = math.pow(10, fpDigits) // exact in double up to 10^15
    assignWithVec(embeddings, k, idCol, vecCol)
      .filter(col("cluster") >= 0L)
      .select(col("cluster"), posexplode(col("v")))
      .select(col("cluster"), col("pos").cast("long").as("dim"),
        round(col("col").cast("double") * lit(scale)).cast("long").as("__fp"))
      .groupBy("cluster", "dim")
      .agg(count(lit(1)).as("n"), sum(col("__fp")).as("sum_fp"))
  }

  /** The M-step stats reduced to next-iteration centroids: one row per
    * cluster with the mean vector (dims in order). k·dims rows in, k rows
    * out — driver never involved. */
  def updatedCentroids(stats: DataFrame, fpDigits: Int = 7): DataFrame = {
    val scale = math.pow(10, fpDigits)
    stats
      .withColumn("__mean",
        col("sum_fp").cast("double") / (col("n").cast("double") * lit(scale)))
      .groupBy("cluster")
      .agg(transform(
        sort_array(collect_list(struct(col("dim"), col("__mean")))),
        s => s.getField("__mean")).as("cv"))
      .select(col("cluster").as("cid"), col("cv"))
  }

  /** Full Lloyd loop: `rounds` iterations of assign → fixed-point M-step →
    * new centroids, seeded like [[assignToCentroids]] (first k by id).
    * Returns the final (cid, cv) centroid frame. Each round's centroid
    * frame is k·dims-sized and pinned eagerly (localCheckpoint) so the
    * iterated plan stays constant-size — the Dedup.clusters discipline.
    * Empty clusters drop out (SemDeDup-style k shrinks rather than
    * reseeding — deterministic, and honest about a dead seed). */
  def kmeansIterate(
      embeddings: DataFrame,
      k: Int,
      rounds: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      fpDigits: Int = 7): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0: $rounds")
    val v = embeddings.select(col(idCol).as("id"), col(vecCol).as("v"))
    Pins.scope { pin =>
      var cents = pin(v.orderBy(col("id")).limit(k)
        .select(col("id").as("cid"), transform(col("v"),
          x => x.cast("double")).as("cv")))
      for (_ <- 1 to rounds) {
        val one = cents.agg(sort_array(collect_list(
          struct(col("cid"), col("cv")))).as("cents"))
        val assigned = assignAgainst(embeddings, one, idCol, vecCol, "id", "v")
          .filter(col("cluster") >= 0L)
        val scale = math.pow(10, fpDigits)
        val stats = assigned
          .select(col("cluster"), posexplode(col("v")))
          .select(col("cluster"), col("pos").cast("long").as("dim"),
            round(col("col").cast("double") * lit(scale)).cast("long").as("__fp"))
          .groupBy("cluster", "dim")
          .agg(count(lit(1)).as("n"), sum(col("__fp")).as("sum_fp"))
        cents = pin(updatedCentroids(stats, fpDigits))
        pin.retain(cents)
      }
      cents
    }
  }

  /** FAISS-style PQ TRAINING: per-subspace L2 Lloyd refinement of the
    * first-k-by-id seeded codebooks. For each subspace j, `rounds`
    * iterations of assignment (argmin left-fold Σ(v−c)² with lower-index
    * ties — [[graft.functions.VectorFunctions.nearestCells]], the SAME
    * geometry ADC scoring uses; cosine-objective refinement was measured
    * WORSE than plain seeding on this path) → the exact fixed-point
    * M-step of [[centroidUpdate]]. Per round only the k·subDim centroid
    * matrix — index METADATA, not data — crosses the driver to re-literal
    * the assignment expression; the M-step itself is a scan-local assign
    * + (cell, dim)-keyed partial agg, so the loop holds at any corpus
    * size. Dead cells KEEP their previous codeword (ADC needs a codeword
    * per code id, unlike [[kmeansIterate]]'s honest shrink).
    *
    * Returns the m per-subspace codebooks CONCATENATED into k full-dim
    * rows (index order): [[pqCodebook]] re-slices a `codebookSource`
    * built from them into exactly these per-subspace codebooks, so the
    * result drops straight into [[pqEncode]] / [[pqSearch]] /
    * [[ivfPqSearch]]. Cross-subspace pairing is irrelevant — subspaces
    * quantize independently. */
  def pqTrainCodebooks(
      corpus: DataFrame,
      m: Int,
      k: Int,
      dim: Int,
      rounds: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      fpDigits: Int = 7): Array[Array[Double]] = {
    require(m >= 1 && k >= 1 && dim >= m && dim % m == 0,
      s"need m >= 1, k >= 1, m | dim: m=$m k=$k dim=$dim")
    require(rounds >= 0, s"rounds must be >= 0: $rounds")
    require(fpDigits >= 1 && fpDigits <= 15, s"fpDigits out of [1,15]: $fpDigits")
    val subDim = dim / m
    val scale = math.pow(10, fpDigits)
    val perSub: Seq[Array[Array[Double]]] = (0 until m).map { j =>
      val sub = corpus.select(col(idCol).as("id"),
        transform(slice(col(vecCol), j * subDim + 1, subDim),
          _.cast("double")).as("v"))
      var cents: Array[Array[Double]] = sub.orderBy(col("id")).limit(k)
        .collect().map(_.getSeq[Double](1).toArray)
      for (_ <- 1 to rounds) {
        val stats = sub
          .withColumn("cell",
            element_at(nearestCells(col("v"), cents, 1), 1))
          .select(col("cell"), posexplode(col("v")))
          .select(col("cell"), col("pos"),
            round(col("col") * lit(scale)).cast("long").as("__fp"))
          .groupBy("cell", "pos")
          .agg(count(lit(1)).as("n"), sum(col("__fp")).as("s"))
          .collect()
        val next = cents.map(_.clone())
        stats.foreach { r =>
          val cell = r.getInt(0)
          val d = r.getInt(1)
          next(cell)(d) =
            r.getLong(3).toDouble / (r.getLong(2).toDouble * scale)
        }
        cents = next
      }
      cents
    }
    val kEff = perSub.map(_.length).min
    (0 until kEff).map(i => perSub.map(_(i)).reduce(_ ++ _)).toArray
  }

  /** Exact top-k cosine neighbors for each query vector. Ranking key is the
    * cosine with id tiebreak; accumulation order is fixed (array order), so
    * the ranking is fully deterministic and engine-portable. */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_v"))
    val parts = corpus.sparkSession.sessionState.conf.numShufflePartitions
    // corpus is the streamed BNLJ side: its partitioning sets the pair-scan
    // parallelism (a single-file local read would otherwise run one task)
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_v")).repartition(parts)
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("cos", cosineSimilarity(col("q_v"), col("n_v")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), col("cos"))
  }

  /** Prototype-based cluster pruning (Sorscher et al. 2022 "Beyond neural
    * scaling laws" / SemDeDup's keep-policy sibling): bucket the corpus by
    * the seeded sign-bit LSH cells, rank every vector WITHIN its cell by
    * squared distance to the cell centroid, and keep the top `keepPct`% —
    * closest-first (`keepClosest = true`, the prototypical core) or
    * farthest-first (false, the hard-example slice the paper keeps when
    * data is plentiful). Returns `(id, bucket, d2, rank, keep)` for every
    * non-null vector.
    *
    * Determinism: components quantize once to round(x·1000) integers (the
    * [[randomProject]] discipline), so the per-cell centroid is an exact
    * integer sum divided once per coordinate (one IEEE divide), and d2 is
    * a FIXED-ORDER left fold over the coordinate array — bit-identical on
    * any engine, partitioning, or row order; the keep cut
    * `(rank−1)·100 < keepPct·n` is pure integers (= rank ≤ ⌈pct·n/100⌉).
    *
    * Scale shape: one scan to (bucket, coordinate) integer partial aggs
    * (2^nPlanes × dim rows — KiBs), centroid arrays broadcast back onto
    * the scan for the fold, one per-cell window for the rank. The window
    * shuffles the corpus once on bucket; at 100 TB size cells via nPlanes
    * so the per-cell sort fits an executor (the usual LSH-granularity
    * lever). Vectors must share one dimensionality: with nPlanes ≥ 1 a
    * ragged vector fails fast in the bucketer; the nPlanes = 0 global
    * cell has no bucketer to catch it, so validate width upstream. */
  def prototypeScores(
      vecs: DataFrame,
      nPlanes: Int = 4,
      dim: Int = 64,
      keepPct: Int = 50,
      keepClosest: Boolean = true,
      seed: Long = 0x5DEECE66DL,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(keepPct >= 0 && keepPct <= 100, s"keepPct must be in [0,100]: $keepPct")
    val planes = makePlanes(nPlanes, dim, seed)
    // nPlanes = 0 is the legitimate degenerate: ONE cell, the global
    // centroid — the whole-corpus prototypicality ranking
    val bucketCol = if (planes.isEmpty) lit(0L)
      else hyperplaneBucket(col(vecCol), planes).cast("long")
    val q = vecs.filter(col(vecCol).isNotNull)
      .select(col(idCol),
        bucketCol.as("bucket"),
        transform(col(vecCol),
          x => round(x.cast("double") * lit(1000.0)).cast("long")).as("__q"))
    val comp = q.select(col(idCol), col("bucket"),
      posexplode(col("__q")).as(Seq("__i", "__x")))
    val cent = comp.groupBy(col("bucket"), col("__i"))
      .agg(sum(col("__x")).cast("long").as("__s"),
        count(lit(1)).cast("long").as("__n"))
    val ca = cent.groupBy(col("bucket"))
      .agg(max(col("__n")).as("__n"),
        transform(sort_array(collect_list(struct(col("__i"), col("__s")))),
          e => e.getField("__s").cast("double")).as("__sa"))
      .select(col("bucket"), col("__n"),
        transform(col("__sa"), s => s / col("__n").cast("double")).as("__c"))
    // native L2Distance (r18): same left-fold/null contract as the
    // aggregate(zip_with) it replaces — per-row lambda frames were the
    // scan cost
    val d = q.join(broadcast(ca), Seq("bucket"))
      .withColumn("d2", graft.functions.VectorFunctions
        .l2Distance(col("__q"), col("__c")))
    val ord = if (keepClosest) col("d2").asc else col("d2").desc
    d.withColumn("rank", row_number().over(
        Window.partitionBy(col("bucket")).orderBy(ord, col(idCol).asc)).cast("long"))
      .withColumn("keep",
        (col("rank") - lit(1L)) * lit(100L) < lit(keepPct.toLong) * col("__n"))
      .select(col(idCol), col("bucket"), col("d2"), col("rank"), col("keep"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019 — the CCMatrix /
    * LASER parallel-corpus miner): for every x in `xs`, its best y in
    * `ys` by the RATIO MARGIN `cos(x,y) / (Σtopk(x)/2k + Σtopk(y)/2k)` —
    * raw cosine normalized by both points' neighborhood density, which
    * kills the hub vectors that plain cosine mining pairs with
    * everything. Emits one row per x: `(x_id, y_id, cos_q, margin_fp,
    * mutual)`, where `mutual` marks pairs that are ALSO y's best x — the
    * bidirectional filter CCMatrix keeps.
    *
    * Determinism: cosines quantize once to `round(cos·10¹²)` integers, so
    * the k-neighborhood sums are order-free exact integer sums, and the
    * margin is one fixed-order double expression over those integers
    * rounded to 1e-6 fixed point — hash-gateable on any engine. Ties
    * break (cos_q desc, id asc) for neighborhoods and (margin desc, id
    * asc) for winners; a non-positive denominator yields a null margin
    * (sorted last). Sides with fewer than k candidates use their actual
    * neighborhood size.
    *
    * Scale shape: this is the BRUTE-pair baseline (|X|·|Y| scored once,
    * broadcast X) — at corpus scale generate candidates with [[annLsh]] /
    * [[annIvf]] buckets first and feed the candidate pairs through the
    * same margin normalization; the margin math itself is two keyed
    * integer sums + one broadcast-able join, never quadratic. */
  def bitextMarginMine(
      xs: DataFrame,
      ys: DataFrame,
      k: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    // null vectors carry no geometry: dropping them here keeps every
    // neighborhood sum over real cosines (a null cos would otherwise be
    // skipped by sum but counted by count, skewing the margin denominator)
    val x = xs.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("x_id"), col(vecCol).as("x_v"))
    val parts = ys.sparkSession.sessionState.conf.numShufflePartitions
    val y = ys.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("y_id"), col(vecCol).as("y_v"))
      .repartition(parts)
    val scored = y.join(broadcast(x), lit(true))
      .select(col("x_id"), col("y_id"),
        round(cosineSimilarity(col("x_v"), col("y_v")) *
          lit(1000000000000.0)).cast("long").as("cos_q"))
    marginOverPairs(scored, k)
  }

  /** [[bitextMarginMine]]'s 100 TB path: the SAME ratio-margin math over
    * LSH CANDIDATE pairs instead of the brute |X|·|Y| scan — y keeps its
    * sign-bit bucket, x probes its own bucket plus every hamming-1
    * neighbor ([[annLsh]]'s multi-probe), so the candidate set is exactly
    * the bucket-hamming ≤ 1 pairs.
    *
    * Scale shape: NEITHER corpus is ever broadcast. The bucket join
    * carries BARE (id, bucket) rows — vectors stay out of it entirely
    * (the [[graft.operators.Dedup.embeddingCosinePairsLsh]] discipline) —
    * and because 2^nPlanes bucket values are far fewer keys than a
    * cluster has reducers, it runs bucket-SALTED ([[graft.ops.Skew]]'s
    * salted-join lever): each y row routes to one of `salt` sub-keys by
    * id hash, the x probe rows replicate over all of them, so reducer
    * fan-out is 2^nPlanes·salt regardless of bucket skew. Replication
    * cost = (1+nPlanes)·salt bare-id rows per x vector — pick
    * salt ≈ cluster parallelism / 2^nPlanes. Vectors rejoin the
    * candidate pairs on their own high-cardinality ids; total shuffle
    * volume is candidates + the two id-keyed rejoins, never n² and never
    * a resident corpus copy.
    *
    * Recall lever: pass several `seeds` — each seed buckets with an
    * independent plane set, candidates union before ONE margin pass, so
    * a true neighbor pair is missed only if EVERY seed's planes separate
    * it by ≥ 2 bits (miss rates multiply, the multi-seed contract of
    * [[graft.operators.Dedup.embeddingCosinePairsLsh]]). Multi-seed adds
    * one (x_id, y_id) distinct over the post-LSH candidate volume;
    * single-seed keeps the distinct-free plan (a pair meets at most once
    * per seed: y holds one bucket, x's 1+nPlanes probe values are
    * pairwise distinct). Neighborhood sums — the margin's density
    * normalizer — run over each point's top-k CANDIDATES, the standard
    * mined-bitext approximation; nPlanes = 0 degenerates to one bucket =
    * the exact brute result (spec-pinned). */
  def bitextMarginMineLsh(
      xs: DataFrame,
      ys: DataFrame,
      k: Int = 4,
      nPlanes: Int = 4,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      seeds: Seq[Long] = Seq(0x5DEECE66DL),
      salt: Int = 16): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(seeds.nonEmpty, "need at least one plane seed")
    require(salt >= 1, s"salt must be >= 1: $salt")
    val parts = ys.sparkSession.sessionState.conf.numShufflePartitions
    val x = xs.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("x_id"), col(vecCol).as("x_v"))
    val y = ys.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("y_id"), col(vecCol).as("y_v"))
      .repartition(parts)
    // candidate id-pairs under one seed's plane set — bare ids only
    def candidatesFor(seed: Long): DataFrame = {
      val planes = makePlanes(nPlanes, dim, seed)
      def bucketOf(v: org.apache.spark.sql.Column) =
        if (planes.isEmpty) lit(0) else hyperplaneBucket(v, planes)
      val yb = y.select(col("y_id"), bucketOf(col("y_v")).as("bucket"))
        .withColumn("__s", pmod(hash(col("y_id")), lit(salt)))
      val xb = x.select(col("x_id"), bucketOf(col("x_v")).as("bucket0"))
        .select(col("x_id"), explode(array(
          (col("bucket0") +: (0 until nPlanes).map(i =>
            col("bucket0").bitwiseXOR(lit(1 << i)))): _*)).as("bucket"))
        .withColumn("__s", explode(array((0 until salt).map(lit): _*)))
      yb.join(xb, Seq("bucket", "__s")).select(col("x_id"), col("y_id"))
    }
    val unioned = seeds.map(candidatesFor).reduce(_ union _)
    val candidates = if (seeds.size == 1) unioned else unioned.distinct()
    val scored = candidates
      .join(x, Seq("x_id"))
      .join(y.select(col("y_id"), col("y_v")), Seq("y_id"))
      .select(col("x_id"), col("y_id"),
        round(cosineSimilarity(col("x_v"), col("y_v")) *
          lit(1000000000000.0)).cast("long").as("cos_q"))
    marginOverPairs(scored, k)
  }

  /** [[bitextMarginMine]]'s OTHER 100 TB path: candidates from an
    * IVF-style coarse quantizer instead of random hyperplanes — the
    * structure-aware pruning for corpora that CLUSTER (LSH's planes are
    * data-oblivious; cells follow the data). y keeps its single nearest
    * cell, x probes its `nprobe` nearest (exactly [[annIvf]]'s probe
    * rule), so the candidate set is the co-cell pairs. Centroids are
    * DETERMINISTIC — the `nlist` lowest-id y vectors, the
    * [[assignToCentroids]] seeding convention — so the whole relation is
    * a pure, engine-checkable function of its inputs; pass
    * `codebookSource` — a (cell_id, vector) frame, e.g.
    * [[kmeansIterate]]'s (cid, cv) output — to swap in a TRAINED coarse
    * quantizer when centroid quality matters (the scoring plan is
    * identical; cells index by ascending cell_id). The codebook is
    * BOUNDED METADATA — nlist rows, the driver's index artifact, same
    * contract as [[pqSearch]]'s codebookSource — and caps at `nlist`
    * lowest-cell_id rows.
    * Same scale shape as [[bitextMarginMineLsh]]: the cell join carries
    * BARE ids, cell-SALTED (nlist cells are few reducer keys), vectors
    * rejoin on their own high-cardinality ids — neither corpus is ever
    * broadcast or required resident; driver traffic is the nlist-row
    * codebook. A pair meets at most once (y holds one cell; x's nprobe
    * probe cells are distinct). nprobe = nlist degenerates to the exact
    * brute result — every cell probed (spec-pinned). */
  def bitextMarginMineIvf(
      xs: DataFrame,
      ys: DataFrame,
      k: Int = 4,
      nlist: Int = 16,
      nprobe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      salt: Int = 16,
      codebookSource: Option[DataFrame] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(nlist >= 1, s"nlist must be >= 1: $nlist")
    require(nprobe >= 1 && nprobe <= nlist,
      s"nprobe must be in [1, nlist]: $nprobe")
    require(salt >= 1, s"salt must be >= 1: $salt")
    val parts = ys.sparkSession.sessionState.conf.numShufflePartitions
    val x = xs.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("x_id"), col(vecCol).as("x_v"))
    val y = ys.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("y_id"), col(vecCol).as("y_v"))
      .repartition(parts)
    // bounded codebook collect: nlist rows (the driver's index artifact) —
    // trained cells if a codebook frame is supplied, else the deterministic
    // lowest-id y seeds
    val cbSrc = codebookSource.getOrElse(y)
    val seedRows = cbSrc.orderBy(col(cbSrc.columns.head).asc)
      .limit(nlist).collect()
    require(seedRows.nonEmpty, "bitextMarginMineIvf: empty codebook source")
    val centroids = seedRows.sortBy(_.getLong(0)).map(_.getSeq[Any](1).map {
      case f: Float => f.toDouble
      case d: Double => d
    }.toArray)
    val probes = math.min(nprobe, centroids.length)
    val yb = y.select(col("y_id"),
        element_at(nearestCells(col("y_v"), centroids, 1), 1).as("cell"))
      .withColumn("__s", pmod(hash(col("y_id")), lit(salt)))
    val xb = x.select(col("x_id"),
        explode(nearestCells(col("x_v"), centroids, probes)).as("cell"))
      .withColumn("__s", explode(array((0 until salt).map(lit): _*)))
    val candidates = yb.join(xb, Seq("cell", "__s"))
      .select(col("x_id"), col("y_id"))
    val scored = candidates
      .join(x, Seq("x_id"))
      .join(y.select(col("y_id"), col("y_v")), Seq("y_id"))
      .select(col("x_id"), col("y_id"),
        round(cosineSimilarity(col("x_v"), col("y_v")) *
          lit(1000000000000.0)).cast("long").as("cos_q"))
    marginOverPairs(scored, k)
  }

  /** The THIRD bitext candidate generator, completing the mining-side ANN
    * symmetry (LSH planes / IVF cells / PQ codes): candidates come from
    * the SAME salted co-cell join as [[bitextMarginMineIvf]], but are
    * then RANKED BY PQ-ADC DISTANCE (Jégou et al. 2011 — m table lookups
    * over [[pqEncode]] codes, never the raw vectors) and only each x's
    * `cand` best survive to the exact cosine + margin verify
    * ([[marginOverPairs]]) — the FAISS `IVFx,PQy` read path applied to
    * mining: both prunings multiply, and the expensive exact scoring
    * touches cand·|X| pairs instead of every co-cell pair.
    *
    * Determinism: cells and codebooks are the first-rows-by-id seeds
    * (the [[bitextMarginMineIvf]] / [[pqEncode]] conventions); ADC
    * distances are the same left-fold [[d2]] doubles the oracle replays;
    * the per-x cut orders (adc_d2 asc, y_id asc). Codes are the SEED IDS
    * (pqCodebook's cid convention), so table lookups key exactly.
    *
    * Scale shape: the cell join carries (id, cell, m code longs) — codes
    * are m·8 bytes, not vectors — cell-SALTED like the IVF path; x's ADC
    * tables (m maps of kCodes doubles, KBs) rejoin the candidate pairs
    * on their own high-cardinality x_id, exact vectors rejoin only the
    * ADC survivors. Neither corpus is broadcast or resident; driver
    * traffic is the nlist-row cell codebook + the kCodes-row PQ codebook.
    *
    * Parameter guidance (BitextProbe agreement-vs-brute table, random
    * sf0.01 corpus): m=4/kCodes=16 ADC is nearly signal-free on random
    * data (cand=8 keeps 49/250 winners, growing only linearly in cand);
    * the r17 defaults m=8/kCodes=32/cand=16 rank far better, and with
    * the full cell fan-out (nprobe = nlist — random data has no cell
    * structure to prune) keep 129/250, ABOVE the IVF path's 113/250
    * co-cell ceiling at ~1/4 of its exact-scoring budget. On clustered
    * real embeddings keep nprobe < nlist: cells then prune honestly and
    * the same ADC budget concentrates on real neighbors.
    *
    * `seeds` is the multi-codebook recall lever (the
    * [[bitextMarginMineLsh]] `seeds` analog): each seed derives an
    * INDEPENDENT deterministic codebook (kCodes rows in md5(id:seed)
    * order — engine-portable, so the oracle replays each), shortlists
    * are unioned before the exact verify, and a brute winner is missed
    * only if every codebook's ADC ranks it below `cand`. Empty (the
    * default) keeps the single first-kCodes-by-id codebook. */
  def bitextMarginMinePq(
      xs: DataFrame,
      ys: DataFrame,
      k: Int = 4,
      cand: Int = 16,
      nlist: Int = 16,
      nprobe: Int = 4,
      m: Int = 8,
      kCodes: Int = 32,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      salt: Int = 16,
      seeds: Seq[Long] = Seq.empty): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(cand >= 1, s"cand must be >= 1: $cand")
    require(nlist >= 1, s"nlist must be >= 1: $nlist")
    require(nprobe >= 1 && nprobe <= nlist,
      s"nprobe must be in [1, nlist]: $nprobe")
    require(m >= 1 && kCodes >= 1 && dim >= m && dim % m == 0,
      s"need m >= 1, kCodes >= 1, m | dim: m=$m kCodes=$kCodes dim=$dim")
    require(salt >= 1, s"salt must be >= 1: $salt")
    val subDim = dim / m
    val parts = ys.sparkSession.sessionState.conf.numShufflePartitions
    val x = xs.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("x_id"), col(vecCol).as("x_v"))
      // r19, guide §2.5: the x side's per-row probe/table/bucket work
      // (the m ADC distance-table builds) otherwise runs
      // inside a single-row-group scan task; y was already repartitioned
      .repartition(parts)
    val y = ys.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("y_id"), col(vecCol).as("y_v"))
      .repartition(parts)
    // bounded metadata: the nlist cell seeds + the kCodes-row PQ codebook
    val seedRows = y.orderBy(col("y_id").asc).limit(nlist).collect()
    require(seedRows.nonEmpty, "bitextMarginMinePq: empty y corpus")
    val centroids = seedRows.sortBy(_.getLong(0)).map(_.getSeq[Any](1).map {
      case f: Float => f.toDouble
      case d: Double => d
    }.toArray)
    val probes = math.min(nprobe, centroids.length)
    // One ADC shortlist per codebook: `seedTag = None` is the default
    // first-kCodes-by-id codebook; a Some(tag) picks the md5-ordered
    // sample (pqCodebook) — the [[bitextMarginMineLsh]] `candidatesFor`
    // convention applied to codebooks instead of plane sets.
    def shortlistFor(seedTag: Option[String]): DataFrame = {
      val cb = pqCodebook(y, m, kCodes, subDim, "y_id", "y_v", seedTag)
      // y side: cell + m code longs, one scan against two broadcast rows
      // POSITIONAL codes (r18): codes carry the codeword's index in the
      // cid-sorted codebook instead of its cid, and the ADC tables below
      // are plain arrays in the same order — the per-pair lookup is then
      // an O(1) array index where the cid-keyed `element_at(map, code)`
      // paid an O(kCodes) linear scan of an UnsafeMapData per subspace
      // per candidate pair (m·kCodes/2 key comparisons x the full
      // co-cell pair fan-out — the dominant q_bitext_pq stage cost).
      // Same argmin, same d2 doubles, same sum order, same null/sentinel
      // drops => bit-identical shortlist.
      val yb = y.crossJoin(broadcast(cb))
        .select(col("y_id") +:
          element_at(nearestCells(col("y_v"), centroids, 1), 1).as("cell") +:
          pqCodeColumns(m, subDim, "y_v", positional = true): _*)
        .withColumn("__s", pmod(hash(col("y_id")), lit(salt)))
      val xb = x.select(col("x_id"),
          explode(nearestCells(col("x_v"), centroids, probes)).as("cell"))
        .withColumn("__s", explode(array((0 until salt).map(lit): _*)))
      val pairs = yb.join(xb, Seq("cell", "__s"))
        .select(col("x_id") +: col("y_id") +:
          (0 until m).map(j => col(s"code_$j")): _*)
      // x's ADC distance tables: position -> ||x_j - codeword||^2, m
      // arrays per x in codebook (cid-sorted) order — see the positional
      // note above
      val tables = (0 until m).map { j =>
        val xSub = slice(transform(col("x_v"), _.cast("double")),
          j * subDim + 1, subDim)
        transform(col(s"__cb_$j"), c => d2(c.getField("cv"), xSub))
          .as(s"__dt_$j")
      }
      val xt = x.crossJoin(broadcast(cb))
        .select(col("x_id") +: tables: _*)
      // -1 sentinel -> null term -> null sum -> dropped by the isNotNull
      // below, exactly the old map-miss semantics
      val adcScore = (0 until m)
        .map(j => when(col(s"code_$j") >= 0,
          element_at(col(s"__dt_$j"), (col(s"code_$j") + 1).cast("int"))))
        .reduceLeft(_ + _)
      val wCand = Window.partitionBy(col("x_id"))
        .orderBy(col("adc_d2").asc, col("y_id").asc)
      pairs.join(xt, Seq("x_id"))
        .select(col("x_id"), col("y_id"), adcScore.as("adc_d2"))
        .where(col("adc_d2").isNotNull)
        .withColumn("__rn", row_number().over(wCand))
        .filter(col("__rn") <= cand)
        .select(col("x_id"), col("y_id"))
    }
    // Multi-seed union (recall lever, the LSH path's `seeds` analog):
    // each codebook's ADC noise is quasi-independent, so a brute winner
    // is lost only if EVERY codebook ranks it below cand — the exact
    // verify then touches at most |seeds|·cand pairs per x.
    val tags: Seq[Option[String]] =
      if (seeds.isEmpty) Seq(None) else seeds.map(s => Some(s":pqcb:$s"))
    val unioned = tags.map(shortlistFor).reduce(_ union _)
    val shortlist = if (tags.size == 1) unioned else unioned.distinct()
    val scored = shortlist
      .join(x, Seq("x_id"))
      .join(y.select(col("y_id"), col("y_v")), Seq("y_id"))
      .select(col("x_id"), col("y_id"),
        round(cosineSimilarity(col("x_v"), col("y_v")) *
          lit(1000000000000.0)).cast("long").as("cos_q"))
    marginOverPairs(scored, k)
  }

  /** The margin core shared by the brute and LSH miners: per-side top-k
    * neighborhoods over `(x_id, y_id, cos_q)` pairs, order-free integer
    * sums, the fixed-order margin expression, winners + mutual flag.
    *
    * The pair frame is referenced SIX times downstream (two candidate
    * windows, two neighborhood sums, two winner joins) — unpinned, each
    * reference re-ran the whole candidate generation (measured: 12
    * un-reused codebook broadcasts on the PQ path). It persists under the
    * [[graft.ops.Pins.scopedPersist]] scope: bare (x_id, y_id, cos_q)
    * rows — 24 B each, the smallest thing in the plan — with at most ONE
    * cached pair frame alive across repeated mining calls (a superseded
    * frame recomputes from lineage, never wrong). */
  private def marginOverPairs(scored0: DataFrame, k: Int): DataFrame = {
    val scored = graft.ops.Pins.scopedPersist("similarity.marginPairs", scored0)
    val wx = Window.partitionBy(col("x_id"))
      .orderBy(col("cos_q").desc, col("y_id").asc)
    val wy = Window.partitionBy(col("y_id"))
      .orderBy(col("cos_q").desc, col("x_id").asc)
    val candX = scored.withColumn("__rn", row_number().over(wx))
      .filter(col("__rn") <= k).drop("__rn")
    val candY = scored.withColumn("__rn", row_number().over(wy))
      .filter(col("__rn") <= k).drop("__rn")
    val sx = candX.groupBy("x_id").agg(sum(col("cos_q")).cast("long").as("sx_q"),
      count(lit(1)).cast("long").as("nx"))
    val sy = candY.groupBy("y_id").agg(sum(col("cos_q")).cast("long").as("sy_q"),
      count(lit(1)).cast("long").as("ny"))
    val denom = col("sx_q").cast("double") / (lit(2.0) * col("nx").cast("double")) +
      col("sy_q").cast("double") / (lit(2.0) * col("ny").cast("double"))
    val marginFp = when(denom > 0,
      round(col("cos_q").cast("double") / denom * lit(1000000.0)).cast("long"))
    val mx = candX.join(sx, Seq("x_id")).join(sy, Seq("y_id"))
      .withColumn("margin_fp", marginFp)
    val bestX = mx.withColumn("__rm", row_number().over(
        Window.partitionBy(col("x_id"))
          .orderBy(col("margin_fp").desc_nulls_last, col("y_id").asc)))
      .filter(col("__rm") === 1)
      .select(col("x_id"), col("y_id"), col("cos_q"), col("margin_fp"))
    val bestY = candY.join(sx, Seq("x_id")).join(sy, Seq("y_id"))
      .withColumn("margin_fp", marginFp)
      .withColumn("__rm", row_number().over(
        Window.partitionBy(col("y_id"))
          .orderBy(col("margin_fp").desc_nulls_last, col("x_id").asc)))
      .filter(col("__rm") === 1)
      .select(col("y_id").as("__by_id"), col("x_id").as("__bx_id"))
    bestX.join(bestY, bestX("y_id") === bestY("__by_id"), "left")
      .withColumn("mutual", coalesce(col("__bx_id") === col("x_id"), lit(false)))
      .select(col("x_id"), col("y_id"), col("cos_q"), col("margin_fp"),
        col("mutual"))
  }

  /** Approximate top-k via random-hyperplane LSH: corpus vectors are bucketed
    * by sign-bit signature; queries probe their bucket and all hamming-1
    * buckets (multi-probe) to recover near-misses on a single flipped plane.
    * Join is keyed on bucket id — shuffle volume is corpus-size, never n². */
  def annLsh(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nPlanes: Int = 6,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val planes = makePlanes(nPlanes, dim)
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_v"))
      .withColumn("bucket", hyperplaneBucket(col("n_v"), planes))
    // multi-probe: each query expands to its bucket + nPlanes hamming-1 probes
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_v"))
      .withColumn("bucket0", hyperplaneBucket(col("q_v"), planes))
      .withColumn("bucket", explode(array(
        (col("bucket0") +: (0 until nPlanes).map(i =>
          col("bucket0").bitwiseXOR(lit(1 << i)))): _*)))
      .select("q_id", "q_v", "bucket")
    // No dedup needed: probing is one-sided (corpus rows keep their single
    // own bucket), and a query's 1+nPlanes probe values are pairwise
    // distinct, so each (q, n) pair joins in at most one bucket.
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", cosineSimilarity(col("q_v"), col("n_v")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), col("cos"))
  }

  /** Johnson–Lindenstrauss dimensionality reduction by deterministic ±1
    * sign projection (Achlioptas 2003): each of `outDims` output
    * coordinates is a signed sum of the input components, signs from the
    * seeded [[graft.functions.VectorFunctions.makeSigns]] stream. The JL
    * lemma keeps pairwise geometry to within ε for outDims = O(ln n / ε²)
    * — the standard pre-shrink before LSH bucketing / SemDeDup when the
    * raw embedding width dominates storage or shuffle volume.
    *
    * Determinism: components quantize once to round(x·1000) fixed-point,
    * so every output is an exact INTEGER — reproducible across engines,
    * partitionings, and evaluation orders (cosine on the projected ints
    * approximates cosine on the raw vectors; the 1000× scale cancels).
    *
    * Scale shape: a pure per-row codegen'd scan expression — zero
    * shuffles, zero driver traffic; the sign matrix is outDims × dim plan
    * literals (a few KiB). At 100 TB this runs at scan speed and cuts
    * every downstream exchange by dim/outDims. */
  def randomProject(
      vecs: DataFrame,
      outDims: Int = 8,
      dim: Int = 64,
      seed: Long = 0xA5F152EDL,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    vecs.select(col(idCol),
      projectSignsQuantized(col(vecCol), makeSigns(outDims, dim, seed)).as("proj"))

  // ------------------------------------------------------------------ PCA

  /** Captured top-k principal components of the most recent [[pcaFit]] —
    * the oracle hook ([[IvfRun]] discipline: the fit is deterministic but
    * data-dependent, so the projection oracle embeds the SAME component
    * literals the query used). */
  final case class PcaRun(components: Array[Array[Double]], dim: Int, k: Int)
  @volatile private var lastPca: Option[PcaRun] = None
  @volatile private var lastPcaRead = true
  def lastPcaRun: Option[PcaRun] = { lastPcaRead = true; lastPca }

  /** EXACT covariance census of a vector column, the distributed half of
    * PCA: components quantized to the 10⁻⁶ grid (`floor(x·10⁶ + ½)` — a
    * float32 cast to double is exact, the quantizer deterministic, so the
    * census is pure integer arithmetic an independent engine replays
    * bit-for-bit), then one partial-aggregable pass to the d(d+1)/2
    * upper-triangle moment rows. `cov_num(j,k) = n·Σqⱼqₖ − Σqⱼ·Σqₖ` —
    * the UNnormalized covariance (scale does not move eigenvectors; the
    * exact-decimal form is what the hash gate can hold).
    *
    * Scale shape: ONE update per vector into the native
    * [[graft.functions.CovMoments]] aggregate (tight j≤k product loop,
    * exact 128-bit sums, map-side partials — the shuffle carries one
    * census buffer per partition). The composed per-row-HOF + keyed-agg
    * formulation measured 52 s at sf1 for d=64; this shape runs the same
    * census in ~1 s. */
  def pcaCovariance(
      vecs: DataFrame,
      dim: Int,
      vecCol: String = "embedding"): DataFrame = {
    require(dim >= 2, s"dim must be >= 2: $dim")
    val q = vecs.select(transform(col(vecCol),
      x => floor(x.cast("double") * lit(1000000.0) + lit(0.5)).cast("long")).as("q"))
    q.agg(graft.functions.VectorFunctions.covMoments(col("q"), dim).as("m"))
      .select(explode(col("m")).as("t"))
      .select(col("t.j").cast("long").as("j"), col("t.k").cast("long").as("k"),
        col("t.n").as("n"),
        (col("t.n").cast("decimal(38,0)") * col("t.p") -
          col("t.sj").cast("decimal(38,0)") * col("t.sk").cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("cov_num"))
  }

  /** PCA fit: collect the tiny covariance census (d(d+1)/2 rows — driver
    * traffic is the CENSUS, never vectors), run a deterministic cyclic
    * Jacobi eigensolve on the d×d matrix, return the top-k components
    * ordered by eigenvalue desc, each sign-canonicalized (largest-|c|
    * coordinate positive, first index on ties) so the fit is a pure
    * function of the data. Stashes [[lastPcaRun]] for the oracle. */
  def pcaFit(
      vecs: DataFrame,
      dim: Int,
      k: Int = 2,
      vecCol: String = "embedding"): PcaRun = {
    require(k >= 1 && k <= dim, s"k in [1, $dim]: $k")
    val rows = pcaCovariance(vecs, dim, vecCol).collect()
    val a = Array.ofDim[Double](dim, dim)
    rows.foreach { r =>
      val j = r.getAs[Long]("j").toInt
      val kk = r.getAs[Long]("k").toInt
      val v = r.getAs[java.math.BigDecimal]("cov_num").doubleValue()
      a(j)(kk) = v
      a(kk)(j) = v
    }
    val (evals, evecs) = jacobiEigen(a, dim)
    val order = (0 until dim).sortBy(i => (-evals(i), i)).take(k)
    val comps = order.map { i =>
      val c = Array.tabulate(dim)(r => evecs(r)(i))
      val m = c.indices.maxBy(x => (math.abs(c(x)), -x))
      if (c(m) < 0) c.map(x => -x) else c
    }.toArray
    val run = PcaRun(comps, dim, k)
    // the capture feeds the q_pca_project oracle: overwriting a run nobody
    // has read yet with a DIFFERENT fit silently embeds the wrong component
    // literals downstream — make that loud (same-fit refits stay quiet)
    lastPca match {
      case Some(prev) if !lastPcaRead &&
          !(prev.dim == run.dim && prev.k == run.k &&
            prev.components.corresponds(run.components)(_.sameElements(_))) =>
        System.err.println(
          "WARN pcaFit: overwriting an UNREAD captured PCA run with a " +
            "different fit — an oracle read after this point embeds THIS " +
            "fit's components, not the earlier query's")
      case _ => ()
    }
    lastPca = Some(run)
    lastPcaRead = false
    run
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix — the
    * textbook rotation sweep, deterministic (fixed pivot order, fixed
    * convergence threshold), plenty for the d ≤ a-few-hundred covariance
    * matrices PCA meets here. Returns (eigenvalues, eigenvector COLUMNS). */
  private def jacobiEigen(a0: Array[Array[Double]], n: Int)
      : (Array[Double], Array[Array[Double]]) = {
    val a = a0.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      var p = 0
      while (p < n) { var q = p + 1; while (q < n) { s += a(p)(q) * a(p)(q); q += 1 }; p += 1 }
      s
    }
    val eps = 1e-24 * (0 until n).map(i => a(i)(i) * a(i)(i)).sum.max(Double.MinPositiveValue)
    var sweep = 0
    while (sweep < 64 && off() > eps) {
      var p = 0
      while (p < n) {
        var q = p + 1
        while (q < n) {
          if (a(p)(q) != 0.0) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            val t = math.signum(theta).max(-1.0).min(1.0) match {
              case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              case s0  => s0 / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < n) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < n) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              i += 1
            }
            i = 0
            while (i < n) {
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /** Project vectors onto fitted components: one scan, k left-fold dots
    * per row against broadcast literals — the same accumulation order as
    * every cosine oracle (`list_sum` replay), so the projection doubles
    * hash bit-exact. */
  def pcaProject(
      vecs: DataFrame,
      run: PcaRun,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    vecs.select(col(idCol) +: run.components.zipWithIndex.map { case (c, i) =>
      graft.functions.VectorFunctions.dot(col(vecCol),
        array(c.map(lit).toIndexedSeq: _*)).as(s"pc${i + 1}")
    }.toIndexedSeq: _*)

  /** Greedy k-center coreset selection (Gonzalez farthest-first — the
    * classic 2-approximation to the k-center cover): seed with the
    * smallest id, then k−1 rounds of "the point farthest from everything
    * selected so far". The d2 column carries each selection's distance to
    * the previously selected set — a non-increasing sequence that IS the
    * covering-radius progression, so the caller reads the coreset quality
    * straight off the result. Ties break to the smallest id; the seed's
    * d2 is null. The diversity-pruning selector for training data: unlike
    * top-k-by-score it provably spreads over the embedding space, and
    * unlike [[mmrRerank]] it runs on the CORPUS, not a candidate list.
    *
    * Scale shape: k−1 corpus scans, each a pure per-row fold against ONE
    * broadcast center (the newest; the running min folds previous rounds
    * into a pinned column) + a 1-row argmax to the driver per round — the
    * [[graft.operators.Dedup.clusters]] pin discipline, driver traffic =
    * the selected points themselves. Distances are the same left-fold
    * Σ(v−c)² as the IVF assignment, bit-identical to the oracle's
    * list_sum replay. */
  def kCenterGreedy(
      vecs: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxK: Int = 4096): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    // cost contract: k−1 full scans of the candidate pool, each re-pinning
    // the (id, vector, running-min) state (one pinned copy retained at a
    // time — the previous round's pin is released as soon as the new one
    // materializes). The operator is built for CORESET-sized k; a
    // pathological k must fail loudly before scheduling thousands of scans
    require(k <= maxK,
      s"kCenterGreedy: k=$k exceeds maxK=$maxK — the selection runs k-1 " +
        "corpus scans (one per center); for large k use IVF cells or " +
        "raise maxK deliberately")
    val spark = vecs.sparkSession
    import spark.implicits._
    def sqDistTo(center: Array[Double]): org.apache.spark.sql.Column =
      // native L2Distance (r18): same fold order/null contract as the
      // aggregate(zip_with) HOF it replaces
      graft.functions.VectorFunctions.l2Distance(
        col("__v"), typedLit(center.toSeq))
    val nonNull = vecs.filter(col(vecCol).isNotNull)
    val seedRow = nonNull.select(col(idCol), col(vecCol))
      .orderBy(col(idCol).asc).limit(1).collect()
    require(seedRow.nonEmpty, "kCenterGreedy: empty input")
    def vecOf(r: org.apache.spark.sql.Row): Array[Double] =
      r.getSeq[Any](1).map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toArray
    var center = vecOf(seedRow.head)
    val selected = scala.collection.mutable.ArrayBuffer[(Long, Int, Option[Double])](
      (seedRow.head.getLong(0), 1, None))
    Pins.scope { pin =>
      var state = pin(nonNull.select(col(idCol).as("__id"), col(vecCol).as("__v"),
          lit(Double.MaxValue).as("__md"))
        .filter(col("__id") =!= lit(selected.head._1)))
      var r = 2
      while (r <= k && !state.isEmpty) {
        state = pin(state.select(col("__id"), col("__v"),
          least(col("__md"), sqDistTo(center)).as("__md")))
        pin.retain(state)
        val win = state.orderBy(col("__md").desc, col("__id").asc).limit(1)
          .select(col("__id"), col("__v"), col("__md")).collect().head
        selected += ((win.getLong(0), r, Some(win.getDouble(2))))
        center = vecOf(win)
        state = state.filter(col("__id") =!= lit(win.getLong(0)))
        r += 1
      }
      selected.toSeq.map { case (id, rank, d2) => (id, rank, d2) }
        .toDF(idCol, "rank", "d2")
    }
  }

  /** IVF (inverted-file) ANN: k-means cells over the corpus; each query
    * probes its `nprobe` nearest cells and ranks candidates by exact cosine.
    * The classic coarse-quantizer scale path — per-query work is
    * O(nprobe/nlist · corpus). The cell model is small (nlist centroids) and
    * ships as plan literals; the corpus is shuffled ONCE by cell id. */
  /** @param trainFraction train the coarse quantizer on a deterministic
    *   sample of the corpus (the standard IVF practice — faiss trains on a
    *   subset): cell QUALITY needs only a representative sample, while cell
    *   ASSIGNMENT still covers every vector. 1.0 = train on everything. */
  def annIvf(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      trainFraction: Double = 1.0): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_v"))
    // The coarse quantizer is an INDEX: built once per (corpus, nlist) and
    // reused across queries, like any vector store. Keyed by the canonical
    // logical plan, so a changed corpus retrains; deterministic (fixed seed)
    // so a cache hit is observationally identical to a retrain.
    require(trainFraction > 0 && trainFraction <= 1.0)
    val trainSet = (if (trainFraction < 1.0) c.sample(trainFraction, seed = 42) else c)
      .withColumn("features", array_to_vector(col("n_v").cast("array<double>")))
    // The data fingerprint (half the cache key) distinguishes
    // same-path-new-contents corpora the plan alone cannot. File-backed
    // plans get it free from the driver's file listing — no job, even on
    // cache hits of filtered/derived file scans; anything else pays a
    // count() job (an index-lookup cost).
    val (fingerprint, corpusEmpty) = fileFingerprint(c) match {
      case Some(h) => (h, c.isEmpty) // limit-1 probe, not a full count
      case None => val n = c.count(); (n, n == 0)
    }
    // an empty corpus has no cells to train — and no neighbors to return
    // (a fully partition-pruned scan must not crash the k-means fit)
    if (corpusEmpty) {
      import corpus.sparkSession.implicits._
      return corpus.sparkSession.emptyDataset[(Long, Long, Long, Double)]
        .toDF("q_id", "n_id", "rank", "cos")
    }
    val cacheKey = (c.queryExecution.analyzed.semanticHash(), fingerprint, nlist, trainFraction)
    // Per-key promise: the k-means fit runs OUTSIDE the map lock, so an
    // unrelated cache hit never blocks behind another corpus's training
    // (round-5 advice). Exactly one caller owns the fit; latecomers await
    // the same promise. A failed fit evicts its promise so a retry retrains.
    val (promise, owns) = ivfModels.synchronized {
      if (ivfModels.size > 32) ivfModels.clear()
      ivfModels.get(cacheKey) match {
        case Some(p) => (p, false)
        case None =>
          val p = scala.concurrent.Promise[org.apache.spark.ml.clustering.KMeansModel]()
          ivfModels(cacheKey) = p
          (p, true)
      }
    }
    val model =
      if (owns) {
        try {
          val m = new KMeans().setK(nlist).setSeed(42).setMaxIter(10).fit(trainSet)
          promise.success(m)
          m
        } catch {
          case e: Throwable =>
            promise.failure(e)
            ivfModels.synchronized { ivfModels.remove(cacheKey) }
            throw e
        }
      } else {
        scala.concurrent.Await.result(promise.future, scala.concurrent.duration.Duration.Inf)
      }

    // Cell assignment and probe lists share ONE exact-distance expression
    // ([[graft.functions.NearestCells]]) instead of ML's model.transform:
    // plain left-fold Σ(v−c)² in array order, reproducible bit-for-bit by
    // the DuckDB oracle (ML's fastSquaredDistance shortcut is not).
    val centroids = model.clusterCenters.map(_.toArray)
    lastIvf = Some(IvfRun(centroids, nlist, nprobe, k))
    val cells = c.withColumn(
      "cell", element_at(nearestCells(col("n_v"), centroids, 1), 1))

    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_v"))
      .withColumn("cell", explode(nearestCells(col("q_v"), centroids, nprobe)))

    val scored = cells.join(broadcast(q), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", cosineSimilarity(col("q_v"), col("n_v")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), col("cos"))
  }

  /** Product-quantization ENCODE (Jégou et al. 2011): split each vector
    * into `m` equal subspaces and replace each sub-vector with the id of
    * its nearest codeword (L2, smallest-id tiebreak) from that subspace's
    * `k`-entry codebook — the 64-dim float vector becomes `m` small codes,
    * the compression that makes billion-vector ANN tables fit on disk
    * (here: 256 bytes → `m` longs; with k ≤ 256, m bytes after a cast the
    * writer applies). Codebooks follow the [[assignToCentroids]] seeding
    * convention — the sliced sub-vectors of the first `k`
    * `codebookSource` rows by id (k-means-refined codebooks drop in by
    * passing a trained source; the encode plan is identical) — so the
    * operator stays a pure, engine-checkable function of its inputs.
    *
    * Numerics: per-codeword distance is the sequential left-fold
    * Σ(a−b)² in array order (Spark `aggregate` HOF == DuckDB `list_sum`,
    * the established cross-engine-exact pattern) and the argmin keeps the
    * FIRST strict improvement over cid-sorted codewords — deterministic on
    * ties. A row too short for a subspace slice has null distances, which
    * never beat the accumulator: it keeps the sentinel code -1 (the
    * [[assignToCentroids]] convention for unassignable rows).
    *
    * Scale shape: the codebook is ONE broadcast row (m·k·subDim doubles);
    * encoding is a scan-local per-row expression — zero shuffles of the
    * corpus, the only viable shape at 10⁹ vectors. The codebook LIMIT is
    * the only non-scan work and touches k rows. */
  def pqEncode(
      embeddings: DataFrame,
      m: Int,
      k: Int,
      dim: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      codebookSource: Option[DataFrame] = None): DataFrame = {
    require(m >= 1, s"m must be >= 1: $m")
    require(k >= 1, s"k must be >= 1: $k")
    require(dim >= m && dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    def dv(c: org.apache.spark.sql.Column) = transform(c, _.cast("double"))
    val cb = pqCodebook(codebookSource.getOrElse(embeddings),
      m, k, subDim, idCol, vecCol)
    embeddings.crossJoin(broadcast(cb))
      .select(col(idCol) +: pqCodeColumns(m, subDim, vecCol): _*)
  }

  /** The per-subspace argmin code columns (`code_0` … `code_{m−1}`) —
    * evaluated against a frame already carrying the [[pqCodebook]] row.
    * FIRST strict improvement over cid-sorted codewords: deterministic on
    * ties; a too-short vector keeps the −1 sentinel. Native
    * [[graft.functions.PqCode]] expression (r18): the previous
    * aggregate-HOF argmin evaluated interpreted — a lambda frame per
    * codeword per corpus row dominated every PQ index build (measured
    * ~1.3 s/pass at sf0.1, m=8 k=32); the native loop replicates the
    * HOF's fold order, tie, null and NaN semantics bit-for-bit
    * (SimilaritySpec pins the equivalence, incl. sentinel rows). */
  private def pqCodeColumns(m: Int, subDim: Int, vecCol: String,
      positional: Boolean = false) =
    (0 until m).map { j =>
      // cacheCodebook = true is sound here and only here: `__cb_$j`
      // arrives via crossJoin(broadcast(cb)) of a one-row codebook frame,
      // so its backing bytes are single-content for the task lifetime
      graft.functions.VectorFunctions.pqCode(
        col(vecCol), col(s"__cb_$j"), j * subDim, subDim, positional,
        cacheCodebook = true)
        .as(s"code_$j")
    }

  /** IVF-PQ search — the full billion-scale composition: a coarse
    * quantizer routes each corpus vector to ONE cell and each query to
    * its `nprobe` best cells (cosine, the [[assignToCentroids]]
    * convention), and within probed cells candidates are ranked by
    * PQ-ADC distance over their codes — the FAISS `IVFx,PQy` index shape,
    * kept fully deterministic: both quantizers default to the
    * first-rows-by-id seeding (k-means-refined centroids/codebooks drop
    * in via the two source parameters with an identical plan), so the
    * whole index is a pure engine-checkable function of its inputs.
    *
    * Scale shape: ONE corpus pass builds the index frame — cell id
    * (native [[graft.functions.NearestCentroid]]) + m code longs, all
    * scan-local against two broadcast one-row frames; at 10⁹ vectors
    * that frame is the only thing ever re-read by searches. Queries
    * explode to nprobe probe rows, carry their m×k ADC table maps
    * (KBs), and broadcast; the candidate join is cell-keyed against the
    * index scan, per-candidate cost is m map lookups, and the top-k
    * window is map-side group-limited. Per-query work is
    * nprobe/nlist of the corpus × m lookups — the product of both
    * prunings, vs annIvf's full-vector cosines on the same candidates.
    * A corpus vector lives in exactly one cell, so a (q, n) pair meets
    * in at most one probe — no dedup pass. */
  def ivfPqSearch(
      queries: DataFrame,
      corpus: DataFrame,
      topK: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      m: Int = 4,
      k: Int = 16,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      centroidSource: Option[DataFrame] = None,
      codebookSource: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.GraftExpr
    require(topK >= 1 && nlist >= 1 && nprobe >= 1 && nprobe <= nlist,
      s"need 1 <= nprobe <= nlist, topK >= 1: nlist=$nlist nprobe=$nprobe topK=$topK")
    require(m >= 1 && k >= 1 && dim >= m && dim % m == 0,
      s"need m >= 1, k >= 1, m | dim: m=$m k=$k dim=$dim")
    val subDim = dim / m
    val cents = centroidSource.getOrElse(corpus)
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .orderBy(col("id")).limit(nlist)
      .agg(sort_array(collect_list(struct(col("id").as("cid"), col("v").as("cv"))))
        .as("cents"))
    val cb = pqCodebook(codebookSource.getOrElse(corpus),
      m, k, subDim, idCol, vecCol)
    // the index frame: one scan-local pass, cell + m codes per vector
    val idx = corpus.crossJoin(broadcast(cents)).crossJoin(broadcast(cb))
      .select(col(idCol).as("n_id") +:
        GraftExpr.column(graft.functions.NearestCentroid(
          GraftExpr.expression(col(vecCol)),
          GraftExpr.expression(col("cents")))).as("cell") +:
        pqCodeColumns(m, subDim, vecCol): _*)
    // queries: nprobe best cells by (cosine desc, cid asc), then the ADC
    // distance-table maps — query-set-sized throughout
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("__cos").desc, col("cell").asc)
    val probes = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("__qv"))
      .crossJoin(broadcast(cents))
      .select(col("q_id"), col("__qv"), explode(col("cents")).as("__c"))
      .select(col("q_id"), col("__qv"), col("__c.cid").as("cell"),
        graft.functions.VectorFunctions
          .cosineSimilarity(col("__qv"), col("__c.cv")).as("__cos"))
      .withColumn("__rn", row_number().over(wProbe))
      .where(col("__rn") <= nprobe)
    val tables = (0 until m).map { j =>
      val qSub = slice(transform(col("__qv"), _.cast("double")),
        j * subDim + 1, subDim)
      map_from_entries(transform(col(s"__cb_$j"), c =>
        struct(c.getField("cid").cast("long"), d2(c.getField("cv"), qSub))))
        .as(s"__dt_$j")
    }
    val qt = probes.crossJoin(broadcast(cb))
      .select(col("q_id") +: col("cell") +: tables: _*)
    val score = (0 until m)
      .map(j => element_at(col(s"__dt_$j"), col(s"code_$j")))
      .reduceLeft(_ + _)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_d2").asc, col("n_id").asc)
    idx.join(broadcast(qt), Seq("cell"))
      .where(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), score.as("adc_d2"))
      .where(col("adc_d2").isNotNull)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("n_id"), col("rank"), col("adc_d2"))
  }

  /** Maximal-Marginal-Relevance re-ranking (Carbonell & Goldstein, SIGIR
    * 1998): greedily select `k` results per query maximizing
    * λ·sim(q, d) − (1−λ)·max_{s ∈ selected} sim(d, s) — the serving-time
    * diversity pass that stops one near-dup cluster from filling the
    * whole top-k. Input is a CANDIDATE frame (q_id, n_id, cos — any
    * searcher's output at depth N > k); `vectors` supplies candidate
    * embeddings for the pairwise term.
    *
    * Deterministic: candidate-candidate similarity is the same left-fold
    * cosine as everywhere here; every round's argmax breaks ties toward
    * the smaller n_id via min_by over (−score, n_id) — orderable for any
    * float score; the 1−λ complement is computed ONCE so engine and
    * oracle subtract the identical IEEE constant.
    *
    * Scale shape: everything is METRIC-sized (|Q|·N rows), never
    * corpus-sized — candidates come pre-cut by the searcher. Pairwise
    * sims are ONE self-join on q_id (Σ N² per query, computed once,
    * pinned); candidates must be a SUBSET of `vectors` ids — a candidate
    * with no vector row drops out before round 1 (inner join), shortening
    * that query's top-k; each of the k−1 greedy rounds is a (q, candidate)-keyed
    * partial-agg max + an argmax agg on those metric-sized frames, with
    * the selected set pinned per round (the iterated-loop discipline).
    * The driver sees nothing. */
  def mmrRerank(
      candidates: DataFrame,
      vectors: DataFrame,
      k: Int,
      lambda: Double = 0.7,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda out of [0,1]: $lambda")
    val mu = 1.0 - lambda // subtract the SAME IEEE constant as the oracle
    val v = vectors.select(col(idCol).as("__vid"), col(vecCol).as("__v"))
    Pins.scope { pin =>
      val cand = pin(candidates.select(col("q_id"), col("n_id"), col("cos"))
        .join(v, col("n_id") === col("__vid")).drop("__vid"))
      val a = cand.select(col("q_id"), col("n_id").as("a_id"), col("__v").as("a_v"))
      val b = cand.select(col("q_id"), col("n_id").as("b_id"), col("__v").as("b_v"))
      val pairSims = pin(a.join(b, Seq("q_id")).where(col("a_id") =!= col("b_id"))
        .select(col("q_id"), col("a_id"), col("b_id"),
          cosineSimilarity(col("a_v"), col("b_v")).as("s")))
      // round 1: pure relevance
      var selected = pin(cand.groupBy("q_id")
        .agg(min_by(struct(col("n_id"), (lit(lambda) * col("cos")).as("mmr")),
          struct((-(lit(lambda) * col("cos"))).as("__neg"), col("n_id"))).as("w"))
        .select(col("q_id"), col("w.n_id").as("n_id"), lit(1L).as("rank"),
          col("w.mmr").as("mmr")))
      for (r <- 2 to k) {
        val pen = pairSims
          .join(selected.select(col("q_id"), col("n_id").as("b_id")), Seq("q_id", "b_id"))
          .groupBy(col("q_id"), col("a_id")).agg(max(col("s")).as("__pen"))
          .select(col("q_id").as("__pq"), col("a_id"), col("__pen"))
        val remaining = cand
          .join(selected.select("q_id", "n_id"), Seq("q_id", "n_id"), "left_anti")
        val scored = remaining
          .join(pen, col("n_id") === col("a_id") && col("q_id") === col("__pq"),
            "left")
          .select(col("q_id"), col("n_id"),
            (lit(lambda) * col("cos") -
              lit(mu) * coalesce(col("__pen"), lit(0.0))).as("mmr"))
        val next = scored.groupBy("q_id")
          .agg(min_by(struct(col("n_id"), col("mmr")),
            struct((-col("mmr")).as("__neg"), col("n_id"))).as("w"))
          .select(col("q_id"), col("w.n_id").as("n_id"), lit(r.toLong).as("rank"),
            col("w.mmr").as("mmr"))
        selected = pin(selected.union(next), eager = false)
      }
      selected
    }
  }

  /** Recall@k of an approximate top-k result against the exact one — the
    * ANN evaluation metric every index tuning loop needs: per query,
    * hits = |approx ∩ exact| over the exact set (n_exact, which is < k
    * only when the corpus itself is smaller). Both inputs are top-k
    * FRAMES (|Q|·k rows — the outputs of [[bruteForceTopK]] /
    * [[annLsh]] / [[annIvf]] / [[pqSearch]]), so the join is
    * metric-sized regardless of corpus scale; recall is the single
    * IEEE division hits / n_exact of two exact integers. */
  def recallAtK(
      approx: DataFrame,
      exact: DataFrame,
      k: Int,
      qCol: String = "q_id",
      nCol: String = "n_id",
      rankCol: String = "rank"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val ap = approx.filter(col(rankCol) <= k)
      .select(col(qCol), col(nCol)).withColumn("__hit", lit(1L))
    exact.filter(col(rankCol) <= k).select(col(qCol), col(nCol))
      .join(ap, Seq(qCol, nCol), "left")
      .groupBy(col(qCol))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0L))).as("hits"))
      .select(col(qCol), col("hits"), col("n_exact"),
        (col("hits").cast("double") / col("n_exact")).as("recall"))
  }

  /** One-row codebook frame: per subspace j, the cid-sorted
    * struct(cid, sub-vector) list of the first `k` source rows by id —
    * shared by [[pqEncode]] (assignment) and [[pqSearch]] (distance
    * tables), so both sides of the encode/search pair provably quantize
    * against identical codewords.
    *
    * `seedTag` picks a DIFFERENT deterministic k-row sample per tag —
    * rows ordered by `(md5(id || tag), id)` instead of plain id — the
    * multi-codebook lever behind [[bitextMarginMinePq]]'s `seeds`:
    * md5-hex ordering is engine-portable (lowercase ASCII hex sorts
    * identically in DuckDB), so every seeded codebook replays exactly
    * in the oracle. */
  private def pqCodebook(
      src: DataFrame,
      m: Int,
      k: Int,
      subDim: Int,
      idCol: String,
      vecCol: String,
      seedTag: Option[String] = None): DataFrame = {
    val cbCols = (0 until m).map { j =>
      sort_array(collect_list(struct(col("id").as("cid"),
        slice(col("v"), j * subDim + 1, subDim).as("cv")))).as(s"__cb_$j")
    }
    val base = src.select(col(idCol).as("id"),
      transform(col(vecCol), _.cast("double")).as("v"))
    val ordered = seedTag match {
      case Some(tag) =>
        base.orderBy(md5(concat(col("id").cast("string"), lit(tag))),
          col("id"))
      case None => base.orderBy(col("id"))
    }
    ordered.limit(k).agg(cbCols.head, cbCols.tail: _*)
  }

  /** Left-fold Σ(a−b)² in array order — DuckDB `list_sum ∘ list_zip`
    * bit-for-bit. Native [[graft.functions.L2Distance]] (r18): identical
    * fold order and null/length contract to the
    * `aggregate(zip_with(a, b, (x,y) => (x−y)²), 0.0, +)` HOF it replaces
    * (see the expression's scaladoc) — the HOF paid a lambda frame per
    * element per evaluation, the dominant cost of every ADC
    * distance-table build (m·kCodes folds per query/x row). */
  private def d2(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.VectorFunctions.l2Distance(a, b)

  /** PQ-ADC top-k search (Jégou et al. 2011, asymmetric distance): rank
    * the PQ-ENCODED corpus against raw query vectors without decoding —
    * per query, precompute one k-entry distance table per subspace
    * (cid → ‖q_j − codeword‖², an m × k map), then score each corpus row
    * as the FIXED-ORDER sum of m table lookups on its codes. The read
    * side of the [[pqEncode]] compression: approximate distances over
    * m longs per vector instead of `dim` floats.
    *
    * Determinism: tables are built with the same left-fold [[d2]] as the
    * encoder; the score is an explicit j = 0…m−1 addition chain (no
    * reduce-order ambiguity), ranks break ties by (distance, id) — every
    * float op is a correctly-rounded IEEE step both engines replay
    * identically, so even the raw doubles hash-gate. Rows carrying the
    * encoder's −1 sentinel (too-short vectors) have no table entry and
    * are EXCLUDED (null score), matching the unassignable convention.
    * Self-matches (q_id = n_id) are excluded like every other searcher
    * here ([[bruteForceTopK]], [[annLsh]], [[annIvf]], [[ivfPqSearch]]),
    * so [[recallAtK]] pairings compare like against like.
    *
    * Scale shape: codebook + per-query tables are ONE broadcast row each
    * (m·k doubles per query — KBs for curation-sized query sets, the
    * [[bruteForceTopK]] contract); scoring is a scan-local
    * broadcast-nested-loop over the CODES table (m longs per row, the
    * compressed store — the raw vectors are never read), and the top-k
    * window is map-side group-limited like every rank-k here. At 10⁹
    * vectors this scans m·10⁹ longs where brute force scans dim·10⁹
    * floats AND skips the decode — the entire point of PQ. */
  def pqSearch(
      queries: DataFrame,
      corpus: DataFrame,
      m: Int,
      k: Int,
      dim: Int,
      topK: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      codebookSource: Option[DataFrame] = None): DataFrame = {
    require(topK >= 1, s"topK must be >= 1: $topK")
    require(m >= 1 && k >= 1 && dim >= m && dim % m == 0,
      s"need m >= 1, k >= 1, m | dim: m=$m k=$k dim=$dim")
    val subDim = dim / m
    def dv(c: org.apache.spark.sql.Column) = transform(c, _.cast("double"))
    val cb = pqCodebook(codebookSource.getOrElse(corpus),
      m, k, subDim, idCol, vecCol)
    val codes = pqEncode(corpus, m, k, dim, idCol, vecCol, codebookSource)
    val tables = (0 until m).map { j =>
      val qSub = slice(dv(col(vecCol)), j * subDim + 1, subDim)
      map_from_entries(transform(col(s"__cb_$j"), c =>
        struct(c.getField("cid").cast("long"), d2(c.getField("cv"), qSub))))
        .as(s"__dt_$j")
    }
    val qt = queries
      .select(col(idCol).as("q_id"), col(vecCol))
      .crossJoin(broadcast(cb))
      .select(col("q_id") +: tables: _*)
    val score = (0 until m)
      .map(j => element_at(col(s"__dt_$j"), col(s"code_$j")))
      .reduceLeft(_ + _) // explicit left-to-right chain, NOT a reduce tree
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_d2").asc, col("n_id").asc)
    codes.crossJoin(broadcast(qt))
      .select(col("q_id"), col(idCol).as("n_id"), score.as("adc_d2"))
      .where(col("adc_d2").isNotNull && col("q_id") =!= col("n_id"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("n_id"), col("rank"), col("adc_d2"))
  }

  /** IVF-SQ8 composed search — coarse-cell pruning over SQ8 codes,
    * completing the composed-tier symmetry ([[ivfPqSearch]] is
    * IVF × PQ; this is IVF × [[sq8Search]]): the index stores each
    * vector's cell + per-dim 8-bit codes, queries probe their `nprobe`
    * best cells, and scoring reconstructs ONLY the probed cells'
    * codes — FAISS's `IVFx,SQ8`, the configuration that keeps SQ8's
    * near-exact recall while cutting the scan to nprobe/nlist of the
    * corpus.
    *
    * Determinism: cell assignment is the [[assignToCentroids]]
    * deterministic nearest-centroid (cosine desc, cid asc); codes and
    * reconstruction distances follow [[sq8Search]]'s correctly-rounded
    * fixed-order arithmetic — the whole top-k gates cross-engine.
    *
    * Scale shape: the index build is one scan-local projection against
    * two broadcast frames (centroids + the d-row range census); the
    * scored pass joins index×probes ON THE CELL KEY, so the work is
    * (nprobe/nlist)·|corpus| — the first sub-linear rung of the SQ8
    * ladder. */
  def ivfSq8Search(
      queries: DataFrame,
      corpus: DataFrame,
      topK: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      centroidSource: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.GraftExpr
    require(topK >= 1 && nlist >= 1 && nprobe >= 1 && nprobe <= nlist,
      s"need 1 <= nprobe <= nlist, topK >= 1: nlist=$nlist nprobe=$nprobe topK=$topK")
    def dv(c: org.apache.spark.sql.Column) = transform(c, _.cast("double"))
    val cents = centroidSource.getOrElse(corpus)
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .orderBy(col("id")).limit(nlist)
      .agg(sort_array(collect_list(struct(col("id").as("cid"), col("v").as("cv"))))
        .as("cents"))
    val census = corpus
      .select(posexplode(dv(col(vecCol))).as(Seq("__pos", "__x")))
      .groupBy("__pos")
      .agg(min("__x").as("__lo"), max("__x").as("__hi"))
      .agg(sort_array(collect_list(struct(col("__pos"), col("__lo"),
        col("__hi")))).as("__g"))
      .select(transform(col("__g"), s =>
        struct(s.getField("__lo").as("lo"), s.getField("__hi").as("hi")))
        .as("__rng"))
    val idx = corpus.crossJoin(broadcast(cents)).crossJoin(broadcast(census))
      .select(col(idCol).as("n_id"),
        GraftExpr.column(graft.functions.NearestCentroid(
          GraftExpr.expression(col(vecCol)),
          GraftExpr.expression(col("cents")))).as("cell"),
        zip_with(dv(col(vecCol)), col("__rng"), (x, r) => {
          val lo = r.getField("lo")
          val hi = r.getField("hi")
          when(hi > lo,
            floor((x - lo) / (hi - lo) * lit(255.0) + lit(0.5)).cast("long"))
            .otherwise(lit(0L))
        }).as("__codes"))
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("__cos").desc, col("cell").asc)
    val probes = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("__qv"))
      .crossJoin(broadcast(cents))
      .select(col("q_id"), col("__qv"), explode(col("cents")).as("__c"))
      .select(col("q_id"), col("__qv"), col("__c.cid").as("cell"),
        graft.functions.VectorFunctions
          .cosineSimilarity(col("__qv"), col("__c.cv")).as("__cos"))
      .withColumn("__rn", row_number().over(wProbe))
      .where(col("__rn") <= nprobe)
      .crossJoin(broadcast(census))
      .select(col("q_id"), col("cell"), dv(col("__qv")).as("__qe"),
        col("__rng"))
    // native Sq8L2 (r18): identical IEEE op order to the reconstruct
    // zip_with + distance fold it replaces — see sq8Search
    val dist = graft.functions.VectorFunctions
      .sq8L2(col("__qe"), col("__codes"), col("__rng"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sq_d2").asc, col("n_id").asc)
    idx.join(broadcast(probes), Seq("cell"))
      .select(col("q_id"), col("n_id"), dist.as("sq_d2"))
      .where(col("q_id") =!= col("n_id"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("n_id"), col("rank"), col("sq_d2"))
  }

  /** Brute-force exact L2 top-k — the euclidean ground truth the
    * quantized tiers ([[sq8Search]], [[pqSearch]]) are judged against
    * (the cosine twin is the brute path behind `q_sim_topk`). Corpus scan
    * × broadcast queries, per-pair distance in ONE fixed zip order with a
    * sequential left-fold sum, map-side-limited (d2, id) top-k. */
  def l2TopK(
      queries: DataFrame,
      corpus: DataFrame,
      topK: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(topK >= 1, s"topK must be >= 1: $topK")
    def dv(c: org.apache.spark.sql.Column) = transform(c, _.cast("double"))
    val qs = queries.select(col(idCol).as("q_id"), dv(col(vecCol)).as("__qe"))
    // native L2Distance (r18): replaces the interpreted
    // aggregate(zip_with((a−b)²)) fold — identical left-fold order and
    // null contract (see the expression's scaladoc); the HOF paid a
    // lambda frame per dim per PAIR on this |corpus|×|queries| scan
    val dist = graft.functions.VectorFunctions
      .l2Distance(col("__qe"), dv(col(vecCol)))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("d2").asc, col("n_id").asc)
    corpus.crossJoin(broadcast(qs))
      .select(col("q_id"), col(idCol).as("n_id"), dist.as("d2"))
      .where(col("q_id") =!= col("n_id"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("n_id"), col("rank"), col("d2"))
  }

  /** Rank-biased overlap (Webber et al. 2010) at p = ½ between two
    * per-query rankings — the top-weighted agreement readout for judging
    * an approximate ranking against its exact twin (recall@k counts set
    * membership; RBO also rewards putting the SAME items EARLY):
    * RBO = (1−p)·Σ_{d=1..D} p^{d−1}·|A_d ∩ B_d|/d. At p = ½ every term
    * is o_d/(d·2^d) — an exact small-integer denominator, so the fold is
    * a fixed-order sum of correctly-rounded divisions, bit-portable
    * cross-engine.
    *
    * Inputs are two (q_id, n_id, rank) frames (any generator with the
    * [[l2TopK]] output shape). The pair join keys on (q_id, n_id); an
    * item in only one ranking contributes to no depth — exactly the
    * prefix-intersection semantics. Returns one row per q_id present in
    * EITHER ranking (full outer on the grouped frames; a query missing
    * from one side scores 0).
    *
    * Scale shape: one (q_id, n_id)-keyed join of two ≤D·|queries|-row
    * frames, a per-query collect of ≤D max-ranks, and a D-term fold —
    * everything is queries-sized, nothing corpus-sized. */
  def rankBiasedOverlap(
      a: DataFrame,
      b: DataFrame,
      depth: Int = 10): DataFrame = {
    require(depth >= 1 && depth <= 62, s"depth must be in [1, 62]: $depth")
    val ja = a.select(col("q_id"), col("n_id"), col("rank").as("__ra"))
      .filter(col("__ra") <= depth)
    val jb = b.select(col("q_id"), col("n_id"), col("rank").as("__rb"))
      .filter(col("__rb") <= depth)
    val mrs = ja.join(jb, Seq("q_id", "n_id"))
      .select(col("q_id"), greatest(col("__ra"), col("__rb")).as("__mr"))
      .groupBy("q_id")
      .agg(sort_array(collect_list(col("__mr"))).as("__mrs"),
        count(lit(1)).cast("long").as("n_common"))
    val qids = a.select("q_id").union(b.select("q_id")).distinct()
    // denominators d·2^d are exact literals; the fold runs d = 1..D in
    // order, each term one correctly-rounded double division
    val terms = (1 to depth).map { d =>
      val den = (d.toLong * (1L << d)).toDouble
      size(filter(col("__mrs"), mr => mr <= d)).cast("double") / lit(den)
    }
    val rbo = terms.reduceLeft(_ + _) // explicit left-to-right chain
    qids.join(mrs, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        when(col("__mrs").isNotNull, rbo).otherwise(lit(0.0)).as("rbo"))
  }

  /** Binary-relevance nDCG@D + MRR eval of an approximate ranking against
    * its exact twin — the IR-standard complement of
    * [[rankBiasedOverlap]] (RBO compares two rankings symmetrically;
    * nDCG/MRR grade the approximate list against the exact top-D as
    * ground TRUTH): relevant = the exact ranking's top-D set,
    * DCG = Σ_{hits} 1/log₂(rank+1) over the approximate positions,
    * IDCG = the same gains densely packed (all |rel| items first), and
    * MRR's reciprocal first-hit rank says how deep a user must read.
    *
    * Engine-portable arithmetic: the position gains 10⁶/log₂(i+1) are
    * CONSTANTS quantized once in Scala and embedded in both engines (the
    * makePlanes discipline), so DCG/IDCG are order-free integer sums;
    * ndcg is one double division of the two micro-ints; rr_micro =
    * round(10⁶/first_rank) — integer, no repeating-decimal .5 cases at
    * D ≤ 62.
    *
    * Scale shape: one (q_id, n_id)-keyed join of two ≤D·|queries|-row
    * frames plus queries-sized aggs — nothing corpus-sized. */
  def rankEval(
      truth: DataFrame,
      approx: DataFrame,
      depth: Int = 10): DataFrame = {
    require(depth >= 1 && depth <= 62, s"depth must be in [1, 62]: $depth")
    val gains: Seq[Long] = (1 to depth)
      .map(i => math.round(1e6 / (math.log(i + 1.0) / math.log(2.0))))
    val idcgPrefix: Seq[Long] = gains.scanLeft(0L)(_ + _).tail
    val rel = truth.filter(col("rank") <= depth).select(col("q_id"), col("n_id"))
    val nrel = rel.groupBy("q_id").agg(count(lit(1)).cast("long").as("n_rel"))
    val hits = approx.filter(col("rank") <= depth)
      .select(col("q_id"), col("n_id"), col("rank"))
      .join(rel, Seq("q_id", "n_id"))
      .groupBy("q_id")
      .agg(count(lit(1)).cast("long").as("n_hits"),
        sum(element_at(array(gains.map(lit(_)): _*), col("rank").cast("int")))
          .cast("long").as("dcg_micro"),
        min(col("rank")).cast("long").as("__minr"))
    val idcg = element_at(array(idcgPrefix.map(lit(_)): _*),
      least(col("n_rel"), lit(depth.toLong)).cast("int"))
    nrel.join(hits, Seq("q_id"), "left")
      .select(col("q_id"), col("n_rel"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("dcg_micro"), lit(0L)).as("dcg_micro"),
        idcg.cast("long").as("idcg_micro"),
        (coalesce(col("dcg_micro"), lit(0L)).cast("double") /
          idcg.cast("double")).as("ndcg"),
        coalesce(round(lit(1000000.0) / col("__minr").cast("double"))
          .cast("long"), lit(0L)).as("rr_micro"))
  }

  /** SQ8 scalar-quantized search — FAISS's `SQx` storage tier between raw
    * floats and PQ codes: each DIMENSION is quantized independently to
    * 8 bits against its corpus-wide [min, max] range, cutting the vector
    * table to ¼ width with far less distortion than PQ's m-code collapse
    * (SQ8 recall ≈ exact on most embedding distributions; PQ is the
    * deeper-compression tier). Search is ASYMMETRIC: raw float queries
    * score corpus CODES through the per-dim reconstruction
    * `lo_d + code_d·(hi_d − lo_d)/255` — the stored floats are never
    * re-read.
    *
    * Determinism: the census is exact double min/max per dim; the code is
    * `floor((x−lo)/(hi−lo)·255 + ½)` (each op correctly rounded, same in
    * any engine); distances evaluate in one fixed zip order with a
    * sequential left-fold sum — bit-portable, so the whole top-k gates.
    * A flat dimension (hi = lo) codes to 0 and reconstructs to lo.
    *
    * Scale shape: the census is a posexplode + per-dim min/max — partial
    * aggregation collapses it to d rows per partition BEFORE the shuffle,
    * so the exchange is O(partitions·d), never data-sized; coding is a
    * scan-local projection against the 1-row broadcast range frame; the
    * scored pass is corpus-scan × broadcast queries (the [[pqSearch]]
    * BNLJ contract) with map-side-limited top-k. */
  def sq8Search(
      queries: DataFrame,
      corpus: DataFrame,
      topK: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(topK >= 1, s"topK must be >= 1: $topK")
    def dv(c: org.apache.spark.sql.Column) = transform(c, _.cast("double"))
    val census = corpus
      .select(posexplode(dv(col(vecCol))).as(Seq("__pos", "__x")))
      .groupBy("__pos")
      .agg(min("__x").as("__lo"), max("__x").as("__hi"))
      .agg(sort_array(collect_list(struct(col("__pos"), col("__lo"),
        col("__hi")))).as("__g"))
      .select(transform(col("__g"), s =>
        struct(s.getField("__lo").as("lo"), s.getField("__hi").as("hi")))
        .as("__rng"))
    val coded = corpus.crossJoin(broadcast(census))
      .select(col(idCol).as("n_id"),
        zip_with(dv(col(vecCol)), col("__rng"), (x, r) => {
          val lo = r.getField("lo")
          val hi = r.getField("hi")
          when(hi > lo,
            floor((x - lo) / (hi - lo) * lit(255.0) + lit(0.5)).cast("long"))
            .otherwise(lit(0L))
        }).as("__codes"),
        col("__rng"))
    val qs = queries.select(col(idCol).as("q_id"), dv(col(vecCol)).as("__qe"))
    // native Sq8L2 (r18): fuses the reconstruct zip_with + distance fold
    // into one traversal with the identical IEEE op order (see the
    // expression's scaladoc) — the two interpreted HOFs per pair were the
    // whole scan cost
    val dist = graft.functions.VectorFunctions
      .sq8L2(col("__qe"), col("__codes"), col("__rng"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sq_d2").asc, col("n_id").asc)
    coded.crossJoin(broadcast(qs))
      .select(col("q_id"), col("n_id"), dist.as("sq_d2"))
      .where(col("q_id") =!= col("n_id"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("n_id"), col("rank"), col("sq_d2"))
  }
}
