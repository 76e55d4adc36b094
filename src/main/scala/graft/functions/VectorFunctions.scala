package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>` embedding columns using Catalyst
  * higher-order functions (`zip_with` / `aggregate` / `transform`) — codegen'd
  * and fully distributed, no UDF, no linear-algebra dependency.
  *
  * All arithmetic is promoted to double BEFORE any accumulation so results are
  * stable across engines to ~1e-14 (the DuckDB correctness oracle does the
  * same; thresholds/rank keys are rounded to absorb the residual ulp noise).
  */
object VectorFunctions {

  private def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(toDouble(a), toDouble(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** One-pass native cosine (codegen'd, [[CosineSimilarity]]); identical
    * value to dot(a,b)/(norm(a)*norm(b)) — same left-fold accumulation. */
  def cosineSimilarity(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftExpr
    GraftExpr.column(CosineSimilarity(GraftExpr.expression(a), GraftExpr.expression(b)))
  }

  /** Symmetric int8 quantization: struct(scale, q) with scale = max |x| and
    * q_i = floor(x_i / scale * 127 + 0.5) — round-half-toward-+∞, a fixed
    * cross-engine convention (engine round() functions disagree on halves).
    * A zero vector quantizes to all zeros at scale 0. 4× storage cut for a
    * 100 TB embedding table; dequantization error ≤ scale/254 per
    * component. Runs as Catalyst HOFs (interpreted): right for write-once
    * storage prep; promote to a native expression if it ever lands in a
    * per-query hot path. */
  def quantizeInt8(v: Column): Column = {
    val d = toDouble(v)
    val scale = array_max(transform(d, x => abs(x)))
    struct(scale.as("scale"),
      when(scale === 0.0, transform(d, _ => lit(0)))
        .otherwise(transform(d, x => floor(x / scale * 127 + 0.5).cast("int")))
        .as("q"))
  }

  /** Sign-bit bucket id for random-hyperplane LSH: bit i = (v · plane_i) >= 0.
    * Planes are deterministic (seeded) so bucketing is reproducible across
    * runs and executors. Fused native expression — one vector traversal for
    * all planes — that fails fast if the vector length does not match the
    * plane dimension (a null-padded zip would silently send every vector to
    * bucket 0, degenerating LSH to a cross join). */
  def hyperplaneBucket(v: Column, planes: Seq[Array[Double]]): Column = {
    import org.apache.spark.sql.GraftExpr
    GraftExpr.column(HyperplaneBucket(GraftExpr.expression(v), planes.toArray))
  }

  /** |A ∩ B| of two sorted `array<bigint>` columns — native two-pointer
    * merge ([[SortedIntersectCount]]), the per-edge hot op of adjacency-
    * intersection triangle counting. Callers own sortedness. */
  /** PQ subspace code (argmin codeword id over a subspace window) — the
    * native form of the pqCodeColumns aggregate-HOF argmin; see [[PqCode]]
    * for the exact tie/null/NaN contract it replicates. */
  def pqCode(vec: Column, codebook: Column, start: Int, len: Int,
      positional: Boolean = false, cacheCodebook: Boolean = false): Column = {
    import org.apache.spark.sql.GraftExpr
    GraftExpr.column(PqCode(GraftExpr.expression(vec),
      GraftExpr.expression(codebook), start, len, positional, cacheCodebook))
  }

  /** Squared L2 distance by left fold — native form of the
    * `aggregate(zip_with((x−y)²))` HOF; see [[L2Distance]] for the exact
    * null contract it replicates. */
  def l2Distance(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftExpr
    GraftExpr.column(L2Distance(GraftExpr.expression(a), GraftExpr.expression(b)))
  }

  /** SQ8 reconstruction distance (reconstruct-then-square-distance fused);
    * see [[Sq8L2]] for the exact IEEE op order and null contract. */
  def sq8L2(qe: Column, codes: Column, rng: Column): Column = {
    import org.apache.spark.sql.GraftExpr
    GraftExpr.column(Sq8L2(GraftExpr.expression(qe),
      GraftExpr.expression(codes), GraftExpr.expression(rng)))
  }

  def sortedIntersectCount(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftExpr
    GraftExpr.column(SortedIntersectCount(GraftExpr.expression(a), GraftExpr.expression(b)))
  }

  /** The `n` nearest centroid indices by (squared euclidean, index) — fused
    * native expression ([[NearestCells]]); one traversal for all centroids,
    * left-fold accumulation matching the DuckDB oracle bit-for-bit. */
  def nearestCells(v: Column, centroids: Array[Array[Double]], n: Int): Column = {
    import org.apache.spark.sql.GraftExpr
    GraftExpr.column(NearestCells(GraftExpr.expression(v), centroids, n))
  }

  /** Deterministic pseudo-random unit-ish hyperplanes (xorshift from a fixed
    * seed — no java.util.Random so results never depend on JVM version). */
  def makePlanes(nPlanes: Int, dim: Int, seed: Long = 0x5DEECE66DL): Seq[Array[Double]] = {
    var s = seed
    def next(): Double = {
      s ^= s << 13; s ^= s >>> 7; s ^= s << 17
      (s.toDouble / Long.MaxValue.toDouble)
    }
    Seq.fill(nPlanes)(Array.fill(dim)(next()))
  }

  /** Deterministic ±1 sign matrix for Johnson–Lindenstrauss sign projection
    * (the dense ±1 member of Achlioptas 2003's database-friendly family) —
    * same xorshift generator as [[makePlanes]], signs from the stream's
    * parity bit. Shared verbatim with any oracle SQL ([[makePlanes]]'s
    * constants-in-both-engines discipline). */
  def makeSigns(outDims: Int, dim: Int, seed: Long = 0xA5F152EDL): Seq[Array[Long]] = {
    var s = if (seed == 0L) 1L else seed // xorshift fixed point at 0
    def next(): Long = {
      s ^= s << 13; s ^= s >>> 7; s ^= s << 17
      if ((s & 1L) == 0L) 1L else -1L
    }
    Seq.fill(outDims)(Array.fill(dim)(next()))
  }

  /** Exact fixed-point JL projection: components quantize ONCE to
    * `round(x·1000)` longs, then every output dimension is a ±1-signed
    * INTEGER sum — no float accumulation anywhere, so the result is
    * bit-identical in any engine and any evaluation order (stronger than
    * the cosine gates' rounded-double parity). Fused native expression
    * ([[SignProject]] — the HOF `zip_with`+`aggregate` form re-quantized
    * per output dim, ~180 µs/row at dim 64 × k 8); fails fast on a
    * dimension mismatch (a null-padded zip would silently zero the
    * tail). */
  def projectSignsQuantized(v: Column, signs: Seq[Array[Long]]): Column = {
    require(signs.nonEmpty, "projectSignsQuantized: empty sign matrix")
    val dim = signs.head.length
    require(signs.forall(_.length == dim),
      "projectSignsQuantized: ragged sign matrix")
    import org.apache.spark.sql.GraftExpr
    GraftExpr.column(SignProject(GraftExpr.expression(v), signs.toArray))
  }

  /** [[CovMoments]] as an aggregate Column over a quantized long-array
    * column: one update per vector, exact 128-bit product sums. */
  def covMoments(q: Column, dim: Int): Column = {
    import org.apache.spark.sql.GraftExpr
    GraftExpr.column(CovMoments(GraftExpr.expression(q), dim).toAggregateExpression())
  }
}
