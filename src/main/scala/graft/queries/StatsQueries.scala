package graft
package queries

import graft.functions.TextFunctions
import graft.operators.Curation
import org.apache.spark.sql.functions._
import Kit._
import Q._

/** Distribution statistics and drift tests: scaling laws, inequality
  * indices, exact quantiles, two-sample tests, divergences, rank
  * correlations and column scalers. */
private[graft] object StatsQueries {

  /** q_corr_stats reference: one UNION ALL block per column pair, exact
    * integer sums stringified through HUGEINT (matching the engine's
    * DECIMAL(38,0) → string digits at any magnitude). */
  private def corrOracleSql(cols: Seq[String]): String = {
    val pairs = for { (a, i) <- cols.zipWithIndex; b <- cols.drop(i) } yield (a, b)
    pairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_a, '$b' AS col_b,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(CAST(sum(av) AS HUGEINT) AS VARCHAR) AS sum_a,
         |  CAST(CAST(sum(bv) AS HUGEINT) AS VARCHAR) AS sum_b,
         |  CAST(CAST(sum(av * bv) AS HUGEINT) AS VARCHAR) AS sum_ab,
         |  CAST(CAST(sum(av * av) AS HUGEINT) AS VARCHAR) AS sum_a2,
         |  CAST(CAST(sum(bv * bv) AS HUGEINT) AS VARCHAR) AS sum_b2
         |FROM (SELECT CAST(round(CAST($a AS DOUBLE) * 100) AS BIGINT) AS av,
         |             CAST(round(CAST($b AS DOUBLE) * 100) AS BIGINT) AS bv
         |      FROM lineitem
         |      WHERE $a IS NOT NULL AND $b IS NOT NULL)""".stripMargin
    }.mkString("\nUNION ALL\n")
  }

  val all: Seq[Q] = Seq(
    // Zipf rank-frequency exponent of the shingle vocabulary: ln-ln OLS
    // over (two-phase-prefix global rank, frequency), quantized to the
    // 2^-20 grid so the cross-engine StrictMath-vs-libm ln ulp never
    // reaches the hash; decimal moment sums exact, slope/intercept one
    // fixed-order double readout.
    // zipf/heaps: quantized-ln OLS — integer moments in HUGEINT, the
    // slope/intercept doubles in the engine's exact op order
    Q("q_zipf", (s, dir) => Curation.zipfFit(t(s, dir, "documents")),
      hashSafe("n,sx*,sy*,sxy*,sxx*,slope,intercept")(
      """WITH f AS (
        |  SELECT sh, count(*) AS freq FROM (
        |    SELECT unnest(list_transform(range(1, len(toks) - 1),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |    FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS toks FROM documents))
        |  GROUP BY sh),
        |r AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, sh) AS rank FROM f),
        |pts AS (SELECT
        |    CAST(floor(ln(CAST(rank AS DOUBLE)) * 1048576.0 + 0.5) AS BIGINT) AS x,
        |    CAST(floor(ln(CAST(freq AS DOUBLE)) * 1048576.0 + 0.5) AS BIGINT) AS y
        |  FROM r),
        |a AS (SELECT count(*) AS n,
        |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
        |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
        |  FROM pts),
        |s AS (SELECT n, CAST(sx AS DECIMAL(38,0)) AS sx, CAST(sy AS DECIMAL(38,0)) AS sy,
        |    CAST(sxy AS DECIMAL(38,0)) AS sxy, CAST(sxx AS DECIMAL(38,0)) AS sxx,
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |      (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope
        |  FROM a)
        |SELECT n, sx, sy, sxy, sxx, slope,
        |  (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept
        |FROM s""".stripMargin), bench = true),

    // Heaps vocabulary-growth exponent: V(N) ~ K*N^beta over cumulative
    // (tokens seen, distinct vocab) at every doc in id order — both
    // running sums from ONE shared two-phase prefix pass.
    Q("q_heaps", (s, dir) => Curation.heapsFit(t(s, dir, "documents")),
      hashSafe("n,sx*,sy*,sxy*,sxx*,slope,intercept")(
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id, list_transform(range(1, len(toks) - 1),
        |        i -> array_to_string(toks[i:i+2], ' ')) AS shs FROM d),
        |perdoc AS (SELECT doc_id, len(shs) AS n_sh FROM s),
        |firsts AS (SELECT sh, min(doc_id) AS doc_id
        |  FROM (SELECT doc_id, unnest(shs) AS sh FROM s) GROUP BY sh),
        |nn AS (SELECT doc_id, count(*) AS n_new FROM firsts GROUP BY 1),
        |j AS (SELECT p.doc_id, p.n_sh, COALESCE(nn.n_new, 0) AS n_new
        |      FROM perdoc p LEFT JOIN nn USING (doc_id)),
        |c AS (SELECT sum(n_sh) OVER (ORDER BY doc_id) AS cum_tokens,
        |        sum(n_new) OVER (ORDER BY doc_id) AS cum_vocab FROM j),
        |pts AS (SELECT
        |    CAST(floor(ln(CAST(cum_tokens AS DOUBLE)) * 1048576.0 + 0.5) AS BIGINT) AS x,
        |    CAST(floor(ln(CAST(cum_vocab AS DOUBLE)) * 1048576.0 + 0.5) AS BIGINT) AS y
        |  FROM c WHERE cum_tokens > 0 AND cum_vocab > 0),
        |a AS (SELECT count(*) AS n,
        |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
        |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
        |  FROM pts),
        |s2 AS (SELECT n, CAST(sx AS DECIMAL(38,0)) AS sx, CAST(sy AS DECIMAL(38,0)) AS sy,
        |    CAST(sxy AS DECIMAL(38,0)) AS sxy, CAST(sxx AS DECIMAL(38,0)) AS sxx,
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |      (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope
        |  FROM a)
        |SELECT n, sx, sy, sxy, sxx, slope,
        |  (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept
        |FROM s2""".stripMargin), bench = true),

    // Gini concentration of shingle mass: the log-free companion readout
    // (template/boilerplate domination signal) — tie-order-invariant
    // rank-weighted sum, exact decimal moments, one double division.
    Q("q_gini", (s, dir) => Curation.giniIndex(t(s, dir, "documents")),
      hashSafe("n,sum_x*,sum_ix*,gini")(
      """WITH f AS (
        |  SELECT sh, count(*) AS x FROM (
        |    SELECT unnest(list_transform(range(1, len(toks) - 1),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |    FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS toks FROM documents))
        |  GROUP BY sh),
        |r AS (SELECT x, row_number() OVER (ORDER BY x, sh) AS i FROM f),
        |a AS (SELECT count(*) AS n, sum(CAST(x AS HUGEINT)) AS sum_x,
        |        sum(CAST(i AS HUGEINT) * CAST(x AS HUGEINT)) AS sum_ix FROM r)
        |SELECT n, CAST(sum_x AS DECIMAL(38,0)) AS sum_x,
        |  CAST(sum_ix AS DECIMAL(38,0)) AS sum_ix,
        |  (2.0 * CAST(sum_ix AS DOUBLE) -
        |    (CAST(n AS DOUBLE) + 1.0) * CAST(sum_x AS DOUBLE)) /
        |    (CAST(n AS DOUBLE) * CAST(sum_x AS DOUBLE)) AS gini
        |FROM a""".stripMargin), bench = true),

    // Lorenz curve of document-length mass at deciles: the curve behind
    // Gini's scalar ("bottom 50% of docs hold x% of chars") — integer
    // rank boundaries, tie-splitting by mass, exact decimal numerators.
    // Lorenz: integer decile rank boundaries, kept-mass tie splitting,
    // exact HUGEINT mass numerators, one double share per point
    Q("q_lorenz", (s, dir) =>
      Curation.lorenzCurve(t(s, dir, "documents"), "n_chars"),
      hashSafe("i,r,n,mass*,pop_share,mass_share")(
      """WITH c AS (SELECT CAST(n_chars AS BIGINT) AS x,
        |             CAST(count(*) AS BIGINT) AS c
        |           FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 0
        |           GROUP BY 1),
        |cum AS (SELECT x, c, CAST(sum(c) OVER (ORDER BY x) AS BIGINT) AS cum
        |        FROM c),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |        sum(CAST(x AS HUGEINT) * c) AS s FROM c),
        |pts AS (SELECT unnest(range(1, 11)) AS i),
        |m AS (SELECT i, (i * n) // 10 AS r, n, s,
        |    sum(CAST(x AS HUGEINT) *
        |        (least(cum, (i * n) // 10) - least(cum - c, (i * n) // 10))) AS mass
        |  FROM cum CROSS JOIN pts CROSS JOIN t
        |  GROUP BY 1, 2, 3, 4)
        |SELECT CAST(i AS BIGINT) AS i, CAST(r AS BIGINT) AS r, n,
        |  CAST(mass AS DECIMAL(38,0)) AS mass,
        |  CAST(r AS DOUBLE) / CAST(n AS DOUBLE) AS pop_share,
        |  CASE WHEN s <> 0 THEN CAST(mass AS DOUBLE) / CAST(s AS DOUBLE)
        |  END AS mass_share
        |FROM m""".stripMargin), bench = true),

    // Hill tail-index of document lengths: the extreme-upper-tail Pareto
    // exponent over the top-100 order statistics — DESC-cumulative
    // histogram mass (no row sort), quantized-ln integer terms.
    // Hill: DESC-cumulative kept multiplicities, quantized-ln diffs vs
    // the (k+1)-th order statistic, order-free HUGEINT sum
    Q("q_hill", (s, dir) =>
      Curation.hillTail(t(s, dir, "documents"), "n_chars"),
      hashSafe("k,n,x_ref,s_gamma*,gamma,alpha")(
      """WITH c AS (SELECT CAST(n_chars AS BIGINT) AS x,
        |             CAST(count(*) AS BIGINT) AS c
        |           FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
        |           GROUP BY 1),
        |cum AS (SELECT x, c, CAST(sum(c) OVER (ORDER BY x DESC) AS BIGINT) AS cum
        |        FROM c),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c),
        |xr AS (SELECT max(x) AS x_ref FROM cum WHERE cum >= 101),
        |s AS (SELECT sum(CAST(greatest(least(cum, 100) - (cum - c), 0) AS HUGEINT) *
        |    (CAST(floor(ln(CAST(x AS DOUBLE)) * 1048576.0 + 0.5) AS HUGEINT)
        |     - CAST(floor(ln(CAST(x_ref AS DOUBLE)) * 1048576.0 + 0.5) AS HUGEINT))) AS s_gamma
        |  FROM cum, xr)
        |SELECT CAST(100 AS BIGINT) AS k, n, x_ref,
        |  CAST(s_gamma AS DECIMAL(38,0)) AS s_gamma,
        |  CAST(s_gamma AS DOUBLE) / (100.0 * 1048576.0) AS gamma,
        |  CASE WHEN s_gamma <> 0
        |    THEN 1.0 / (CAST(s_gamma AS DOUBLE) / (100.0 * 1048576.0))
        |  END AS alpha
        |FROM s, t, xr""".stripMargin), bench = true),

    // Theil T inequality of document lengths: the entropy-based,
    // subgroup-decomposable concentration readout next to Gini —
    // grid-quantized lns, exact integer term sums, one double division.
    // Theil T: integer-product terms under the quantized ln, order-free
    // HUGEINT sum, one fixed-order double readout
    Q("q_theil", (s, dir) =>
      Curation.theilIndex(t(s, dir, "documents"), "n_chars"), hashSafe("n,sum_x*,s_t*,theil")(
      """WITH v AS (SELECT CAST(n_chars AS BIGINT) AS x FROM documents
        |           WHERE n_chars IS NOT NULL AND n_chars > 0),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        sum(CAST(x AS HUGEINT)) AS sum_x FROM v),
        |s AS (SELECT sum(CAST(x AS HUGEINT) *
        |      (CAST(floor(ln(CAST(CAST(x AS HUGEINT) * n AS DOUBLE)) * 1048576.0 + 0.5) AS HUGEINT)
        |       - CAST(floor(ln(CAST(sum_x AS DOUBLE)) * 1048576.0 + 0.5) AS HUGEINT))) AS s_t
        |     FROM v, t)
        |SELECT n, CAST(sum_x AS DECIMAL(38,0)) AS sum_x,
        |  CAST(s_t AS DECIMAL(38,0)) AS s_t,
        |  CAST(s_t AS DOUBLE) / (CAST(sum_x AS DOUBLE) * 1048576.0) AS theil
        |FROM s, t""".stripMargin), bench = true),

    // Mutual information source × lang: how much two categorical columns
    // predict each other (feature redundancy / label leakage) — exact
    // integer cell terms under the quantized ln, marginal entropies on
    // the same scan, NMI readout.
    // MI: per-cell integer-product log-ratio terms vs the marginal
    // product, entropies on the marginal histograms, NMI readout
    Q("q_mutual_info", (s, dir) =>
      Curation.mutualInfo(t(s, dir, "documents"), "source", "lang"),
      hashSafe("n,k,s_mi*,s_hx*,s_hy*,mi,h_x,h_y,nmi")(
      """WITH c AS (
        |  SELECT CAST(source AS VARCHAR) AS x, CAST(lang AS VARCHAR) AS y,
        |    CAST(count(*) AS BIGINT) AS cxy
        |  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
        |  GROUP BY 1, 2),
        |mx AS (SELECT x, CAST(sum(cxy) AS BIGINT) AS cx FROM c GROUP BY 1),
        |my AS (SELECT y, CAST(sum(cxy) AS BIGINT) AS cy FROM c GROUP BY 1),
        |t AS (SELECT CAST(sum(cxy) AS BIGINT) AS n,
        |        CAST(count(*) AS BIGINT) AS k FROM c),
        |smi AS (SELECT sum(CAST(cxy AS HUGEINT) *
        |      (CAST(floor(ln(CAST(CAST(cxy AS HUGEINT) * n AS DOUBLE)) * 1048576.0 + 0.5) AS HUGEINT)
        |       - CAST(floor(ln(CAST(CAST(cx AS HUGEINT) * cy AS DOUBLE)) * 1048576.0 + 0.5) AS HUGEINT))) AS s_mi
        |  FROM c JOIN mx USING (x) JOIN my USING (y), t),
        |shx AS (SELECT sum(CAST(cx AS HUGEINT) *
        |      (CAST(floor(ln(CAST(cx AS DOUBLE)) * 1048576.0 + 0.5) AS HUGEINT)
        |       - CAST(floor(ln(CAST(n AS DOUBLE)) * 1048576.0 + 0.5) AS HUGEINT))) AS s_hx
        |  FROM mx, t),
        |shy AS (SELECT sum(CAST(cy AS HUGEINT) *
        |      (CAST(floor(ln(CAST(cy AS DOUBLE)) * 1048576.0 + 0.5) AS HUGEINT)
        |       - CAST(floor(ln(CAST(n AS DOUBLE)) * 1048576.0 + 0.5) AS HUGEINT))) AS s_hy
        |  FROM my, t)
        |SELECT n, k, CAST(s_mi AS DECIMAL(38,0)) AS s_mi,
        |  CAST(s_hx AS DECIMAL(38,0)) AS s_hx,
        |  CAST(s_hy AS DECIMAL(38,0)) AS s_hy,
        |  CAST(s_mi AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0) AS mi,
        |  -CAST(s_hx AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0) AS h_x,
        |  -CAST(s_hy AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0) AS h_y,
        |  2.0 * (CAST(s_mi AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0)) /
        |    ((-CAST(s_hx AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0)) +
        |     (-CAST(s_hy AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0))) AS nmi
        |FROM smi, shx, shy, t""".stripMargin), bench = true),

    // Numeric quantile profile (exact percentile = the oracle path;
    // approx_percentile is the bounded-state 100 TB path, spec-pinned
    // against this within rank error).
    Q("q_quantiles", (s, dir) =>
      Curation.quantileProfile(t(s, dir, "orders"),
        Seq("o_totalprice", "o_custkey"), Seq(0.25, 0.5, 0.75, 0.99)), sql(
      """SELECT 'o_totalprice' AS col_name, 0.25 AS prob,
        |  quantile_cont(o_totalprice, 0.25) AS value FROM orders
        |UNION ALL SELECT 'o_totalprice', 0.5, quantile_cont(o_totalprice, 0.5) FROM orders
        |UNION ALL SELECT 'o_totalprice', 0.75, quantile_cont(o_totalprice, 0.75) FROM orders
        |UNION ALL SELECT 'o_totalprice', 0.99, quantile_cont(o_totalprice, 0.99) FROM orders
        |UNION ALL SELECT 'o_custkey', 0.25, quantile_cont(o_custkey, 0.25) FROM orders
        |UNION ALL SELECT 'o_custkey', 0.5, quantile_cont(o_custkey, 0.5) FROM orders
        |UNION ALL SELECT 'o_custkey', 0.75, quantile_cont(o_custkey, 0.75) FROM orders
        |UNION ALL SELECT 'o_custkey', 0.99, quantile_cont(o_custkey, 0.99) FROM orders""".stripMargin),
      bench = true),

    // Per-group quantiles: token-length p50/p99 per source — the length
    // distribution a curation pass reads before choosing filters.
    Q("q_quantiles_group", (s, dir) =>
      Curation.quantileProfile(
        t(s, dir, "documents").select(col("source"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens")),
        Seq("n_tokens"), Seq(0.5, 0.99), groupCols = Seq("source")), sql(
      """WITH t AS (SELECT source,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT source, 'n_tokens' AS col_name, 0.5 AS prob,
        |  quantile_cont(n_tokens, 0.5) AS value FROM t GROUP BY source
        |UNION ALL
        |SELECT source, 'n_tokens', 0.99, quantile_cont(n_tokens, 0.99)
        |FROM t GROUP BY source""".stripMargin), bench = true),

    // Ingest-drift gate: PSI of the n_chars distribution, new batch
    // (doc_id % 3 = 0) vs reference (the rest); 10 bins from the
    // reference's own deciles, all bins present, Laplace-smoothed terms.
    Q("q_psi", (s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.populationStability(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0),
        "n_chars", bins = 10)
    }, sql(
      """WITH r AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
        |           WHERE doc_id % 3 != 0 AND n_chars IS NOT NULL),
        |c AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
        |      WHERE doc_id % 3 = 0 AND n_chars IS NOT NULL),
        |e AS (SELECT quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS edges FROM r),
        |rb AS (SELECT len(list_filter(e.edges, x -> v > x)) AS bin, count(*) AS nr
        |       FROM r, e GROUP BY 1),
        |cb AS (SELECT len(list_filter(e.edges, x -> v > x)) AS bin, count(*) AS nc
        |       FROM c, e GROUP BY 1),
        |j AS (SELECT b.bin, COALESCE(nr, 0) AS n_ref, COALESCE(nc, 0) AS n_cur
        |      FROM (SELECT unnest(range(0, 10)) AS bin) b
        |      LEFT JOIN rb USING (bin) LEFT JOIN cb USING (bin)),
        |p AS (SELECT bin, n_ref, n_cur,
        |        (n_ref + 0.5) / (sum(n_ref) OVER () + 5.0) AS p_ref,
        |        (n_cur + 0.5) / (sum(n_cur) OVER () + 5.0) AS p_cur
        |      FROM j)
        |SELECT bin, n_ref, n_cur, p_ref, p_cur,
        |  round((p_cur - p_ref) * ln(p_cur / p_ref), 12) AS psi_term
        |FROM p""".stripMargin), bench = true),

    // Exact two-sample Kolmogorov-Smirnov: the unbinned drift test PSI
    // coarsens away — D as the exact integer cross-multiplied ECDF-gap
    // numerator over the distinct-value histogram (two-phase prefix
    // sums), one division for the double readout. Cohorts: even vs odd
    // user_id over event values.
    // KS: cross-multiplied integer ECDF-gap numerator over the distinct-
    // value histogram; one exact-integer division for the double
    Q("q_ks_drift", (s, dir) =>
      Curation.ksStatistic(ev(s, dir), "value", col("user_id") % 2 === 1), sql(
      """WITH c AS (
        |  SELECT CAST(value AS DOUBLE) AS v,
        |    CAST(count(*) FILTER (user_id % 2 = 0) AS BIGINT) AS ca,
        |    CAST(count(*) FILTER (user_id % 2 = 1) AS BIGINT) AS cb
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |cum AS (SELECT sum(ca) OVER (ORDER BY v) AS cuma,
        |          sum(cb) OVER (ORDER BY v) AS cumb FROM c),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
        |        CAST(sum(cb) AS BIGINT) AS n_b FROM c)
        |SELECT n_a, n_b,
        |  CAST(max(abs(cuma * n_b - cumb * n_a)) AS BIGINT) AS d_num,
        |  CAST(max(abs(cuma * n_b - cumb * n_a)) AS DOUBLE) /
        |    CAST(n_a * n_b AS DOUBLE) AS d
        |FROM cum, t GROUP BY n_a, n_b""".stripMargin), bench = true),

    // Exact Mann-Whitney U on the same histogram+prefix machinery:
    // average-rank ties stay integer by DOUBLING (u2 = 2U exactly).
    // MWU: doubled average-rank sums stay exact integers
    Q("q_mwu", (s, dir) =>
      Curation.mannWhitneyU(ev(s, dir), "value", col("user_id") % 2 === 1), sql(
      """WITH c AS (
        |  SELECT CAST(value AS DOUBLE) AS v,
        |    CAST(count(*) FILTER (user_id % 2 = 0) AS BIGINT) AS ca,
        |    CAST(count(*) FILTER (user_id % 2 = 1) AS BIGINT) AS cb
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |cum AS (SELECT ca, cb,
        |          CAST(sum(ca + cb) OVER (ORDER BY v) AS BIGINT) AS cumab FROM c),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
        |        CAST(sum(cb) AS BIGINT) AS n_b FROM c),
        |r AS (SELECT CAST(sum(ca * (2 * (cumab - ca - cb) + ca + cb + 1)) AS BIGINT) AS r2
        |      FROM cum)
        |SELECT n_a, n_b,
        |  r2 - n_a * (n_a + 1) AS u2_a,
        |  2 * n_a * n_b - (r2 - n_a * (n_a + 1)) AS u2_b
        |FROM r, t""".stripMargin), bench = true),

    // Exact trimmed + winsorized means of event values: rank-based tail
    // drop/clamp on the value histogram (kept multiplicity is an exact
    // integer per distinct value), DECIMAL(20,4) kept sums, boundary
    // order statistics from two filtered aggs.
    // trimmed/winsorized: exact kept multiplicities on the histogram,
    // DECIMAL(20,4) kept sums, boundary order statistics
    Q("q_trimmed", (s, dir) =>
      Curation.trimmedMeans(ev(s, dir), "value"), sql(
      """WITH c AS (SELECT CAST(value AS DOUBLE) AS v,
        |             CAST(count(*) AS BIGINT) AS c
        |           FROM events WHERE value IS NOT NULL GROUP BY 1),
        |cum AS (SELECT v, c, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum
        |        FROM c),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |        (CAST(sum(c) AS BIGINT) * 1) // 10 AS k FROM c),
        |core AS (SELECT n, k, sum(CAST(v AS DECIMAL(20,4)) *
        |           greatest(least(cum, n - k) - greatest(cum - c, k), 0)) AS tsum
        |         FROM cum, t GROUP BY 1, 2),
        |lo AS (SELECT min(v) AS lo_cut FROM cum, t WHERE cum > k),
        |hi AS (SELECT max(v) AS hi_cut FROM cum, t WHERE cum - c < n - k)
        |SELECT n, k, lo_cut, hi_cut,
        |  CASE WHEN n - 2 * k > 0
        |    THEN CAST(tsum AS DOUBLE) / CAST(n - 2 * k AS DOUBLE) END AS trimmed_mean,
        |  CAST(tsum + CAST(lo_cut AS DECIMAL(20,4)) * k
        |       + CAST(hi_cut AS DECIMAL(20,4)) * k AS DOUBLE)
        |    / CAST(n AS DOUBLE) AS winsor_mean
        |FROM core, lo, hi""".stripMargin), bench = true),

    // Per-day Shannon entropy of the event-type mix: composition drift
    // over time — quantized-ln integer entropy numerators per day.
    // per-day mix entropy: quantized-ln integer numerators per day
    Q("q_mix_entropy", (s, dir) =>
      Curation.mixEntropy(ev(s, dir), "event_type"), hashSafe("day,n,k,s_h*,h")(
      """WITH cells AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |    event_type AS cat, CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |d AS (SELECT day, CAST(sum(c) AS BIGINT) AS n,
        |        CAST(count(*) AS BIGINT) AS k FROM cells GROUP BY 1),
        |s AS (SELECT cells.day, n, k, sum(CAST(c AS HUGEINT) *
        |    (CAST(floor(ln(CAST(c AS DOUBLE)) * 1048576.0 + 0.5) AS HUGEINT)
        |     - CAST(floor(ln(CAST(n AS DOUBLE)) * 1048576.0 + 0.5) AS HUGEINT))) AS s_h
        |  FROM cells JOIN d USING (day) GROUP BY 1, 2, 3)
        |SELECT day, n, k, CAST(s_h AS DECIMAL(38,0)) AS s_h,
        |  -CAST(s_h AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0) AS h
        |FROM s""".stripMargin), bench = true),

    // Herfindahl concentration of the source mix: the log-free companion
    // — exact integer sum-of-squares, hhi + effective-source-count
    // readouts, no quantization anywhere.
    // HHI: exact integer sum-of-squares over the category histogram
    Q("q_hhi", (s, dir) =>
      Curation.hhi(t(s, dir, "documents"), "source"), hashSafe("k,n*,ssq*,hhi,effective_k")(
      """WITH c AS (SELECT CAST(source AS VARCHAR) AS cat,
        |             CAST(count(*) AS BIGINT) AS c
        |           FROM documents WHERE source IS NOT NULL GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS k,
        |  CAST(sum(CAST(c AS HUGEINT)) AS DECIMAL(38,0)) AS n,
        |  CAST(sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS DECIMAL(38,0)) AS ssq,
        |  CAST(sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS DOUBLE) /
        |    (CAST(sum(CAST(c AS HUGEINT)) AS DOUBLE) *
        |     CAST(sum(CAST(c AS HUGEINT)) AS DOUBLE)) AS hhi,
        |  (CAST(sum(CAST(c AS HUGEINT)) AS DOUBLE) *
        |   CAST(sum(CAST(c AS HUGEINT)) AS DOUBLE)) /
        |    CAST(sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS DOUBLE) AS effective_k
        |FROM c""".stripMargin), bench = true),

    // Wasserstein-1 (earth-mover's) distance on the same cohorts: the
    // AREA between the ECDFs in the column's own units — exact integer
    // ECDF-gap numerators x 2^-20-grid-quantized value gaps, order-free
    // decimal term sum, one fixed-order double readout.
    // W1: exact integer ECDF-gap numerators x quantized value gaps,
    // order-free HUGEINT term sum, one fixed-order double readout
    Q("q_w1_drift", (s, dir) =>
      Curation.wasserstein1(ev(s, dir), "value",
        col("user_id") % 2 === 1), hashSafe("n_a,n_b,s_w1*,w1")(
      """WITH c AS (
        |  SELECT CAST(value AS DOUBLE) AS v,
        |    CAST(count(*) FILTER (user_id % 2 = 0) AS BIGINT) AS ca,
        |    CAST(count(*) FILTER (user_id % 2 = 1) AS BIGINT) AS cb
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |cum AS (SELECT v, sum(ca) OVER w AS cuma, sum(cb) OVER w AS cumb,
        |          lead(v) OVER (ORDER BY v) AS vn
        |        FROM c WINDOW w AS (ORDER BY v)),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
        |        CAST(sum(cb) AS BIGINT) AS n_b FROM c),
        |s AS (SELECT sum(CAST(abs(cuma * n_b - cumb * n_a) AS HUGEINT) *
        |        CAST(floor((vn - v) * 1048576.0 + 0.5) AS HUGEINT)) AS s_w1
        |      FROM cum, t WHERE vn IS NOT NULL)
        |SELECT n_a, n_b, CAST(s_w1 AS DECIMAL(38,0)) AS s_w1,
        |  CAST(s_w1 AS DOUBLE) /
        |    (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) * 1048576.0) AS w1
        |FROM s, t""".stripMargin), bench = true),

    // Jensen-Shannon divergence between two corpora's 3-gram shingle
    // distributions — the bounded (0..ln 2) whole-distribution drift
    // readout: 2^-20-grid-quantized lns, exact DECIMAL(38,0) entropy
    // numerators (order-free integer sums), fixed-order double readout.
    // JSD: quantized-ln entropy numerators as exact HUGEINT sums
    // (= Spark's DECIMAL(38,0)), readout doubles in the identical op order
    Q("q_jsd", (s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.jsDivergence(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0))
    }, hashSafe("a_total,b_total,s_p*,s_q*,s_m*,h_p,h_q,h_m,jsd")(
      """WITH ac AS (
        |  SELECT sh, count(*) AS ca FROM (
        |    SELECT unnest(list_transform(range(1, len(toks) - 1),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |    FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS toks
        |          FROM documents WHERE doc_id % 3 <> 0))
        |  GROUP BY sh),
        |bc AS (
        |  SELECT sh, count(*) AS cb FROM (
        |    SELECT unnest(list_transform(range(1, len(toks) - 1),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |    FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS toks
        |          FROM documents WHERE doc_id % 3 = 0))
        |  GROUP BY sh),
        |c AS (SELECT coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
        |      FROM ac FULL JOIN bc USING (sh)),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS a_total,
        |        CAST(sum(cb) AS BIGINT) AS b_total FROM c),
        |q AS (SELECT ca, cb, a_total, b_total,
        |    CAST(ca AS HUGEINT) * b_total + CAST(cb AS HUGEINT) * a_total AS nmix
        |  FROM c, t),
        |s AS (SELECT
        |    sum(CASE WHEN ca > 0 THEN CAST(ca AS HUGEINT) *
        |      (CAST(floor(ln(CAST(ca AS DOUBLE)) * 1048576.0 + 0.5) AS HUGEINT)
        |       - CAST(floor(ln(CAST(a_total AS DOUBLE)) * 1048576.0 + 0.5) AS HUGEINT))
        |      ELSE 0 END) AS s_p,
        |    sum(CASE WHEN cb > 0 THEN CAST(cb AS HUGEINT) *
        |      (CAST(floor(ln(CAST(cb AS DOUBLE)) * 1048576.0 + 0.5) AS HUGEINT)
        |       - CAST(floor(ln(CAST(b_total AS DOUBLE)) * 1048576.0 + 0.5) AS HUGEINT))
        |      ELSE 0 END) AS s_q,
        |    sum(nmix *
        |      (CAST(floor(ln(CAST(nmix AS DOUBLE)) * 1048576.0 + 0.5) AS HUGEINT)
        |       - CAST(floor(ln(CAST(2 * CAST(a_total AS HUGEINT) * b_total AS DOUBLE)) * 1048576.0 + 0.5) AS HUGEINT))) AS s_m,
        |    max(a_total) AS a_total, max(b_total) AS b_total
        |  FROM q),
        |r AS (SELECT a_total, b_total,
        |    CAST(s_p AS DECIMAL(38,0)) AS s_p, CAST(s_q AS DECIMAL(38,0)) AS s_q,
        |    CAST(s_m AS DECIMAL(38,0)) AS s_m,
        |    -(CAST(s_p AS DOUBLE) / CAST(a_total AS DOUBLE)) / 1048576.0 AS h_p,
        |    -(CAST(s_q AS DOUBLE) / CAST(b_total AS DOUBLE)) / 1048576.0 AS h_q,
        |    -(CAST(s_m AS DOUBLE) / (2.0 * CAST(a_total AS DOUBLE) * CAST(b_total AS DOUBLE))) / 1048576.0 AS h_m
        |  FROM s)
        |SELECT a_total, b_total, s_p, s_q, s_m, h_p, h_q, h_m,
        |  h_m - (h_p + h_q) / 2.0 AS jsd
        |FROM r""".stripMargin), bench = true),

    // Exact chi-square homogeneity test — the CATEGORICAL member of the
    // drift family (PSI binned numeric, KS/MWU unbinned numeric): per
    // category one exact-integer deviation D = o_a*N - N_a*m shared by
    // both sides, term = D^2/(N_a*N_b*m) as one double division of
    // decimal-exact integers, total chi2 via the fixed-order fold.
    // chi2: per-category exact-integer deviation, one double division per
    // term (HUGEINT products = Spark's DECIMAL(38,0)), ordered-fold total
    Q("q_chi2_drift", (s, dir) =>
      Curation.chi2Drift(t(s, dir, "documents"), "source",
        col("doc_id") % 3 === 0), sql(
      """WITH c AS (
        |  SELECT CAST(source AS VARCHAR) AS category,
        |    CAST(count(*) FILTER (doc_id % 3 <> 0) AS BIGINT) AS o_a,
        |    CAST(count(*) FILTER (doc_id % 3 = 0) AS BIGINT) AS o_b
        |  FROM documents WHERE source IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(sum(o_a) AS BIGINT) AS na,
        |        CAST(sum(o_b) AS BIGINT) AS nb,
        |        CAST(count(*) AS BIGINT) AS k FROM c),
        |terms AS (
        |  SELECT category, o_a, o_b,
        |    CAST(o_a * (na + nb) - na * (o_a + o_b) AS BIGINT) AS d_num,
        |    CAST(CAST(o_a * (na + nb) - na * (o_a + o_b) AS HUGEINT) *
        |         CAST(o_a * (na + nb) - na * (o_a + o_b) AS HUGEINT) AS DOUBLE) /
        |      CAST(CAST(na AS HUGEINT) * nb * (o_a + o_b) AS DOUBLE) AS term
        |  FROM c, t),
        |tot AS (SELECT list_sum(list(term ORDER BY category)) AS chi2 FROM terms)
        |SELECT category, o_a, o_b, d_num, term, chi2,
        |  (SELECT k - 1 FROM t) AS dof,
        |  sqrt(chi2 / (SELECT CAST(na + nb AS DOUBLE) FROM t)) AS cramers_v
        |FROM terms, tot""".stripMargin), bench = true),

    // Exact Kendall tau-b between two discrete columns: concordant vs
    // discordant pairs via the broadcast contingency-cell pair join,
    // doubled marginal tie corrections, one sqrt readout over exact
    // decimal integers.
    // Kendall tau-b: cell-pair concordance sums, doubled tie corrections,
    // one fixed-order sqrt readout
    Q("q_kendall", (s, dir) =>
      Curation.kendallTau(t(s, dir, "lineitem"), "l_quantity",
        "l_discount"), hashSafe("n,c_pairs*,d_pairs*,t2_x*,t2_y*,n0_2*,tau_b")(
      """WITH cells AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
        |    CAST(l_discount AS DOUBLE) AS y, CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
        |  GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
        |p AS (SELECT
        |    coalesce(sum(CASE WHEN b.y > a.y THEN CAST(a.c AS HUGEINT) * b.c END), 0) AS c_pairs,
        |    coalesce(sum(CASE WHEN b.y < a.y THEN CAST(a.c AS HUGEINT) * b.c END), 0) AS d_pairs
        |  FROM cells a JOIN cells b ON b.x > a.x),
        |tx AS (SELECT coalesce(sum(CAST(cx AS HUGEINT) * (cx - 1)), 0) AS t2_x
        |       FROM (SELECT CAST(sum(c) AS BIGINT) AS cx FROM cells GROUP BY x)),
        |ty AS (SELECT coalesce(sum(CAST(cy AS HUGEINT) * (cy - 1)), 0) AS t2_y
        |       FROM (SELECT CAST(sum(c) AS BIGINT) AS cy FROM cells GROUP BY y))
        |SELECT n, CAST(c_pairs AS DECIMAL(38,0)) AS c_pairs,
        |  CAST(d_pairs AS DECIMAL(38,0)) AS d_pairs,
        |  CAST(t2_x AS DECIMAL(38,0)) AS t2_x, CAST(t2_y AS DECIMAL(38,0)) AS t2_y,
        |  CAST(CAST(n AS HUGEINT) * (n - 1) AS DECIMAL(38,0)) AS n0_2,
        |  CASE WHEN (CAST(n AS HUGEINT) * (n - 1) - t2_x) <> 0
        |        AND (CAST(n AS HUGEINT) * (n - 1) - t2_y) <> 0 THEN
        |    2.0 * CAST(c_pairs - d_pairs AS DOUBLE) /
        |      sqrt(CAST(CAST(n AS HUGEINT) * (n - 1) - t2_x AS DOUBLE) *
        |           CAST(CAST(n AS HUGEINT) * (n - 1) - t2_y AS DOUBLE))
        |  END AS tau_b
        |FROM p, t, tx, ty""".stripMargin), bench = true),

    // Exact Spearman rank correlation (Pearson on DOUBLED average ranks —
    // the MWU tie discipline, so every moment is an exact decimal
    // integer): quantity vs extended price over lineitem.
    // Spearman: doubled average ranks from each column's histogram prefix,
    // exact HUGEINT moments, one fixed-order double rho
    Q("q_spearman", (s, dir) =>
      Curation.spearman(t(s, dir, "lineitem"), "l_quantity",
        "l_extendedprice"), hashSafe("n,sx*,sy*,sxx*,syy*,sxy*,rho")(
      """WITH rws AS (
        |  SELECT CAST(l_quantity AS DOUBLE) AS x,
        |    CAST(l_extendedprice AS DOUBLE) AS y
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |hx AS (SELECT x, count(*) AS c FROM rws GROUP BY x),
        |rx AS (SELECT x, 2 * (sum(c) OVER (ORDER BY x) - c) + c + 1 AS r2x FROM hx),
        |hy AS (SELECT y, count(*) AS c FROM rws GROUP BY y),
        |ry AS (SELECT y, 2 * (sum(c) OVER (ORDER BY y) - c) + c + 1 AS r2y FROM hy),
        |j AS (SELECT r2x, r2y FROM rws JOIN rx USING (x) JOIN ry USING (y)),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(r2x AS HUGEINT)) AS sx, sum(CAST(r2y AS HUGEINT)) AS sy,
        |    sum(CAST(r2x AS HUGEINT) * CAST(r2x AS HUGEINT)) AS sxx,
        |    sum(CAST(r2y AS HUGEINT) * CAST(r2y AS HUGEINT)) AS syy,
        |    sum(CAST(r2x AS HUGEINT) * CAST(r2y AS HUGEINT)) AS sxy
        |  FROM j)
        |SELECT n, CAST(sx AS DECIMAL(38,0)) AS sx, CAST(sy AS DECIMAL(38,0)) AS sy,
        |  CAST(sxx AS DECIMAL(38,0)) AS sxx, CAST(syy AS DECIMAL(38,0)) AS syy,
        |  CAST(sxy AS DECIMAL(38,0)) AS sxy,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |         (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS rho
        |FROM m""".stripMargin), bench = true),

    // G-test (likelihood ratio) on the same cohorts: ln(o/e) collapses to
    // a ratio of integer products, each factor grid-quantized, terms
    // exact integers in an order-free decimal sum; identical proportions
    // contribute exactly zero.
    // G-test: integer-product log ratios on the chi2 histogram, order-free
    // HUGEINT term sum, one fixed-order double readout
    Q("q_gtest", (s, dir) =>
      Curation.gTest(t(s, dir, "documents"), "source",
        col("doc_id") % 3 === 0), hashSafe("s_g*,g,dof")(
      """WITH c AS (
        |  SELECT CAST(source AS VARCHAR) AS category,
        |    CAST(count(*) FILTER (doc_id % 3 <> 0) AS BIGINT) AS o_a,
        |    CAST(count(*) FILTER (doc_id % 3 = 0) AS BIGINT) AS o_b
        |  FROM documents WHERE source IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(sum(o_a) AS BIGINT) AS na,
        |        CAST(sum(o_b) AS BIGINT) AS nb,
        |        CAST(count(*) AS BIGINT) AS k FROM c),
        |terms AS (
        |  SELECT
        |    CASE WHEN o_a > 0 THEN CAST(o_a AS HUGEINT) *
        |      (CAST(floor(ln(CAST(CAST(o_a AS HUGEINT) * (na + nb) AS DOUBLE)) * 1048576.0 + 0.5) AS HUGEINT)
        |       - CAST(floor(ln(CAST(CAST(na AS HUGEINT) * (o_a + o_b) AS DOUBLE)) * 1048576.0 + 0.5) AS HUGEINT))
        |    ELSE 0 END AS ta,
        |    CASE WHEN o_b > 0 THEN CAST(o_b AS HUGEINT) *
        |      (CAST(floor(ln(CAST(CAST(o_b AS HUGEINT) * (na + nb) AS DOUBLE)) * 1048576.0 + 0.5) AS HUGEINT)
        |       - CAST(floor(ln(CAST(CAST(nb AS HUGEINT) * (o_a + o_b) AS DOUBLE)) * 1048576.0 + 0.5) AS HUGEINT))
        |    ELSE 0 END AS tb
        |  FROM c, t),
        |s AS (SELECT sum(ta + tb) AS s_g FROM terms)
        |SELECT CAST(s_g AS DECIMAL(38,0)) AS s_g,
        |  2.0 * CAST(s_g AS DOUBLE) / 1048576.0 AS g,
        |  (SELECT k - 1 FROM t) AS dof
        |FROM s""".stripMargin), bench = true),

    // Exact weighted quantiles: the token-mass cutoff primitive ("the
    // length below which 90% of the corpus's QUANTITY lives") — integer
    // thresholds against integer prefix sums over the (value, Σweight)
    // histogram, per-group.
    // weighted quantiles: integer prefix sums over the weight histogram,
    // threshold = max(1, ceil(p * total)) — the same one-multiply float
    Q("q_quantile_weighted", (s, dir) =>
      Curation.weightedQuantiles(t(s, dir, "lineitem"),
        "l_extendedprice", "l_quantity", Seq(0.25, 0.5, 0.9, 0.99),
        groupCols = Seq("l_returnflag")), sql(
      """WITH h AS (
        |  SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS v,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        |  GROUP BY 1, 2),
        |c AS (SELECT l_returnflag, v, w,
        |    CAST(sum(w) OVER (PARTITION BY l_returnflag ORDER BY v) AS BIGINT) AS cum,
        |    CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tot
        |  FROM h),
        |p AS (SELECT unnest([0.25e0, 0.5e0, 0.9e0, 0.99e0]) AS prob)
        |SELECT c.l_returnflag, p.prob, min(c.v) AS value
        |FROM p JOIN c
        |  ON c.cum - c.w < greatest(1, CAST(ceil(p.prob * c.tot) AS BIGINT))
        | AND greatest(1, CAST(ceil(p.prob * c.tot) AS BIGINT)) <= c.cum
        |GROUP BY 1, 2""".stripMargin), bench = true),

    // Pairwise correlation sufficient statistics in ONE scan: exact
    // integer moments for every column pair — Pearson/covariance one
    // division away, order-independent where corr()'s float accumulation
    // is not. Sums cross the gate as DECIMAL-exact digit strings.
    Q("q_corr_stats", (s, dir) => {
      val sums = Seq("sum_a", "sum_b", "sum_ab", "sum_a2", "sum_b2")
      // boundedProducts: all four columns are <=2dp TPC-H measures bounded
      // by ~1.1e5, so 2dp-scaled values are <=1.1e7 and every pairwise
      // product <=1.3e14 — far inside int64; the sums are identical
      // integers, only the per-row multiply representation changes
      Curation.corrStats(t(s, dir, "lineitem"),
        Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax"),
        boundedProducts = true)
        .select(col("col_a") +: col("col_b") +: col("n") +:
          sums.map(c => col(c).cast("string").as(c)): _*)
    }, sql(corrOracleSql(
      Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax"))), bench = true),

    // Winsorize: clamp order totals into their own priority class's
    // [p5, p95] band — per-group thresholds broadcast back; exact
    // percentile = the oracle path, the GK sketch is the 100 TB path.
    Q("q_clip", (s, dir) =>
      Curation.clipToQuantiles(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice")),
        "o_totalprice", 0.05, 0.95, groupCols = Seq("o_orderpriority"),
        exact = true), sql(
      """WITH th AS (SELECT o_orderpriority,
        |  quantile_cont(o_totalprice, 0.05) AS lo,
        |  quantile_cont(o_totalprice, 0.95) AS hi
        |  FROM orders GROUP BY 1)
        |SELECT o.o_orderkey, o.o_orderpriority,
        |  CASE WHEN o.o_totalprice IS NULL THEN NULL
        |       ELSE least(greatest(o.o_totalprice, lo), hi) END AS o_totalprice,
        |  o.o_totalprice AS o_totalprice_raw
        |FROM orders o JOIN th
        |  ON o.o_orderpriority IS NOT DISTINCT FROM th.o_orderpriority""".stripMargin),
      bench = true),

    // Adaptive quality cut: keep docs at or above their OWN source's p25
    // token count (per-group thresholds broadcast back; exact percentile =
    // the oracle path, the GK-sketch default is the 100 TB path).
    Q("q_quality_cut", (s, dir) =>
      Curation.keepAboveQuantile(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens")),
        "n_tokens", 0.25, groupCols = Seq("source"), exact = true), sql(
      """WITH t AS (SELECT doc_id, source,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |th AS (SELECT source, quantile_cont(n_tokens, 0.25) AS th
        |       FROM t GROUP BY source)
        |SELECT t.doc_id, t.source, t.n_tokens
        |FROM t JOIN th ON t.source IS NOT DISTINCT FROM th.source
        |WHERE t.n_tokens >= th.th""".stripMargin), bench = true),

    // Per-source z-score standardization with exact integer stats:
    // z = (n·x − S)/sqrt(n·Q − S²) — every float-op input is an exact
    // integer, so the doubles hash cross-engine (unlike avg/stddev whose
    // partial-sum order perturbs low bits).
    Q("q_standardize", (s, dir) =>
      Curation.standardize(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens")),
        "n_tokens", groupCols = Seq("source")), sql(
      """WITH t AS (SELECT doc_id, source,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |s AS (SELECT source, count(n_tokens) AS n, sum(n_tokens) AS sm,
        |        sum(n_tokens * n_tokens) AS q
        |      FROM t GROUP BY source)
        |SELECT t.doc_id, t.source, t.n_tokens,
        |  CASE WHEN t.n_tokens IS NULL THEN NULL
        |       WHEN n * q - sm * sm = 0 THEN 0.0
        |       ELSE CAST(n * t.n_tokens - sm AS DOUBLE)
        |            / sqrt(CAST(n * q - sm * sm AS DOUBLE)) END AS z
        |FROM t JOIN s ON t.source IS NOT DISTINCT FROM s.source""".stripMargin), bench = true),

    // Per-source min-max scaling (standardize's bounded sibling, same
    // exact-integer portability argument for the hashed doubles).
    Q("q_minmax_scale", (s, dir) =>
      Curation.minMaxScale(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens")),
        "n_tokens", groupCols = Seq("source")), sql(
      """WITH t AS (SELECT doc_id, source,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |s AS (SELECT source, min(n_tokens) AS mn, max(n_tokens) AS mx
        |      FROM t GROUP BY source)
        |SELECT t.doc_id, t.source, t.n_tokens,
        |  CASE WHEN t.n_tokens IS NULL THEN NULL
        |       WHEN mx = mn THEN 0.0
        |       ELSE CAST(t.n_tokens - mn AS DOUBLE) / CAST(mx - mn AS DOUBLE)
        |  END AS scaled
        |FROM t JOIN s ON t.source IS NOT DISTINCT FROM s.source""".stripMargin), bench = true),

    // EXACT quantiles without the single-buffer percentile aggregate:
    // (group, value) histogram -> distinct-value prefix ranks -> covering
    // rows, interpolated bit-identically to percentile/quantile_cont —
    // the distributed exact path for collapsing value domains.
    Q("q_quantiles_dist", (s, dir) =>
      Curation.exactQuantilesDistributed(
        t(s, dir, "documents").select(col("source"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens")),
        "n_tokens", Seq(0.25, 0.5, 0.75, 0.99), groupCols = Seq("source")), sql(
      """WITH t AS (SELECT source,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT source, 0.25 AS prob,
        |  quantile_cont(CAST(n_tokens AS DOUBLE), 0.25) AS value
        |FROM t GROUP BY source
        |UNION ALL SELECT source, 0.5,
        |  quantile_cont(CAST(n_tokens AS DOUBLE), 0.5) FROM t GROUP BY source
        |UNION ALL SELECT source, 0.75,
        |  quantile_cont(CAST(n_tokens AS DOUBLE), 0.75) FROM t GROUP BY source
        |UNION ALL SELECT source, 0.99,
        |  quantile_cont(CAST(n_tokens AS DOUBLE), 0.99) FROM t GROUP BY source""".stripMargin),
      bench = true),

    // Median absolute deviation per source — robust dispersion composing
    // the distributed exact-quantile machinery twice (location pass, then
    // |x - med| deviation pass); exact, no single-buffer percentile.
    Q("q_mad", (s, dir) =>
      Curation.medianAbsDeviation(
        t(s, dir, "documents").select(col("source"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens")),
        "n_tokens", groupCols = Seq("source")), sql(
      """WITH t AS (SELECT source,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |m AS (SELECT source, quantile_cont(CAST(n_tokens AS DOUBLE), 0.5) AS med
        |      FROM t GROUP BY source),
        |d AS (SELECT t.source, abs(t.n_tokens - m.med) AS dev
        |      FROM t JOIN m ON t.source IS NOT DISTINCT FROM m.source)
        |SELECT source, quantile_cont(dev, 0.5) AS mad FROM d
        |GROUP BY source""".stripMargin), bench = true),

    // Quantile normalization onto a reference corpus: each ingest doc's
    // token count replaced by the reference value at the same percentile
    // — full-resolution distribution matching via three prefix passes +
    // two pos-keyed joins, no driver-side arrays.
    Q("q_quantile_norm", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      Curation.quantileNormalizeAgainst(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0),
        "n_tokens", "doc_id")
    }, sql(
      """WITH t AS (SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |q AS (SELECT doc_id, CAST(n_tokens AS DOUBLE) AS v FROM t WHERE doc_id % 5 = 0),
        |r AS (SELECT CAST(n_tokens AS DOUBLE) AS rv FROM t WHERE doc_id % 5 <> 0),
        |rp AS (SELECT rv, CAST(row_number() OVER (ORDER BY rv) AS BIGINT) AS pos FROM r),
        |n AS (SELECT count(*) AS n FROM q),
        |m AS (SELECT count(*) AS m FROM r),
        |k AS (SELECT doc_id, v,
        |        CAST(row_number() OVER (ORDER BY v, doc_id) AS BIGINT) AS rnk
        |      FROM q),
        |x AS (SELECT doc_id, v,
        |        CASE WHEN n = 1 THEN 0.0
        |             ELSE CAST(rnk - 1 AS DOUBLE) / (n - 1) END AS p
        |      FROM k, n),
        |y AS (SELECT doc_id, v, (m - 1) * p AS pos2,
        |        CAST(floor((m - 1) * p) AS BIGINT) + 1 AS lo,
        |        CAST(ceil((m - 1) * p) AS BIGINT) + 1 AS hi
        |      FROM x, m)
        |SELECT y.doc_id, y.v AS n_tokens,
        |  CASE WHEN hi = lo OR h.rv = l.rv THEN l.rv
        |       ELSE (hi - 1 - pos2) * l.rv + (pos2 - (lo - 1)) * h.rv
        |  END AS mapped
        |FROM y JOIN rp l ON l.pos = y.lo JOIN rp h ON h.pos = y.hi""".stripMargin), bench = true),

    // ...and per-SOURCE: each source's distribution calibrated onto the
    // shared reference independently — within-group ranks from the global
    // prefix count minus broadcast group offsets (no per-group window).
    Q("q_quantile_norm_group", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      Curation.quantileNormalizeAgainst(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0),
        "n_tokens", "doc_id", groupCols = Seq("source"))
    }, sql(
      """WITH t AS (SELECT doc_id, source,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |q AS (SELECT doc_id, source, CAST(n_tokens AS DOUBLE) AS v
        |      FROM t WHERE doc_id % 5 = 0),
        |r AS (SELECT CAST(n_tokens AS DOUBLE) AS rv FROM t WHERE doc_id % 5 <> 0),
        |rp AS (SELECT rv, CAST(row_number() OVER (ORDER BY rv) AS BIGINT) AS pos FROM r),
        |m AS (SELECT count(*) AS m FROM r),
        |k AS (SELECT doc_id, source, v,
        |        CAST(row_number() OVER (PARTITION BY source
        |          ORDER BY v, doc_id) AS BIGINT) AS rnk
        |      FROM q),
        |ns AS (SELECT source, count(*) AS n FROM q GROUP BY source),
        |x AS (SELECT k.doc_id, k.source, k.v,
        |        CASE WHEN ns.n = 1 THEN 0.0
        |             ELSE CAST(rnk - 1 AS DOUBLE) / (ns.n - 1) END AS p
        |      FROM k JOIN ns ON k.source IS NOT DISTINCT FROM ns.source),
        |y AS (SELECT doc_id, source, v, (m - 1) * p AS pos2,
        |        CAST(floor((m - 1) * p) AS BIGINT) + 1 AS lo,
        |        CAST(ceil((m - 1) * p) AS BIGINT) + 1 AS hi
        |      FROM x, m)
        |SELECT y.source, y.doc_id, y.v AS n_tokens,
        |  CASE WHEN hi = lo OR h.rv = l.rv THEN l.rv
        |       ELSE (hi - 1 - pos2) * l.rv + (pos2 - (lo - 1)) * h.rv
        |  END AS mapped
        |FROM y JOIN rp l ON l.pos = y.lo JOIN rp h ON h.pos = y.hi""".stripMargin), bench = true),

    // Percentile rank vs a reference corpus: the union-prefix searchsorted
    // (one two-phase prefix-sum pass, no quantile table, no NxM join) —
    // ingest docs scored against the kept corpus's length distribution.
    Q("q_pct_rank", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      Curation.percentileRankAgainst(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0),
        "n_tokens", "doc_id")
    }, sql(
      """WITH t AS (SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |q AS (SELECT * FROM t WHERE doc_id % 5 = 0),
        |r AS (SELECT n_tokens FROM t WHERE doc_id % 5 <> 0),
        |n AS (SELECT count(*) AS n_ref FROM r)
        |SELECT q.doc_id, CAST(q.n_tokens AS DOUBLE) AS n_tokens,
        |  (SELECT count(*) FROM r WHERE r.n_tokens <= q.n_tokens) AS n_le,
        |  n_ref
        |FROM q, n""".stripMargin), bench = true),

    // Robust (median/IQR) scaling — the outlier-insensitive sibling:
    // exact quartiles of integral inputs land on binary-exact .0/.25/
    // .5/.75, so the division's doubles hash cross-engine.
    Q("q_robust_scale", (s, dir) =>
      Curation.robustScale(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens")),
        "n_tokens", groupCols = Seq("source"), exact = true), sql(
      """WITH t AS (SELECT doc_id, source,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |s AS (SELECT source, quantile_cont(n_tokens, 0.5) AS med,
        |        quantile_cont(n_tokens, 0.25) AS q1,
        |        quantile_cont(n_tokens, 0.75) AS q3
        |      FROM t GROUP BY source)
        |SELECT t.doc_id, t.source, t.n_tokens,
        |  CASE WHEN t.n_tokens IS NULL THEN NULL
        |       WHEN q3 = q1 THEN 0.0
        |       ELSE (t.n_tokens - med) / (q3 - q1)
        |  END AS scaled
        |FROM t JOIN s ON t.source IS NOT DISTINCT FROM s.source""".stripMargin), bench = true),

    // Ingest-time z-scoring vs a static corpus (drift check on arriving
    // batches): new docs (doc_id % 5 = 0) scored against the rest's
    // per-source stats; corpus aggregates once and never moves —
    // stream-static capable.
    Q("q_standardize_incr", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      Curation.standardizeAgainstCorpus(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0),
        "n_tokens", groupCols = Seq("source"))
    }, sql(
      """WITH t AS (SELECT doc_id, source,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |s AS (SELECT source, count(n_tokens) AS n, sum(n_tokens) AS sm,
        |        sum(n_tokens * n_tokens) AS q
        |      FROM t WHERE doc_id % 5 <> 0 GROUP BY source)
        |SELECT t.doc_id, t.source, t.n_tokens,
        |  CASE WHEN t.n_tokens IS NULL OR n IS NULL THEN NULL
        |       WHEN n * q - sm * sm = 0 THEN 0.0
        |       ELSE CAST(n * t.n_tokens - sm AS DOUBLE)
        |            / sqrt(CAST(n * q - sm * sm AS DOUBLE)) END AS z
        |FROM t LEFT JOIN s ON t.source IS NOT DISTINCT FROM s.source
        |WHERE t.doc_id % 5 = 0""".stripMargin), bench = true),
  )
}
