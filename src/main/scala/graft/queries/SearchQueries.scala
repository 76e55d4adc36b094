package graft
package queries

import graft.functions.TextFunctions
import graft.operators.{Dedup, Multimodal, Similarity}
import org.apache.spark.sql.functions._
import Kit._
import Q._

/** Similarity search and retrieval: quantizers, IVF / PQ / SQ8 tiers,
  * bitext mining, BM25 and hybrid ranking, contrastive mining, PCA. */
private[graft] object SearchQueries {

  /** The q_sim_ivf oracle can only exist AFTER the engine trained its coarse
    * quantizer — the centroids are seed-pinned but data-dependent. Verify
    * runs every query before dumping oracle_sql.json, so by dump time
    * [[Similarity.lastIvfRun]] holds the exact centroids q_sim_ivf used;
    * the SQL re-derives cell assignment (argmin of the same left-fold
    * Σ(v−c)², ties to the lower cell — [[graft.functions.NearestCells]]),
    * the nprobe probe cells, and the exact-cosine top-k. Absent a run, the
    * entry is omitted and the driver falls back to its rows-only check. */
  private def ivfOracle: Option[String] =
    Similarity.lastIvfRun.map { run =>
      val cellDists = run.centroids.zipWithIndex.map { case (ctr, i) =>
      s"""  SELECT vec_id, $i AS cell, list_sum(list_transform(list_zip(e, ${sqlDoubles(ctr)}),
         |    z -> (z[1] - z[2]) * (z[1] - z[2]))) AS d FROM v""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |cd AS (
         |$cellDists),
         |rnk AS (SELECT vec_id, cell,
         |          row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn FROM cd),
         |asg AS (SELECT vec_id, cell FROM rnk WHERE rn = 1),
         |pr AS (SELECT vec_id, cell FROM rnk WHERE rn <= ${run.nprobe} AND vec_id < 10),
         |sc AS (
         |  SELECT p.vec_id AS q_id, a.vec_id AS n_id, ${sqlCos("q", "c")} AS cos
         |  FROM pr p JOIN asg a ON p.cell = a.cell AND p.vec_id != a.vec_id
         |  JOIN v q ON q.vec_id = p.vec_id
         |  JOIN v c ON c.vec_id = a.vec_id)
         |SELECT q_id, n_id, rank, cos FROM (
         |  SELECT q_id, n_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rank
         |  FROM sc)
         |WHERE rank <= ${run.k}""".stripMargin
    }

  /** The q_bitext_recall_seeds seed pool: the default plane seed plus two
    * independent ones (golden-ratio and xorshift constants — any distinct
    * longs work; these match tools/BitextProbe's lift table). */
  private val bitextSeedPool = Seq(0x5DEECE66DL, 0x9E3779B9L, 0x2545F491L)

  /** The LSH candidate condition: a pair is a candidate iff ANY seed's
    * plane set leaves its two signatures within hamming 1 (the engine
    * unions the per-seed candidate sets and distincts — same relation). */
  private def bitextLshCond(nPlanes: Int, seeds: Seq[Long]): String = {
    val conds = seeds.map { seed =>
      val planes = graft.functions.VectorFunctions.makePlanes(nPlanes, 64, seed)
      s"bit_count(xor(${sqlLshBucket(planes, "x.e")}, " +
        s"${sqlLshBucket(planes, "y.e")})) <= 1"
    }
    s"AND (${conds.mkString(" OR ")})"
  }

  /** q_bitext_* references: the ratio-margin winners-per-x relation —
    * quantized cosines over the candidate pair set (brute cross join, or
    * bucket-hamming ≤ 1 when `lshCand = Some(nPlanes)` — the engine's
    * one-sided multi-probe as a bit_count condition), per-side top-k
    * integer neighborhood sums, the fixed-order margin, winners both
    * sides, mutual flag. */
  private def bitextWinnersSql(
      candCond: String = "",
      extraCtes: String = ""): String = {
    val pre = if (extraCtes.isEmpty) "" else extraCtes + ",\n"
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |${pre}sc AS (
       |  SELECT x.vec_id AS x_id, y.vec_id AS y_id,
       |    CAST(round((list_sum(list_transform(list_zip(x.e, y.e), z -> z[1] * z[2])) /
       |      (sqrt(list_sum(list_transform(x.e, t -> t * t))) *
       |       sqrt(list_sum(list_transform(y.e, t -> t * t)))))
       |      * 1000000000000.0) AS BIGINT) AS cos_q
       |  FROM v x JOIN v y ON x.vec_id % 2 = 0 AND y.vec_id % 2 = 1 $candCond),
       |candx AS (SELECT x_id, y_id, cos_q FROM (
       |  SELECT *, row_number() OVER (PARTITION BY x_id ORDER BY cos_q DESC, y_id) AS rn
       |  FROM sc) WHERE rn <= 4),
       |candy AS (SELECT x_id, y_id, cos_q FROM (
       |  SELECT *, row_number() OVER (PARTITION BY y_id ORDER BY cos_q DESC, x_id) AS rn
       |  FROM sc) WHERE rn <= 4),
       |sx AS (SELECT x_id, CAST(sum(cos_q) AS BIGINT) AS sx_q,
       |         CAST(count(*) AS BIGINT) AS nx FROM candx GROUP BY 1),
       |sy AS (SELECT y_id, CAST(sum(cos_q) AS BIGINT) AS sy_q,
       |         CAST(count(*) AS BIGINT) AS ny FROM candy GROUP BY 1),
       |mx AS (SELECT c.x_id, c.y_id, c.cos_q,
       |    CASE WHEN CAST(sx_q AS DOUBLE) / (2.0 * nx)
       |            + CAST(sy_q AS DOUBLE) / (2.0 * ny) > 0
       |         THEN CAST(round(CAST(c.cos_q AS DOUBLE) /
       |              (CAST(sx_q AS DOUBLE) / (2.0 * nx)
       |               + CAST(sy_q AS DOUBLE) / (2.0 * ny)) * 1000000.0) AS BIGINT)
       |    END AS margin_fp
       |  FROM candx c JOIN sx USING (x_id) JOIN sy USING (y_id)),
       |my AS (SELECT c.x_id, c.y_id,
       |    CASE WHEN CAST(sx_q AS DOUBLE) / (2.0 * nx)
       |            + CAST(sy_q AS DOUBLE) / (2.0 * ny) > 0
       |         THEN CAST(round(CAST(c.cos_q AS DOUBLE) /
       |              (CAST(sx_q AS DOUBLE) / (2.0 * nx)
       |               + CAST(sy_q AS DOUBLE) / (2.0 * ny)) * 1000000.0) AS BIGINT)
       |    END AS margin_fp
       |  FROM candy c JOIN sx USING (x_id) JOIN sy USING (y_id)),
       |bx AS (SELECT x_id, y_id, cos_q, margin_fp FROM (
       |  SELECT *, row_number() OVER (PARTITION BY x_id
       |    ORDER BY margin_fp DESC NULLS LAST, y_id) AS rm FROM mx) WHERE rm = 1),
       |byy AS (SELECT y_id, x_id AS bx_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY y_id
       |    ORDER BY margin_fp DESC NULLS LAST, x_id) AS rm FROM my) WHERE rm = 1)
       |SELECT b.x_id, b.y_id, b.cos_q, b.margin_fp,
       |  coalesce(byy.bx_id = b.x_id, FALSE) AS mutual
       |FROM bx b LEFT JOIN byy ON byy.y_id = b.y_id""".stripMargin
  }

  /** CTE block shared by the SQ8 agreement readouts (q_rbo_sq8,
    * q_rankeval_sq8): the SQ8-coded ranking `sq` and the exact-L2
    * ranking `ex`, both top-10 per query over the vec_id < 10 query
    * set. */
  private val sq8VsExactCtes =
    """v AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      |ps AS (SELECT unnest(range(0, 64)) AS pos),
      |cen AS (SELECT pos, min(e[pos + 1]) AS lo, max(e[pos + 1]) AS hi
      |        FROM v CROSS JOIN ps GROUP BY 1),
      |r AS (SELECT list(lo ORDER BY pos) AS los, list(hi ORDER BY pos) AS his
      |      FROM cen),
      |codes AS (SELECT vec_id, list_transform(range(1, 65), i ->
      |    CASE WHEN his[i] > los[i]
      |      THEN CAST(floor((e[i] - los[i]) / (his[i] - los[i]) * 255.0 + 0.5) AS BIGINT)
      |      ELSE 0 END) AS cds
      |  FROM v, r),
      |sq AS (SELECT q_id, n_id, rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sq_d2, n_id) AS rank
      |  FROM (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |      list_sum(list_transform(range(1, 65), i ->
      |        (q.e[i] - (los[i] + CAST(c.cds[i] AS DOUBLE) * (his[i] - los[i]) / 255.0)) *
      |        (q.e[i] - (los[i] + CAST(c.cds[i] AS DOUBLE) * (his[i] - los[i]) / 255.0)))) AS sq_d2
      |    FROM v q, codes c, r
      |    WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)) WHERE rank <= 10),
      |ex AS (SELECT q_id, n_id, rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY d2, n_id) AS rank
      |  FROM (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |      list_sum(list_transform(list_zip(q.e, c.e),
      |        z -> (z[1] - z[2]) * (z[1] - z[2]))) AS d2
      |    FROM v q, v c
      |    WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)) WHERE rank <= 10)""".stripMargin

  /** The candidate condition shared by the PQ oracles: a pair survives
    * to the exact cosine iff some seed's ADC cand-cut kept it. */
  private val bitextPqCandCond =
    """AND EXISTS (SELECT 1 FROM adctop a
      |    WHERE a.x_id = x.vec_id AND a.y_id = y.vec_id)""".stripMargin

  /** The q_bitext_pq / q_bitext_pq_seeds ADC-shortlist CTE block: shared
    * cell-probe CTEs, then one codebook → codes → ADC → cand-cut chain
    * per entry of `seeds` (None = the first-kCodes-by-id codebook;
    * Some(s) = the md5(id || ':pqcb:' || s)-ordered sample — the engine's
    * pqCodebook seedTag, md5-hex ordering being engine-portable), and
    * `adctop` = the UNION of the per-seed cuts (SQL UNION distincts,
    * matching the engine's `.distinct()`). */
  private def bitextPqCtes(
      m: Int, kCodes: Int, nprobe: Int, cand: Int,
      seeds: Seq[Option[Long]]): String = {
    val subDim = 64 / m
    val caseSum = (0 until m)
      .map(j => s"max(CASE WHEN q.j = $j THEN q.d2 END)")
      .mkString("\n      + ")
    val shared = s"""cents AS (
      |  SELECT e AS ce, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell
      |  FROM (SELECT * FROM v WHERE vec_id % 2 = 1 ORDER BY vec_id LIMIT 16)),
      |cdst AS (SELECT v.vec_id, c.cell,
      |         list_sum(list_transform(list_zip(v.e, c.ce),
      |           z -> (z[1] - z[2]) * (z[1] - z[2]))) AS d
      |       FROM v, cents c),
      |crnk AS (SELECT vec_id, cell,
      |          row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
      |        FROM cdst),
      |ycell AS (SELECT vec_id, cell FROM crnk WHERE rn = 1 AND vec_id % 2 = 1),
      |xprob AS (SELECT vec_id, cell FROM crnk WHERE rn <= $nprobe AND vec_id % 2 = 0),
      |js AS (SELECT unnest(range(0, $m)) AS j),
      |ysub AS (SELECT v.vec_id, js.j, v.e[js.j*$subDim+1 : js.j*$subDim+$subDim] AS se
      |         FROM v CROSS JOIN js WHERE v.vec_id % 2 = 1),
      |xsub AS (SELECT v.vec_id, js.j, v.e[js.j*$subDim+1 : js.j*$subDim+$subDim] AS se
      |         FROM v CROSS JOIN js WHERE v.vec_id % 2 = 0)""".stripMargin
    val perSeed = seeds.zipWithIndex.map { case (sd, i) =>
      val order = sd match {
        case Some(s) => s"md5(CAST(vec_id AS VARCHAR) || ':pqcb:$s'), vec_id"
        case None => "vec_id"
      }
      s"""cb$i AS (SELECT vec_id AS cid, e AS ce FROM v
         |       WHERE vec_id % 2 = 1 ORDER BY $order LIMIT $kCodes),
         |cs$i AS (SELECT cid, js.j, ce[js.j*$subDim+1 : js.j*$subDim+$subDim] AS ce
         |       FROM cb$i CROSS JOIN js),
         |yd$i AS (SELECT s.vec_id, s.j, c.cid,
         |         list_sum(list_transform(list_zip(s.se, c.ce),
         |           z -> (z[1] - z[2]) * (z[1] - z[2]))) AS d2
         |       FROM ysub s JOIN cs$i c ON s.j = c.j),
         |ycodes$i AS (SELECT vec_id, j, cid FROM (
         |    SELECT vec_id, j, cid,
         |      row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, cid) AS rn
         |    FROM yd$i) WHERE rn = 1),
         |xd$i AS (SELECT s.vec_id, s.j, c.cid,
         |         list_sum(list_transform(list_zip(s.se, c.ce),
         |           z -> (z[1] - z[2]) * (z[1] - z[2]))) AS d2
         |       FROM xsub s JOIN cs$i c ON s.j = c.j),
         |adc$i AS (
         |  SELECT p.vec_id AS x_id, yc2.vec_id AS y_id,
         |    $caseSum AS adc_d2
         |  FROM xprob p JOIN ycell yc2 ON p.cell = yc2.cell
         |  JOIN ycodes$i c ON c.vec_id = yc2.vec_id
         |  JOIN xd$i q ON q.vec_id = p.vec_id AND q.j = c.j AND q.cid = c.cid
         |  GROUP BY 1, 2),
         |adctop$i AS (SELECT x_id, y_id FROM (
         |  SELECT x_id, y_id,
         |    row_number() OVER (PARTITION BY x_id ORDER BY adc_d2, y_id) AS rn
         |  FROM adc$i) WHERE rn <= $cand)""".stripMargin
    }
    val union = seeds.indices
      .map(i => s"SELECT x_id, y_id FROM adctop$i")
      .mkString("\n  UNION\n  ")
    shared + ",\n" + perSeed.mkString(",\n") +
      s",\nadctop AS (\n  $union)"
  }

  /** q_kcenter reference: Gonzalez farthest-first UNROLLED to k rounds
    * over the full pairwise distance table (the mmr oracle's discipline) —
    * round r takes the (min-dist-to-selected DESC, id) winner among the
    * unselected; distances are the same left-fold Σ(v−c)² the IVF gates
    * already pin bit-identical across engines. */
  private def kcenterOracleSql(k: Int): String = {
    val rounds = (2 to k).map { r =>
      s"""sel$r AS (SELECT i AS vec_id, $r AS rank, md AS d2 FROM (
         |  SELECT c.i, c.md, row_number() OVER (ORDER BY c.md DESC, c.i) AS rn FROM (
         |    SELECT d.i, min(d.d2) AS md
         |    FROM d JOIN selu${r - 1} s ON d.j = s.vec_id
         |    WHERE NOT EXISTS (SELECT 1 FROM selu${r - 1} x WHERE x.vec_id = d.i)
         |    GROUP BY d.i) c) WHERE rn = 1),
         |selu$r AS (SELECT * FROM selu${r - 1} UNION ALL SELECT * FROM sel$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |d AS (SELECT a.vec_id AS i, b.vec_id AS j,
       |        list_sum(list_transform(list_zip(a.e, b.e), z -> (z[1]-z[2])*(z[1]-z[2]))) AS d2
       |      FROM v a JOIN v b ON a.vec_id <> b.vec_id),
       |sel1 AS (SELECT CAST(min(vec_id) AS BIGINT) AS vec_id, 1 AS rank,
       |           CAST(NULL AS DOUBLE) AS d2 FROM v),
       |selu1 AS (SELECT * FROM sel1),
       |$rounds
       |SELECT vec_id, CAST(rank AS INT) AS rank, d2 FROM selu$k""".stripMargin
  }

  /** q_rand_project reference: the engine's seeded ±1 sign matrix embedded
    * as VALUES literals (the makePlanes constants-in-both-engines
    * discipline); the projection itself is exact integer arithmetic on the
    * shared round(x·1000) quantization, so no rounding band is needed. */
  private def randProjectOracleSql(outDims: Int, dim: Int, seed: Long): String = {
    val signs = graft.functions.VectorFunctions.makeSigns(outDims, dim, seed)
    val values = signs.zipWithIndex
      .map { case (row, j) => s"($j, [${row.mkString(",")}])" }
      .mkString(",\n       ")
    s"""WITH s(dim, sg) AS (VALUES $values),
       |q AS (SELECT vec_id, list_transform(embedding,
       |        x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qe
       |      FROM embeddings)
       |SELECT q.vec_id, CAST(s.dim AS INT) AS dim,
       |  CAST(list_sum(list_transform(list_zip(q.qe, s.sg), z -> z[1] * z[2])) AS BIGINT) AS y
       |FROM q, s""".stripMargin
  }

  /** q_mmr_rerank reference: the greedy selection UNROLLED to k rounds.
    * Round 1 is pure λ·relevance; round r scores every unselected
    * candidate as λ·cos − (1−λ)·max(sim to the r−1 already selected) and
    * takes the (score DESC, n_id) winner — exactly the engine's min_by
    * over (−score, id). λ and its IEEE complement are embedded as forced-
    * DOUBLE literals so both engines subtract identical constants. */
  private def mmrOracleSql(k: Int, lambda: Double, nCand: Int, nQ: Int): String = {
    def d(x: Double): String = {
      val s = x.toString
      if (s.contains('E') || s.contains('e')) s else s + "e0"
    }
    val L = d(lambda)
    val MU = d(1.0 - lambda)
    val rounds = (2 to k).map { r =>
      val prev = s"selu${r - 1}"
      s"""sel$r AS (SELECT q_id, n_id, $r AS rank, mmr FROM (
         |  SELECT c.q_id, c.n_id,
         |    $L * c.cos - $MU * coalesce(pen.m, 0.0e0) AS mmr,
         |    row_number() OVER (PARTITION BY c.q_id
         |      ORDER BY ($L * c.cos - $MU * coalesce(pen.m, 0.0e0)) DESC, c.n_id) AS rn
         |  FROM cand c
         |  LEFT JOIN (SELECT p.q_id, p.a_id, max(p.s) AS m
         |             FROM p JOIN $prev s ON s.q_id = p.q_id AND s.n_id = p.b_id
         |             GROUP BY 1, 2) pen
         |    ON pen.q_id = c.q_id AND pen.a_id = c.n_id
         |  WHERE NOT EXISTS (SELECT 1 FROM $prev s2
         |                    WHERE s2.q_id = c.q_id AND s2.n_id = c.n_id))
         |  WHERE rn = 1),
         |selu$r AS (SELECT * FROM selu${r - 1} UNION ALL SELECT * FROM sel$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |cand AS (SELECT q_id, n_id, cos FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS n_id, ${sqlCos("q", "c")} AS cos,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${sqlCos("q", "c")} DESC, c.vec_id) AS rank
       |    FROM v q JOIN v c ON q.vec_id != c.vec_id
       |    WHERE q.vec_id < $nQ) WHERE rank <= $nCand),
       |p AS (SELECT a.q_id, a.n_id AS a_id, b.n_id AS b_id,
       |        ${sqlCos("va", "vb")} AS s
       |      FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.n_id <> b.n_id
       |      JOIN v va ON va.vec_id = a.n_id
       |      JOIN v vb ON vb.vec_id = b.n_id),
       |sel1 AS (SELECT q_id, n_id, 1 AS rank, $L * cos AS mmr FROM (
       |    SELECT q_id, n_id, cos,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY ($L * cos) DESC, n_id) AS rn
       |    FROM cand) WHERE rn = 1),
       |selu1 AS (SELECT * FROM sel1),
       |$rounds
       |SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank, mmr FROM selu$k""".stripMargin
  }

  /** Refined centroids captured by q_ann_recall_refined (k rows of
    * metadata) — the oracle embeds them verbatim, like [[ivfOracle]]. */
  @volatile private var refinedCents: Option[Array[(Long, Array[Double])]] = None

  /** q_ann_recall_refined's oracle: the q_sim_pq ADC recipe twice — once
    * against the first-k-by-id seeded codebook, once against the captured
    * kmeans-refined codebook (a VALUES literal) — each recalled against
    * the brute-force exact top-5, joined per query. Absent a run, omitted
    * (driver falls back to rows-only). */
  private def refinedRecallOracle: Option[String] =
    refinedCents.map { cents =>
      val cbValues = cents
        .map { case (cid, ce) => s"($cid, ${sqlDoubles(ce)})" }
        .mkString(",\n    ")
      def adc(cb: String, tag: String): String =
      s"""cs_$tag AS (SELECT cid, js.j, ce[js.j*16+1 : js.j*16+16] AS ce
         |  FROM $cb CROSS JOIN js),
         |d_$tag AS (SELECT s.vec_id, s.j, c.cid,
         |    list_sum(list_transform(list_zip(s.se, c.ce),
         |      z -> (z[1] - z[2]) * (z[1] - z[2]))) AS d2
         |  FROM sub s JOIN cs_$tag c ON s.j = c.j),
         |codes_$tag AS (SELECT vec_id, j, cid FROM (
         |    SELECT vec_id, j, cid,
         |      row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, cid) AS rn
         |    FROM d_$tag) WHERE rn = 1),
         |appx_$tag AS (SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY adc_d2, n_id) AS rank
         |    FROM (
         |      SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |        max(CASE WHEN c.j = 0 THEN q.d2 END)
         |          + max(CASE WHEN c.j = 1 THEN q.d2 END)
         |          + max(CASE WHEN c.j = 2 THEN q.d2 END)
         |          + max(CASE WHEN c.j = 3 THEN q.d2 END) AS adc_d2
         |      FROM codes_$tag c
         |      JOIN d_$tag q ON q.j = c.j AND q.cid = c.cid
         |        AND q.vec_id < 50 AND q.vec_id <> c.vec_id
         |      GROUP BY 1, 2)) WHERE rank <= 5)""".stripMargin
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |js AS (SELECT unnest(range(0, 4)) AS j),
         |sub AS (SELECT v.vec_id, js.j, v.e[js.j*16+1 : js.j*16+16] AS se
         |        FROM v CROSS JOIN js),
         |ex AS (SELECT q_id, n_id FROM (
         |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${sqlCos("q", "c")} DESC, c.vec_id) AS rank
         |    FROM v q JOIN v c ON q.vec_id != c.vec_id
         |    WHERE q.vec_id < 50) WHERE rank <= 5),
         |cb_s AS (SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT 16),
         |cb_r AS (SELECT * FROM (VALUES
         |    $cbValues) AS t(cid, ce)),
         |${adc("cb_s", "s")},
         |${adc("cb_r", "r")},
         |jr AS (SELECT e.q_id, CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         |       FROM ex e LEFT JOIN appx_r a ON a.q_id = e.q_id AND a.n_id = e.n_id),
         |rr AS (SELECT q_id, CAST(sum(hit) AS BIGINT) AS hits_refined,
         |         CAST(count(*) AS BIGINT) AS n_exact,
         |         CAST(sum(hit) AS DOUBLE) / count(*) AS recall_refined
         |       FROM jr GROUP BY q_id),
         |jv AS (SELECT e.q_id, CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         |       FROM ex e LEFT JOIN appx_s a ON a.q_id = e.q_id AND a.n_id = e.n_id),
         |rs AS (SELECT q_id, CAST(sum(hit) AS BIGINT) AS hits_seeded,
         |         CAST(sum(hit) AS DOUBLE) / count(*) AS recall_seeded
         |       FROM jv GROUP BY q_id)
         |SELECT rr.q_id, hits_refined, n_exact, recall_refined,
         |       hits_seeded, recall_seeded
         |FROM rr JOIN rs ON rr.q_id = rs.q_id""".stripMargin
    }

  /** Trained IVF centroids captured by q_bitext_ivf_trained (nlist rows of
    * metadata) — the oracle embeds them verbatim, like [[ivfOracle]]. */
  @volatile private var bitextTrainedCents: Option[Array[Array[Double]]] = None

  /** q_bitext_ivf_trained's oracle: the q_bitext_ivf cell-assignment replay
    * with the captured trained centroids as distance literals, joined per-x
    * against the brute winners. Absent a run, omitted (rows-only). */
  private def bitextTrainedOracle: Option[String] =
    bitextTrainedCents.map { cents =>
      val cellDists = cents.zipWithIndex.map { case (ctr, i) =>
      s"""  SELECT vec_id, $i AS cell, list_sum(list_transform(list_zip(e, ${sqlDoubles(ctr)}),
         |    z -> (z[1] - z[2]) * (z[1] - z[2]))) AS d FROM v""".stripMargin
      }.mkString("\nUNION ALL\n")
      val probes = math.min(4, cents.length)
      val extra =
      s"""cd AS (
         |$cellDists),
         |rnk AS (SELECT vec_id, cell,
         |          row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
         |        FROM cd),
         |ycell AS (SELECT vec_id, cell FROM rnk WHERE rn = 1 AND vec_id % 2 = 1),
         |xprob AS (SELECT vec_id, cell FROM rnk WHERE rn <= $probes AND vec_id % 2 = 0)""".stripMargin
      val cand =
      """AND EXISTS (SELECT 1 FROM xprob p JOIN ycell yc
        |    ON p.cell = yc.cell
        |    WHERE p.vec_id = x.vec_id AND yc.vec_id = y.vec_id)""".stripMargin
      s"""WITH brute AS (${bitextWinnersSql()}),
         |ivf AS (${bitextWinnersSql(cand, extra)})
         |SELECT b.x_id, b.y_id AS y_brute, i.y_id AS y_ivf,
         |  b.y_id = i.y_id AS agree
         |FROM brute b JOIN ivf i USING (x_id)""".stripMargin
    }

  /** q_pca_project's oracle: the per-component left-fold dot with the
    * CAPTURED top-k components as literals ([[ivfOracle]]
    * discipline — the fit is deterministic but data-dependent). */
  private def pcaOracle: Option[String] =
    Similarity.lastPcaRun.map { run =>
      val pcs = run.components.zipWithIndex.map { case (c, i) =>
        s"list_sum(list_transform(list_zip(e, ${sqlDoubles(c)}), " +
          s"z -> z[1] * z[2])) AS pc${i + 1}"
      }.mkString(",\n  ")
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings)
         |SELECT vec_id,
         |  $pcs
         |FROM v""".stripMargin
    }

  val all: Seq[Q] = Seq(
    // Deterministic nearest-centroid bucketing (the SemDeDup partitioner):
    // 8 seed centroids broadcast, assignment is a scan-local fold — zero
    // corpus shuffle.
    Q("q_cluster_assign", (s, dir) =>
      Similarity.assignToCentroids(t(s, dir, "embeddings"), k = 8), sql(
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |c AS (SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT 8),
        |a AS (SELECT v.vec_id, c.cid,
        |    list_sum(list_transform(list_zip(v.e, c.ce), z -> z[1] * z[2])) /
        |      (sqrt(list_sum(list_transform(v.e, x -> x * x))) *
        |       sqrt(list_sum(list_transform(c.ce, x -> x * x)))) AS cos
        |  FROM v, c)
        |SELECT vec_id, cid AS cluster FROM (
        |  SELECT vec_id, cid,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
        |  FROM a)
        |WHERE rn = 1""".stripMargin), bench = true),

    // k-means M-step: per-(cluster, dim) fixed-point component sums over
    // the nearest-centroid assignment — exact integers, so the vector
    // accumulation is partition-order-independent and engine-portable
    // (a float sum would differ run to run). Mean = sum_fp / (n*1e7).
    Q("q_kmeans_step", (s, dir) =>
      Similarity.centroidUpdate(t(s, dir, "embeddings"), k = 8), sql(
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |c AS (SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT 8),
        |a AS (SELECT v.vec_id, c.cid,
        |    list_sum(list_transform(list_zip(v.e, c.ce), z -> z[1] * z[2])) /
        |      (sqrt(list_sum(list_transform(v.e, x -> x * x))) *
        |       sqrt(list_sum(list_transform(c.ce, x -> x * x)))) AS cos
        |  FROM v, c),
        |asg AS (SELECT vec_id, cid AS cluster FROM (
        |  SELECT vec_id, cid,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
        |  FROM a) WHERE rn = 1),
        |av AS (SELECT asg.cluster, v.e FROM asg JOIN v USING (vec_id))
        |SELECT cluster, CAST(i - 1 AS BIGINT) AS dim, count(*) AS n,
        |  CAST(sum(CAST(round(e[i] * 10000000.0) AS BIGINT)) AS BIGINT) AS sum_fp
        |FROM av, UNNEST(range(1, len(e) + 1)) AS t(i)
        |GROUP BY 1, 2""".stripMargin), bench = true),

    // Int8 embedding quantization (storage prep for 100 TB vector tables):
    // scan-local, zero shuffles; the quantized array is emitted as a CSV
    // string so the cross-engine hash compares a scalar, not nested arrays.
    Q("q_quantize", (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          graft.functions.VectorFunctions.quantizeInt8(col("embedding")).as("sq"))
        .select(col("vec_id"), col("sq.scale").as("scale"),
          concat_ws(",", transform(col("sq.q"), _.cast("string"))).as("q")), sql(
      """WITH v AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |s AS (SELECT vec_id, e,
        |  list_aggregate(list_transform(e, x -> abs(x)), 'max') AS scale FROM v)
        |SELECT vec_id, scale,
        |  CASE WHEN scale = 0 THEN array_to_string(list_transform(e, x -> 0), ',')
        |       ELSE array_to_string(list_transform(e,
        |              x -> CAST(floor(x / scale * 127 + 0.5) AS INTEGER)), ',')
        |  END AS q
        |FROM s""".stripMargin), bench = true),

    // Product-quantization encode: 64-dim vectors → 4 codes against
    // first-16-by-id sub-codebooks (one broadcast row), L2 argmin with
    // smallest-id tiebreak — scan-local, zero corpus shuffle; the
    // compression layout a billion-vector ANN table stores.
    // pq_encode: m=4 16-dim subspaces, codebook = first-16-by-id slices,
    // L2 argmin (sequential left-fold sum == Spark aggregate HOF) with
    // smallest-cid tiebreak via the (d2, cid) row_number order
    Q("q_pq_encode", (s, dir) =>
      Similarity.pqEncode(t(s, dir, "embeddings"), m = 4, k = 16, dim = 64), sql(
      """WITH v AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |cb AS (SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT 16),
        |js AS (SELECT unnest(range(0, 4)) AS j),
        |sub AS (SELECT v.vec_id, js.j, v.e[js.j*16+1 : js.j*16+16] AS se
        |        FROM v CROSS JOIN js),
        |cs AS (SELECT cb.cid, js.j, cb.ce[js.j*16+1 : js.j*16+16] AS ce
        |       FROM cb CROSS JOIN js),
        |d AS (SELECT s.vec_id, s.j, c.cid,
        |        list_sum(list_transform(list_zip(s.se, c.ce),
        |          z -> (z[1] - z[2]) * (z[1] - z[2]))) AS d2
        |      FROM sub s JOIN cs c ON s.j = c.j),
        |a AS (SELECT vec_id, j, cid,
        |        row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, cid) AS rn
        |      FROM d)
        |SELECT vec_id,
        |  max(CASE WHEN j = 0 THEN cid END) AS code_0,
        |  max(CASE WHEN j = 1 THEN cid END) AS code_1,
        |  max(CASE WHEN j = 2 THEN cid END) AS code_2,
        |  max(CASE WHEN j = 3 THEN cid END) AS code_3
        |FROM a WHERE rn = 1 GROUP BY vec_id""".stripMargin)),

    // SQ8 scalar-quantized search: per-dim 8-bit codes against the
    // corpus-wide [min,max] census (d-row shuffle after partial agg),
    // asymmetric float-query-vs-code distances through the fixed
    // reconstruction — the 1/4-width storage tier between raw and PQ.
    // SQ8: per-dim min/max census -> codes -> asymmetric reconstruction
    // distance, every float op in the engine's exact order (list_sum =
    // the sequential left fold Spark's aggregate HOF computes)
    Q("q_sim_sq8", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.sq8Search(emb.filter(col("vec_id") < 10), emb, topK = 5)
    }, sql(
      """WITH v AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |ps AS (SELECT unnest(range(0, 64)) AS pos),
        |cen AS (SELECT pos, min(e[pos + 1]) AS lo, max(e[pos + 1]) AS hi
        |        FROM v CROSS JOIN ps GROUP BY 1),
        |r AS (SELECT list(lo ORDER BY pos) AS los, list(hi ORDER BY pos) AS his
        |      FROM cen),
        |codes AS (SELECT vec_id, list_transform(range(1, 65), i ->
        |    CASE WHEN his[i] > los[i]
        |      THEN CAST(floor((e[i] - los[i]) / (his[i] - los[i]) * 255.0 + 0.5) AS BIGINT)
        |      ELSE 0 END) AS cds
        |  FROM v, r),
        |score AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    list_sum(list_transform(range(1, 65), i ->
        |      (q.e[i] - (los[i] + CAST(c.cds[i] AS DOUBLE) * (his[i] - los[i]) / 255.0)) *
        |      (q.e[i] - (los[i] + CAST(c.cds[i] AS DOUBLE) * (his[i] - los[i]) / 255.0)))) AS sq_d2
        |  FROM v q, codes c, r
        |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
        |SELECT q_id, n_id, rank, sq_d2 FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sq_d2, n_id) AS rank
        |  FROM score) WHERE rank <= 5""".stripMargin), bench = true),

    // IVF-SQ8 composed search: cell-pruned SQ8 — probes' cells only,
    // reconstruction distances over 8-bit codes; the sub-linear rung of
    // the SQ8 ladder (FAISS IVFx,SQ8).
    // IVF-SQ8: the ivfpq oracle's cell/probe CTEs composed with the sq8
    // oracle's code/reconstruction CTEs — cell-keyed score join only
    Q("q_sim_ivfsq8", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfSq8Search(emb.filter(col("vec_id") < 10), emb,
        topK = 5)
    }, sql(
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |cent AS (SELECT vec_id AS ccid, e FROM v ORDER BY vec_id LIMIT 16),
         |ca AS (SELECT v.vec_id, cent.ccid, ${sqlCos("v", "cent")} AS cos
         |       FROM v, cent),
         |cr AS (SELECT vec_id, ccid,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, ccid) AS rn
         |       FROM ca),
         |cells AS (SELECT vec_id, ccid AS cell FROM cr WHERE rn = 1),
         |probes AS (SELECT vec_id AS q_id, ccid AS cell FROM cr
         |           WHERE rn <= 4 AND vec_id < 10),
         |ps AS (SELECT unnest(range(0, 64)) AS pos),
         |cen AS (SELECT pos, min(e[pos + 1]) AS lo, max(e[pos + 1]) AS hi
         |        FROM v CROSS JOIN ps GROUP BY 1),
         |rr AS (SELECT list(lo ORDER BY pos) AS los, list(hi ORDER BY pos) AS his
         |       FROM cen),
         |codes AS (SELECT vec_id, list_transform(range(1, 65), i ->
         |    CASE WHEN his[i] > los[i]
         |      THEN CAST(floor((e[i] - los[i]) / (his[i] - los[i]) * 255.0 + 0.5) AS BIGINT)
         |      ELSE 0 END) AS cds
         |  FROM v, rr),
         |score AS (SELECT p.q_id, n.vec_id AS n_id,
         |    list_sum(list_transform(range(1, 65), i ->
         |      (q.e[i] - (los[i] + CAST(c.cds[i] AS DOUBLE) * (his[i] - los[i]) / 255.0)) *
         |      (q.e[i] - (los[i] + CAST(c.cds[i] AS DOUBLE) * (his[i] - los[i]) / 255.0)))) AS sq_d2
         |  FROM probes p
         |  JOIN cells n ON n.cell = p.cell AND n.vec_id != p.q_id
         |  JOIN codes c ON c.vec_id = n.vec_id
         |  JOIN v q ON q.vec_id = p.q_id
         |  CROSS JOIN rr)
         |SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank, sq_d2 FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sq_d2, n_id) AS rank
         |  FROM score) WHERE rank <= 5""".stripMargin), bench = true),

    // Rank-biased overlap between the exact L2 top-10 and the SQ8
    // top-10 per query (p = 1/2: every term o_d/(d*2^d) has an exact
    // small-integer denominator) — the top-weighted agreement readout
    // that judges the compression tier beyond set-recall.
    // RBO: both rankings replayed (exact L2 brute + the SQ8 chain), pair
    // join on (q, n), per-depth prefix intersections, the d=1..10 term
    // fold with exact d*2^d denominators
    Q("q_rbo_sq8", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      Similarity.rankBiasedOverlap(
        Similarity.l2TopK(q, emb, topK = 10),
        Similarity.sq8Search(q, emb, topK = 10))
    }, sql(
      s"""WITH $sq8VsExactCtes,
        |j AS (SELECT ex.q_id, greatest(ex.rank, sq.rank) AS mr
        |      FROM ex JOIN sq ON ex.q_id = sq.q_id AND ex.n_id = sq.n_id),
        |g AS (SELECT q_id, list_sort(list(mr)) AS mrs,
        |        CAST(count(*) AS BIGINT) AS n_common FROM j GROUP BY 1),
        |qs AS (SELECT DISTINCT q_id FROM
        |  (SELECT q_id FROM ex UNION ALL SELECT q_id FROM sq))
        |SELECT qs.q_id, COALESCE(n_common, 0) AS n_common,
        |  CASE WHEN mrs IS NOT NULL THEN
        |    list_sum(list_transform(range(1, 11), d ->
        |      CAST(len(list_filter(mrs, mr -> mr <= d)) AS DOUBLE) /
        |      CAST(d * (1 << d) AS DOUBLE)))
        |  ELSE 0.0 END AS rbo
        |FROM qs LEFT JOIN g USING (q_id)""".stripMargin), bench = true),

    // nDCG@10 + MRR of the SQ8 tier against exact-L2 ground truth — the
    // IR-standard eval twin of the RBO readout (binary relevance = the
    // exact top-10 set; position gains are shared quantized constants,
    // so DCG/IDCG are order-free integer sums).
    // binary-relevance nDCG@10 + MRR of the SQ8 ranking vs the exact-L2
    // top-10 ground truth; position gains are the engine's own quantized
    // constants (generated from the same Scala formula)
    Q("q_rankeval_sq8", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      Similarity.rankEval(
        Similarity.l2TopK(q, emb, topK = 10),
        Similarity.sq8Search(q, emb, topK = 10))
    }, sql({
      val gains = (1 to 10)
        .map(i => math.round(1e6 / (math.log(i + 1.0) / math.log(2.0))))
      val idcg = gains.scanLeft(0L)(_ + _).tail
      val gl = gains.mkString("[", ", ", "]")
      val il = idcg.mkString("[", ", ", "]")
      s"""WITH $sq8VsExactCtes,
        |j AS (SELECT ex.q_id, sq.rank
        |      FROM ex JOIN sq ON ex.q_id = sq.q_id AND ex.n_id = sq.n_id),
        |nr AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_rel FROM ex GROUP BY 1),
        |h AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_hits,
        |        CAST(sum(($gl)[CAST(rank AS INT)]) AS BIGINT) AS dcg_micro,
        |        min(rank) AS minr
        |      FROM j GROUP BY 1)
        |SELECT nr.q_id, nr.n_rel, COALESCE(h.n_hits, 0) AS n_hits,
        |  COALESCE(h.dcg_micro, 0) AS dcg_micro,
        |  CAST(($il)[CAST(least(nr.n_rel, 10) AS INT)] AS BIGINT) AS idcg_micro,
        |  CAST(COALESCE(h.dcg_micro, 0) AS DOUBLE) /
        |    ($il)[CAST(least(nr.n_rel, 10) AS INT)] AS ndcg,
        |  COALESCE(CAST(round(1000000.0 / h.minr) AS BIGINT), 0) AS rr_micro
        |FROM nr LEFT JOIN h USING (q_id)""".stripMargin
    }), bench = true),

    // PQ-ADC search: the read side of pqEncode — per-query m×k distance
    // tables (one broadcast row each), corpus scored by m map lookups on
    // its CODES (the raw vectors never re-read), map-side-limited top-k.
    // ADC: the d CTE (every (vector, subspace, codeword) distance) serves
    // BOTH sides — argmin rows are the corpus codes, query-id rows are the
    // distance tables; the score is the explicit left-assoc 4-term chain
    // the engine computes, then (distance, id) ranks.
    Q("q_sim_pq", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.pqSearch(emb.filter(col("vec_id") < 10), emb,
        m = 4, k = 16, dim = 64, topK = 5)
    }, sql(
      """WITH v AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |cb AS (SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT 16),
        |js AS (SELECT unnest(range(0, 4)) AS j),
        |sub AS (SELECT v.vec_id, js.j, v.e[js.j*16+1 : js.j*16+16] AS se
        |        FROM v CROSS JOIN js),
        |cs AS (SELECT cb.cid, js.j, cb.ce[js.j*16+1 : js.j*16+16] AS ce
        |       FROM cb CROSS JOIN js),
        |d AS (SELECT s.vec_id, s.j, c.cid,
        |        list_sum(list_transform(list_zip(s.se, c.ce),
        |          z -> (z[1] - z[2]) * (z[1] - z[2]))) AS d2
        |      FROM sub s JOIN cs c ON s.j = c.j),
        |a AS (SELECT vec_id, j, cid,
        |        row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, cid) AS rn
        |      FROM d),
        |codes AS (SELECT vec_id, j, cid FROM a WHERE rn = 1),
        |score AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    max(CASE WHEN c.j = 0 THEN q.d2 END)
        |      + max(CASE WHEN c.j = 1 THEN q.d2 END)
        |      + max(CASE WHEN c.j = 2 THEN q.d2 END)
        |      + max(CASE WHEN c.j = 3 THEN q.d2 END) AS adc_d2
        |  FROM codes c
        |  JOIN d q ON q.j = c.j AND q.cid = c.cid AND q.vec_id < 10
        |    AND q.vec_id <> c.vec_id
        |  GROUP BY 1, 2),
        |r AS (SELECT q_id, n_id, adc_d2,
        |        row_number() OVER (PARTITION BY q_id ORDER BY adc_d2, n_id) AS rank
        |      FROM score)
        |SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank, adc_d2
        |FROM r WHERE rank <= 5""".stripMargin), bench = true),

    Q("q_sim_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 5)
    }, sql(
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |sc AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    list_sum(list_transform(list_zip(q.e, c.e), z -> z[1] * z[2])) /
        |      (sqrt(list_sum(list_transform(q.e, x -> x * x))) *
        |       sqrt(list_sum(list_transform(c.e, x -> x * x)))) AS cos
        |  FROM v q JOIN v c ON q.vec_id != c.vec_id
        |  WHERE q.vec_id < 10)
        |SELECT q_id, n_id, rank, cos FROM (
        |  SELECT q_id, n_id, cos,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rank
        |  FROM sc)
        |WHERE rank <= 5""".stripMargin), bench = true),

    // Prototype cluster pruning (Sorscher et al. / SemDeDup keep policy):
    // seeded LSH cells, exact integer centroids over round(x*1000)
    // components, fixed-order d2 fold, per-cell rank, integer keep cut
    // at 50% closest-first.
    // prototype pruning: the engine's own seeded planes, the same
    // quantize/centroid/fold chain, integer keep cut
    Q("q_proto_prune", (s, dir) =>
      Similarity.prototypeScores(t(s, dir, "embeddings"),
        nPlanes = 4, dim = 64, keepPct = 50), sql({
      val planes = graft.functions.VectorFunctions.makePlanes(4, 64)
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings WHERE embedding IS NOT NULL),
         |b AS (SELECT vec_id, CAST(${sqlLshBucket(planes)} AS BIGINT) AS bucket,
         |        list_transform(e, x -> CAST(round(x * 1000.0) AS BIGINT)) AS q
         |      FROM v),
         |comp AS (SELECT vec_id, bucket, i, q[i] AS x
         |         FROM b, UNNEST(range(1, len(q) + 1)) r(i)),
         |cent AS (SELECT bucket, i, CAST(sum(x) AS BIGINT) AS s,
         |           CAST(count(*) AS BIGINT) AS n
         |         FROM comp GROUP BY 1, 2),
         |ca AS (SELECT bucket, max(n) AS n,
         |         list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY i) AS c
         |       FROM cent GROUP BY bucket),
         |d AS (SELECT b.vec_id, b.bucket, ca.n,
         |        list_sum(list_transform(list_zip(b.q, ca.c),
         |          z -> (CAST(z[1] AS DOUBLE) - z[2]) * (CAST(z[1] AS DOUBLE) - z[2]))) AS d2
         |      FROM b JOIN ca USING (bucket)),
         |r AS (SELECT vec_id, bucket, d2, n,
         |        row_number() OVER (PARTITION BY bucket ORDER BY d2, vec_id) AS rank
         |      FROM d)
         |SELECT vec_id, bucket, d2, CAST(rank AS BIGINT) AS rank,
         |  (rank - 1) * 100 < 50 * n AS keep
         |FROM r""".stripMargin
    }), bench = true),

    // Margin-based bitext mining (Artetxe & Schwenk / CCMatrix): best
    // cross-side match per even-id vector against the odd-id side by the
    // ratio margin cos/(Σtopk_x/2k + Σtopk_y/2k), with the mutual-best
    // flag. Cosines quantize to 1e12 integers so neighborhood sums are
    // order-free exact; the margin is 1e-6 fixed point under the hash.
    // bitext margin mining: quantized-cosine neighborhoods both ways,
    // exact integer sums, the fixed-order margin expression, winners by
    // (margin DESC NULLS LAST, id) both sides, mutual-best join
    // Not a headliner: the brute |X|x|Y| pair scan is the quadratic baseline
    // family; the scale paths compose the margin over LSH/IVF candidates.
    Q("q_bitext_margin", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bitextMarginMine(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1), k = 4)
    }, sql(s"${bitextWinnersSql()}")),

    // The bitext scale path: the same margin chain over LSH candidate
    // pairs (y keeps its bucket, x multi-probes hamming-1) — shuffle
    // volume = candidates, never |X|·|Y|.
    // the LSH-candidate scale path: same margin chain over bucket-hamming
    // <= 1 pairs (annLsh's multi-probe as a bit_count condition)
    Q("q_bitext_lsh", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bitextMarginMineLsh(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1), k = 4, nPlanes = 4)
    }, sql(
      s"${bitextWinnersSql(bitextLshCond(4, Seq(0x5DEECE66DL)))}"), bench = true),

    // The bitext IVF scale path: the same margin chain over CO-CELL pairs
    // from a deterministic lowest-id-seeded coarse quantizer (y keeps its
    // nearest cell, x probes its 4 nearest of 16) — the structure-aware
    // candidate generator for corpora that cluster, vs LSH's
    // data-oblivious planes. Salted bare-id cell join, vectors rejoin on
    // ids; driver traffic = the 16-row codebook.
    // the IVF-candidate scale path: deterministic lowest-id-seeded cells,
    // y's nearest cell must sit in x's nprobe probe list — the same
    // assignment replay as q_sim_ivf (rank by (d, cell) over the exact
    // left-fold distances), with the centroids derived IN SQL
    Q("q_bitext_ivf", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bitextMarginMineIvf(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1), k = 4, nlist = 16, nprobe = 4)
    }, sql(s"${bitextWinnersSql(
      candCond = """AND EXISTS (SELECT 1 FROM xprob p JOIN ycell yc
        |    ON p.cell = yc.cell
        |    WHERE p.vec_id = x.vec_id AND yc.vec_id = y.vec_id)""".stripMargin,
      extraCtes = """cents AS (
        |  SELECT e AS ce, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell
        |  FROM (SELECT * FROM v WHERE vec_id % 2 = 1 ORDER BY vec_id LIMIT 16)),
        |cd AS (SELECT v.vec_id, c.cell,
        |         list_sum(list_transform(list_zip(v.e, c.ce),
        |           z -> (z[1] - z[2]) * (z[1] - z[2]))) AS d
        |       FROM v, cents c),
        |rnk AS (SELECT vec_id, cell,
        |          row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        |        FROM cd),
        |ycell AS (SELECT vec_id, cell FROM rnk WHERE rn = 1 AND vec_id % 2 = 1),
        |xprob AS (SELECT vec_id, cell FROM rnk WHERE rn <= 4 AND vec_id % 2 = 0)""".stripMargin)}"),
      bench = true),

    // The TRAINED-quantizer IVF path under the gate, as an agreement
    // readout against the brute winners: 3 Lloyd rounds of kmeansIterate
    // over the y side replace the deterministic lowest-id seeds at the
    // SAME nlist/nprobe — data-following cells prune better at equal
    // candidate budget (agreement 157/250 trained vs 113/250
    // deterministic on this corpus — tools/BitextProbe pins the lift;
    // rounds 1/3/5 give 158/157/160, so 3 is past the knee).
    // The trained centroids are nlist rows of driver-bounded metadata,
    // collected once to re-literal both the engine codebook and the
    // oracle (the q_ann_recall_refined discipline).
    Q("q_bitext_ivf_trained", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val xsS = emb.filter(col("vec_id") % 2 === 0)
      val ysS = emb.filter(col("vec_id") % 2 === 1)
      val cents: Array[Array[Double]] =
        Similarity.kmeansIterate(ysS, k = 16, rounds = 3)
          .collect().sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)
      bitextTrainedCents = Some(cents)
      import s.implicits._
      val cb = cents.toSeq.zipWithIndex
        .map { case (v, i) => (i.toLong, v.toSeq) }.toDF("cid", "cv")
      val brute = Similarity.bitextMarginMine(xsS, ysS, k = 4)
        .select(col("x_id"), col("y_id").as("y_brute"))
      val ivf = Similarity.bitextMarginMineIvf(xsS, ysS, k = 4, nlist = 16,
          nprobe = 4, codebookSource = Some(cb))
        .select(col("x_id"), col("y_id").as("y_ivf"))
      brute.join(ivf, Seq("x_id"))
        .select(col("x_id"), col("y_brute"), col("y_ivf"),
          (col("y_brute") === col("y_ivf")).as("agree"))
    }, fitted(bitextTrainedOracle)),

    // The PQ-ADC bitext candidate path — the third generator completing
    // the mining-side ANN symmetry (LSH planes / IVF cells / PQ codes):
    // co-cell pairs are ranked by asymmetric-distance table lookups over
    // pqEncode codes and only each x's 8 ADC-best reach the exact
    // cosine + margin verify — the FAISS IVFx,PQy read path applied to
    // mining (both prunings multiply; exact scoring touches 8·|X| pairs).
    // Honest price on THIS corpus: the synthetic embeddings are random —
    // PQ's worst case like LSH's — so the noisy ADC cut keeps 49/250
    // brute winners at cand=8 (63 at 16) where IVF's verify-every-co-cell
    // keeps 113 (tools/BitextProbe); clustered real embeddings are the
    // regime the code-space shortcut exists for, and cand is the dial.
    // the PQ-ADC candidate path: the q_bitext_ivf cell replay, plus the
    // per-subspace argmin codes of the odd side (first-16-by-id codebook,
    // ties to the lower cid), x's ADC distance tables, the co-cell pairs
    // ranked by the fixed-order 4-term ADC sum, and the top-8-per-x cut
    // feeding the margin chain
    // parameterized to the gate's (m, kCodes, nprobe, cand) so a default
    // change on the Spark side regenerates the identical oracle shape
    Q("q_bitext_pq", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      // r17 defaults from the BitextProbe knee: m=8/kCodes=32 ADC over the
      // FULL cell fan-out (nprobe = nlist — on this random worst-case
      // corpus the cells carry no structure, so the cheap table-lookup
      // pass ranks everything and the EXACT verify stays at cand=16/x):
      // agreement 129/250 vs brute — ABOVE the IVF path's 113/250, at
      // ~1/4 of its exact-scoring budget (16 vs the ~62-pair co-cell pool)
      Similarity.bitextMarginMinePq(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1),
        k = 4, cand = 16, nlist = 16, nprobe = 16, m = 8, kCodes = 32,
        dim = 64)
    }, sql(bitextWinnersSql(
      candCond = bitextPqCandCond,
      extraCtes = bitextPqCtes(m = 8, kCodes = 32, nprobe = 16, cand = 16,
        seeds = Seq(None)))), bench = true),

    // Agreement readout: for each x, does the LSH-candidate winner equal
    // the brute winner? The gated price of pruning: the synthetic
    // embeddings are RANDOM (no cluster structure — LSH's worst case), so
    // hamming<=1 at 4 planes (5/16 of pairs scored) keeps 119/250 winners
    // (nPlanes=2 keeps 205/250 at 3/4 of pairs — tools/BitextProbe); real
    // embeddings cluster, which is the regime the bucket path exists for.
    // The gate hashes the exact agreement SET, not a summary.
    // agreement readout: per-x winner under LSH candidates vs brute
    Q("q_bitext_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val xsS = emb.filter(col("vec_id") % 2 === 0)
      val ysS = emb.filter(col("vec_id") % 2 === 1)
      val brute = Similarity.bitextMarginMine(xsS, ysS, k = 4)
        .select(col("x_id"), col("y_id").as("y_brute"))
      val lsh = Similarity.bitextMarginMineLsh(xsS, ysS, k = 4, nPlanes = 4)
        .select(col("x_id"), col("y_id").as("y_lsh"))
      brute.join(lsh, Seq("x_id"))
        .select(col("x_id"), col("y_brute"), col("y_lsh"),
          (col("y_brute") === col("y_lsh")).as("agree"))
    }, sql(
      s"""WITH brute AS (${bitextWinnersSql()}),
         |lsh AS (${bitextWinnersSql(bitextLshCond(4, Seq(0x5DEECE66DL)))})
         |SELECT b.x_id, b.y_id AS y_brute, l.y_id AS y_lsh,
         |  b.y_id = l.y_id AS agree
         |FROM brute b JOIN lsh l USING (x_id)""".stripMargin)),

    // The multi-seed recall lever under the gate: THREE independent plane
    // sets, candidates unioned (a pair is missed only if every seed cuts
    // it), then the same margin chain. At nPlanes=4 on this random
    // worst-case corpus agreement lifts 119/250 -> 205/250
    // (tools/BitextProbe) while each seed still prunes to hamming<=1
    // buckets — recall tuned WITHOUT widening buckets.
    // multi-seed agreement: candidates = union over three plane sets
    Q("q_bitext_recall_seeds", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val xsS = emb.filter(col("vec_id") % 2 === 0)
      val ysS = emb.filter(col("vec_id") % 2 === 1)
      val brute = Similarity.bitextMarginMine(xsS, ysS, k = 4)
        .select(col("x_id"), col("y_id").as("y_brute"))
      val lsh = Similarity.bitextMarginMineLsh(xsS, ysS, k = 4, nPlanes = 4,
          seeds = bitextSeedPool)
        .select(col("x_id"), col("y_id").as("y_lsh"))
      brute.join(lsh, Seq("x_id"))
        .select(col("x_id"), col("y_brute"), col("y_lsh"),
          (col("y_brute") === col("y_lsh")).as("agree"))
    }, sql(
      s"""WITH brute AS (${bitextWinnersSql()}),
         |lsh AS (${bitextWinnersSql(bitextLshCond(4, bitextSeedPool))})
         |SELECT b.x_id, b.y_id AS y_brute, l.y_id AS y_lsh,
         |  b.y_id = l.y_id AS agree
         |FROM brute b JOIN lsh l USING (x_id)""".stripMargin)),

    // The multi-seed recall lever applied to PQ CODEBOOKS (the r17 ask's
    // closure): THREE independent deterministic codebooks (md5-ordered
    // kCodes-row samples), per-codebook ADC cand-cuts unioned before the
    // exact verify — a brute winner is missed only if EVERY codebook's
    // quasi-independent ADC noise ranks it below cand. On this random
    // worst-case corpus agreement lifts 129/250 (single codebook,
    // cand=16) -> 227/250 at 72 exact scorings per x — ABOVE the LSH
    // 3-seed 205/250 at ~1/3 of its exact-verify budget
    // (tools/BitextProbe). The gate hashes the exact agreement SET.
    // multi-seed PQ agreement: per-codebook ADC cand-cuts unioned, per-x
    // winner vs brute
    // Not a headliner: an agreement readout that contains the brute compare.
    Q("q_bitext_pq_seeds", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val xsS = emb.filter(col("vec_id") % 2 === 0)
      val ysS = emb.filter(col("vec_id") % 2 === 1)
      val brute = Similarity.bitextMarginMine(xsS, ysS, k = 4)
        .select(col("x_id"), col("y_id").as("y_brute"))
      val pq = Similarity.bitextMarginMinePq(xsS, ysS, k = 4, cand = 24,
          nlist = 16, nprobe = 16, m = 8, kCodes = 32,
          seeds = bitextSeedPool)
        .select(col("x_id"), col("y_id").as("y_pq"))
      brute.join(pq, Seq("x_id"))
        .select(col("x_id"), col("y_brute"), col("y_pq"),
          (col("y_brute") === col("y_pq")).as("agree"))
    }, sql(
      s"""WITH brute AS (${bitextWinnersSql()}),
         |pq AS (${bitextWinnersSql(
        candCond = bitextPqCandCond,
        extraCtes = bitextPqCtes(m = 8, kCodes = 32, nprobe = 16,
          cand = 24, seeds = bitextSeedPool.map(Some(_))))})
         |SELECT b.x_id, b.y_id AS y_brute, p.y_id AS y_pq,
         |  b.y_id = p.y_id AS agree
         |FROM brute b JOIN pq p USING (x_id)""".stripMargin)),

    // Greedy k-center coreset (Gonzalez farthest-first): 8 maximally
    // spread representatives of the embedding corpus — the diversity
    // PRUNING selector (vs MMR's candidate re-rank); d2 carries the
    // covering-radius progression. k-1 broadcast-center scans, 1-row
    // argmax per round.
    Q("q_kcenter", (s, dir) =>
      Similarity.kCenterGreedy(t(s, dir, "embeddings"), k = 8),
      sql(kcenterOracleSql(8)), bench = true),

    // Johnson–Lindenstrauss ±1 sign projection (Achlioptas): 64-d float
    // embeddings shrink to 8 exact fixed-point coordinates in one pure
    // scan — the pre-LSH/pre-SemDeDup width cut. Integer end to end
    // (components quantize to round(x·1000) before the signed sums), so
    // the gate is bit-exact, not rounded-double; the sign matrix is the
    // engine's own seeded constants embedded in the oracle (the
    // makePlanes discipline).
    Q("q_rand_project", (s, dir) =>
      Similarity.randomProject(t(s, dir, "embeddings"), outDims = 8, dim = 64)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("dim", "y"))),
      sql(randProjectOracleSql(8, 64, 0xA5F152EDL)), bench = true),

    // PCA's distributed half: the exact 10^-6-quantized covariance census
    // (integer moments, 2080 upper-triangle rows at d=64) — what the
    // driver-side eigensolve consumes; fully static-oracle-checkable.
    // the PCA covariance census: pure integer replay of the 10^-6
    // quantizer + HUGEINT moments
    Q("q_pca_cov", (s, dir) =>
      Similarity.pcaCovariance(t(s, dir, "embeddings"), dim = 64), hashSafe("j,k,n,cov_num*")(
      """WITH v AS (
        |  SELECT list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS HUGEINT)) AS q
        |  FROM embeddings),
        |u AS (
        |  SELECT unnest(flatten(list_transform(range(1, len(q) + 1),
        |    j -> list_transform(range(j, len(q) + 1),
        |      k -> {'j': j - 1, 'k': k - 1, 'p': q[j] * q[k],
        |            'qj': q[j], 'qk': q[k]})))) AS t
        |  FROM v)
        |SELECT CAST(t.j AS BIGINT) AS j, CAST(t.k AS BIGINT) AS k,
        |  count(*) AS n,
        |  CAST(count(*) * sum(t.p) - sum(t.qj) * sum(t.qk) AS DECIMAL(38,0)) AS cov_num
        |FROM u GROUP BY 1, 2""".stripMargin), bench = true),

    // The fitted projection: Jacobi eigensolve on the collected census,
    // top-2 sign-canonicalized components, one-scan left-fold dots —
    // oracle embeds the captured component literals (IvfRun discipline).
    Q("q_pca_project", (s, dir) => {
      val run = Similarity.pcaFit(t(s, dir, "embeddings"), dim = 64, k = 2)
      Similarity.pcaProject(t(s, dir, "embeddings"), run)
    }, fitted(pcaOracle), bench = true),

    // Contrastive mining: k deterministic uniform negatives per doc from
    // the salted-md5 ring — integer arithmetic end to end, one pos-keyed
    // join, payloads never expand.
    Q("q_neg_samples", (s, dir) =>
      operators.Contrastive.ringNegatives(
        t(s, dir, "documents").select(col("doc_id")), "doc_id"), sql(
      """WITH r AS (
        |  SELECT doc_id, CAST(row_number() OVER (ORDER BY
        |    md5(CAST(doc_id AS VARCHAR) || ':negatives'), doc_id) AS BIGINT)
        |    AS pos
        |  FROM documents),
        |n AS (SELECT count(*) AS n FROM r),
        |e AS (SELECT r.doc_id, j, pos,
        |        ((pos - 1 + j * greatest(n // 5, 1)) % n) + 1 AS neg_pos
        |      FROM r, n, (SELECT unnest([1, 2, 3, 4]) AS j))
        |SELECT e.doc_id, CAST(e.j AS BIGINT) AS j, r2.doc_id AS neg_doc_id
        |FROM e JOIN r r2 ON r2.pos = e.neg_pos
        |WHERE e.neg_pos <> e.pos""".stripMargin), bench = true),

    // ...and the top-5 nearest DIFFERENT-label neighbors per probe vector
    // (hard negatives for a triplet loss) — the oracle-exact brute form
    // of the ANN-bucketed scale path, q_sim_topk's cosine contract.
    Q("q_hard_neg", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      operators.Contrastive.hardNegatives(emb.filter(col("vec_id") < 10), emb)
    }, sql(
      """WITH v AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |sc AS (
        |  SELECT q.vec_id AS q_id, q.label AS q_label, c.vec_id AS n_id,
        |    c.label AS n_label,
        |    list_sum(list_transform(list_zip(q.e, c.e), z -> z[1] * z[2])) /
        |      (sqrt(list_sum(list_transform(q.e, x -> x * x))) *
        |       sqrt(list_sum(list_transform(c.e, x -> x * x)))) AS cos
        |  FROM v q JOIN v c ON q.vec_id != c.vec_id AND q.label != c.label
        |  WHERE q.vec_id < 10)
        |SELECT q_id, q_label, n_id, n_label, rank, cos FROM (
        |  SELECT q_id, q_label, n_id, n_label, cos,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY cos DESC, n_id) AS BIGINT) AS rank
        |  FROM sc)
        |WHERE rank <= 5""".stripMargin), bench = true),

    // End-to-end contrastive training prep in ONE composed plan: length
    // gate on the text side -> modality join (doc_id = vec_id) ->
    // SemDeDup survivors -> deterministic ring negatives over the
    // deduped set. Join, scan-local assignment, one cluster-keyed anti
    // join, prefix count, one pos-keyed join — no stage materializes.
    Q("q_pipeline_pairs", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"))
        .filter(col("n_tokens") >= 25)
      val emb = t(s, dir, "embeddings")
      val joined = emb.join(docs, emb("vec_id") === docs("doc_id"))
        .select(col("vec_id"), col("embedding"))
      val survivors = Dedup.semanticDedup(joined, k = 8, threshold = 0.4)
      operators.Contrastive.ringNegatives(
        survivors.select(col("vec_id")), "vec_id", k = 2, salt = "pairs")
    }, sql(
      """WITH d AS (SELECT doc_id FROM documents
        |           WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 25),
        |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |      FROM embeddings JOIN d ON vec_id = doc_id),
        |c AS (SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT 8),
        |a AS (SELECT v.vec_id, c.cid,
        |    list_sum(list_transform(list_zip(v.e, c.ce), z -> z[1] * z[2])) /
        |      (sqrt(list_sum(list_transform(v.e, x -> x * x))) *
        |       sqrt(list_sum(list_transform(c.ce, x -> x * x)))) AS cos
        |  FROM v, c),
        |asg AS (SELECT vec_id, cid AS cluster FROM (
        |  SELECT vec_id, cid,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
        |  FROM a) WHERE rn = 1),
        |av AS (SELECT asg.vec_id, asg.cluster, v.e FROM asg JOIN v USING (vec_id)),
        |surv AS (
        |  SELECT b.vec_id FROM av b
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM av s
        |    WHERE s.cluster = b.cluster AND s.vec_id < b.vec_id
        |      AND list_sum(list_transform(list_zip(s.e, b.e), z -> z[1] * z[2])) /
        |        (sqrt(list_sum(list_transform(s.e, x -> x * x))) *
        |         sqrt(list_sum(list_transform(b.e, x -> x * x)))) >= 0.4)),
        |r AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY
        |        md5(CAST(vec_id AS VARCHAR) || ':pairs'), vec_id) AS BIGINT)
        |        AS pos
        |      FROM surv),
        |n AS (SELECT count(*) AS n FROM r),
        |ex AS (SELECT r.vec_id, j, pos,
        |        ((pos - 1 + j * greatest(n // 3, 1)) % n) + 1 AS neg_pos
        |      FROM r, n, (SELECT unnest([1, 2]) AS j))
        |SELECT ex.vec_id, CAST(ex.j AS BIGINT) AS j, r2.vec_id AS neg_vec_id
        |FROM ex JOIN r r2 ON r2.pos = ex.neg_pos
        |WHERE ex.neg_pos <> ex.pos""".stripMargin), bench = true),

    // CROSS-MODAL PAIR-CURATION CAPSTONE (the LAION-shape image-text
    // pipeline) — ONE composed plan over four already-gated members:
    //   1. perceptual image dedup on the REAL javax.imageio decode path
    //      (planted duplicate images, seed = doc_id % 100; RealCodec
    //      dHash, q_media_dhash's formula) keeps the lowest doc per hash;
    //   2. cross-modal gate: image-side features (the mapInPandas-shaped
    //      media feature stage, q_media_features' formula) against the
    //      first 16 components of the PAIRED text embedding — keep pairs
    //      at cosine >= 0.05 (both sides fold in double, exact replay);
    //   3. SemDeDup over the survivors' full text embeddings (cluster-
    //      keyed LEFT ANTI, q_pipeline_pairs' member);
    //   4. sharded-JSONL training export, READ BACK from the written
    //      shards (q_export_shards' member) — serialization fidelity,
    //      layout, and the shard derivation all sit under the hash.
    // cross-modal capstone: the four member replays composed — RealCodec
    // dHash formula (q_media_dhash) -> min-doc-per-hash keep; stub media
    // features (q_media_features) x first-16 embedding cosine >= 0.05;
    // SemDeDup NOT EXISTS (q_pipeline_pairs); shard derivation over the
    // SURVIVOR byte volume at 64 KiB (q_export_shards)
    Q("q_pipeline_multimodal", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // 1. image dedup: one decode per DISTINCT image (<= 100 PNGs), the
      // hash join routes it back to every doc carrying that image
      val seeds = docs.select((col("doc_id") % 100).as("doc_id")).distinct()
      val hashes = Multimodal.dHashes(
        Multimodal.synthesizePngs(seeds).toDF(), Multimodal.RealCodec).toDF()
        .select(col("doc_id").as("seed"), col("dhash"))
      val imgKept = docs.withColumn("seed", col("doc_id") % 100)
        .join(hashes, Seq("seed"))
        .withColumn("__keep_doc",
          min(col("doc_id")).over(Window.partitionBy(col("dhash"))))
        .filter(col("doc_id") === col("__keep_doc"))
        .select(col("doc_id"), col("text"))
      // 2. cross-modal cosine gate (image features x text embedding)
      val feats = Multimodal.extractFeatures(
        Multimodal.asMediaTable(imgKept), dim = 16, Multimodal.StubCodec).toDF()
      val emb = t(s, dir, "embeddings")
      val gated = feats.join(emb, feats("doc_id") === emb("vec_id"))
        .filter(graft.functions.VectorFunctions.cosineSimilarity(
          col("features"), slice(col("embedding"), 1, 16)) >= 0.05)
        .select(col("vec_id"), col("embedding"))
      // 3. semantic dedup of the kept pairs' text side
      val surv = Dedup.semanticDedup(gated, k = 8, threshold = 0.4)
      // 4. export the curated pair corpus as training shards; re-read
      exportAndReadShards(s,
        surv.join(docs, surv("vec_id") === docs("doc_id"))
          .select(col("doc_id"), col("text")),
        "graft_mm_gate_", maxShardBytes = 64L * 1024)
    }, sql(
      """WITH sel AS (SELECT DISTINCT doc_id % 100 AS seed FROM documents),
        |dims AS (SELECT seed, 8 + seed % 9 AS w, 8 + seed % 7 AS h FROM sel),
        |grid AS (SELECT seed, x, y,
        |           (x * w) // 9 AS px0, ((x + 1) * w) // 9 AS px1,
        |           (y * h) // 8 AS py
        |         FROM dims, UNNEST(range(0, 8)) rx(x), UNNEST(range(0, 8)) ry(y)),
        |gr AS (SELECT seed, x, y,
        |    (299 * ((7 * px0 + 11 * py + seed) % 256)
        |     + 587 * ((13 * px0 + 3 * py + 2 * seed) % 256)
        |     + 114 * ((px0 + 5 * py + 3 * seed) % 256)) // 1000 AS g0,
        |    (299 * ((7 * px1 + 11 * py + seed) % 256)
        |     + 587 * ((13 * px1 + 3 * py + 2 * seed) % 256)
        |     + 114 * ((px1 + 5 * py + 3 * seed) % 256)) // 1000 AS g1
        |  FROM grid),
        |bits AS (SELECT seed,
        |           list(CASE WHEN g1 > g0 THEN 1 ELSE 0 END ORDER BY y DESC, x DESC) AS bl
        |         FROM gr GROUP BY seed),
        |hs AS (SELECT seed,
        |    list_reduce(list_prepend(0::HUGEINT, list_transform(bl, b -> b::HUGEINT)),
        |      (acc, b) -> acc * 2::HUGEINT + b) AS hraw
        |  FROM bits),
        |hsx AS (SELECT seed,
        |    CAST(CASE WHEN hraw >= 9223372036854775808::HUGEINT
        |              THEN hraw - 18446744073709551616::HUGEINT
        |              ELSE hraw END AS BIGINT) AS dhash
        |  FROM hs),
        |jd AS (SELECT d.doc_id, d.text, hsx.dhash
        |       FROM documents d JOIN hsx ON hsx.seed = d.doc_id % 100),
        |ik AS (SELECT doc_id, text FROM (
        |         SELECT doc_id, text,
        |           min(doc_id) OVER (PARTITION BY dhash) AS kd FROM jd)
        |       WHERE doc_id = kd),
        |m AS (SELECT doc_id, to_hex(encode(text)) AS hx,
        |        octet_length(encode(text)) AS nb FROM ik),
        |f AS (SELECT m.doc_id,
        |        list(CASE WHEN m.nb = 0 THEN 0.0e0
        |          ELSE (CAST(('0x' || substr(m.hx,
        |            CAST(((ji * 2654435761) % m.nb) * 2 + 1 AS INTEGER),
        |            2))::UBIGINT AS BIGINT) - 128) / 128.0e0 END
        |          ORDER BY ji) AS feat
        |      FROM m CROSS JOIN range(16) r(ji) GROUP BY m.doc_id),
        |e16 AS (SELECT vec_id,
        |          list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS e
        |        FROM embeddings),
        |cg AS (SELECT f.doc_id FROM f JOIN e16 ON e16.vec_id = f.doc_id
        |       WHERE list_sum(list_transform(list_zip(f.feat, e16.e),
        |               z -> z[1] * z[2])) /
        |         (sqrt(list_sum(list_transform(f.feat, x -> x * x))) *
        |          sqrt(list_sum(list_transform(e16.e, x -> x * x)))) >= 0.05e0),
        |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |      FROM embeddings JOIN cg ON vec_id = cg.doc_id),
        |c AS (SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT 8),
        |a AS (SELECT v.vec_id, c.cid,
        |    list_sum(list_transform(list_zip(v.e, c.ce), z -> z[1] * z[2])) /
        |      (sqrt(list_sum(list_transform(v.e, x -> x * x))) *
        |       sqrt(list_sum(list_transform(c.ce, x -> x * x)))) AS cos
        |  FROM v, c),
        |asg AS (SELECT vec_id, cid AS cluster FROM (
        |  SELECT vec_id, cid,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
        |  FROM a) WHERE rn = 1),
        |av AS (SELECT asg.vec_id, asg.cluster, v.e FROM asg JOIN v USING (vec_id)),
        |surv AS (
        |  SELECT b.vec_id FROM av b
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM av s
        |    WHERE s.cluster = b.cluster AND s.vec_id < b.vec_id
        |      AND list_sum(list_transform(list_zip(s.e, b.e), z -> z[1] * z[2])) /
        |        (sqrt(list_sum(list_transform(s.e, x -> x * x))) *
        |         sqrt(list_sum(list_transform(b.e, x -> x * x)))) >= 0.4)),
        |sd AS (SELECT d.doc_id, d.text FROM documents d
        |       JOIN surv ON surv.vec_id = d.doc_id),
        |pb AS (SELECT coalesce(octet_length(encode(CAST(text AS VARCHAR))), 0)
        |         + octet_length(encode(CAST(doc_id AS VARCHAR))) + 32 AS rb
        |       FROM sd),
        |ns AS (SELECT CAST(greatest(1, (SUM(rb) + 65535) // 65536) AS UBIGINT) AS n
        |       FROM pb)
        |SELECT sd.doc_id, sd.text,
        |  CAST(('0x' || substr(md5(CAST(sd.doc_id AS VARCHAR) || ':shard'), 1, 15))::UBIGINT
        |       % (SELECT n FROM ns) AS BIGINT) AS shard
        |FROM sd""".stripMargin), bench = true),

    // Sparse retrieval: BM25 top-10 per query over the documents corpus —
    // postings-style plan (only query-term tokens shuffle), broadcast
    // corpus stats, map-side-limited top-k window. Terms are chosen with
    // pairwise-distinct dfs inside each query so exact score ties can only
    // come from identical tf-vectors (engine-independent, doc_id-broken);
    // see Retrieval.bm25TopK on why rank+hits, not the raw score, is the
    // cross-engine contract.
    Q("q_bm25", (s, dir) =>
      graft.operators.Retrieval.bm25TopK(t(s, dir, "documents"), Seq(
        "fast table scan" -> Seq("fast", "table", "scan"),
        "join merge sort" -> Seq("join", "merge", "sort"),
        "stream window agg" -> Seq("stream", "window", "agg")), k = 10), sql(
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |           FROM documents),
        |dl AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM d),
        |st AS (SELECT count(*) AS n_docs,
        |              CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |q(query_id, ti, term) AS (VALUES
        |  ('fast table scan', 0, 'fast'), ('fast table scan', 1, 'table'),
        |  ('fast table scan', 2, 'scan'),
        |  ('join merge sort', 0, 'join'), ('join merge sort', 1, 'merge'),
        |  ('join merge sort', 2, 'sort'),
        |  ('stream window agg', 0, 'stream'), ('stream window agg', 1, 'window'),
        |  ('stream window agg', 2, 'agg')),
        |tdf AS (SELECT t.term, count(*) AS df
        |        FROM (SELECT DISTINCT term FROM q) t
        |        JOIN dl ON list_contains(dl.toks, t.term)
        |        GROUP BY t.term),
        |qi AS (SELECT q.query_id, q.ti, q.term,
        |         ln((st.n_docs - coalesce(tdf.df, 0) + 0.5) /
        |            (coalesce(tdf.df, 0) + 0.5) + 1.0) AS idf
        |       FROM q LEFT JOIN tdf USING (term), st),
        |c AS (SELECT qi.query_id, dl.doc_id, qi.ti,
        |        CAST(len(list_filter(dl.toks, x -> x = qi.term)) AS DOUBLE) AS tf,
        |        qi.idf * (CAST(len(list_filter(dl.toks, x -> x = qi.term)) AS DOUBLE) * 2.2) /
        |          (CAST(len(list_filter(dl.toks, x -> x = qi.term)) AS DOUBLE) +
        |           1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)) AS contrib
        |      FROM dl, qi, st),
        |s AS (SELECT query_id, doc_id,
        |        list_sum(list(contrib ORDER BY ti)) AS score,
        |        CAST(sum(tf) AS BIGINT) AS hits
        |      FROM c GROUP BY query_id, doc_id)
        |SELECT query_id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, doc_id) AS INTEGER) AS rnk,
        |  doc_id, hits
        |FROM s WHERE hits > 0
        |QUALIFY rnk <= 10""".stripMargin), bench = true),

    // Exact phrase search over positional postings — adjacency the BM25
    // bag-of-words cannot express: postings pruned to the phrase's two
    // tokens BEFORE the shuffle, the second word joined at pos-1 on the
    // co-partitioned (doc, pos) key, per-doc occurrence counts.
    // positional phrase search: word i joins the first word's postings
    // at pos - i; only position DIFFERENCES matter, so DuckDB's 1-based
    // ordinals replay the engine's 0-based posexplode exactly
    Q("q_phrase", (s, dir) =>
      graft.operators.Retrieval.phraseSearch(t(s, dir, "documents"),
        Seq("data", "query")), sql(
      """WITH tk AS (SELECT doc_id, a[CAST(i AS INT)] AS t, CAST(i AS BIGINT) AS pos
        |     FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
        |           FROM documents),
        |          UNNEST(range(1, len(a) + 1)) r(i)),
        |p0 AS (SELECT doc_id, pos FROM tk WHERE t = 'data'),
        |p1 AS (SELECT doc_id, pos - 1 AS pos FROM tk WHERE t = 'query')
        |SELECT p0.doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |FROM p0 JOIN p1 USING (doc_id, pos)
        |GROUP BY 1""".stripMargin), bench = true),

    // RM3 pseudo-relevance feedback: top-5 feedback docs per query, top-2
    // integer-weighted expansion terms appended, BM25 re-run — two
    // bm25TopK plans + a broadcast-feedback term census between them.
    // RM3: round 1 = the q_bm25 pipeline cut to rnk<=5; expansion terms by
    // integer count over the feedback docs (query's own terms anti-joined
    // out); round 2 = the same scoring CTEs over the expanded term table
    Q("q_bm25_rm3", (s, dir) =>
      graft.operators.Retrieval.bm25WithFeedback(t(s, dir, "documents"), Seq(
        "fast table scan" -> Seq("fast", "table", "scan"),
        "join merge sort" -> Seq("join", "merge", "sort"),
        "stream window agg" -> Seq("stream", "window", "agg")),
        k = 10, kFb = 5, mExp = 2), sql(
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |           FROM documents),
        |dl AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM d),
        |st AS (SELECT count(*) AS n_docs,
        |              CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |q(query_id, ti, term) AS (VALUES
        |  ('fast table scan', 0, 'fast'), ('fast table scan', 1, 'table'),
        |  ('fast table scan', 2, 'scan'),
        |  ('join merge sort', 0, 'join'), ('join merge sort', 1, 'merge'),
        |  ('join merge sort', 2, 'sort'),
        |  ('stream window agg', 0, 'stream'), ('stream window agg', 1, 'window'),
        |  ('stream window agg', 2, 'agg')),
        |tdf AS (SELECT t.term, count(*) AS df
        |        FROM (SELECT DISTINCT term FROM q) t
        |        JOIN dl ON list_contains(dl.toks, t.term)
        |        GROUP BY t.term),
        |qi AS (SELECT q.query_id, q.ti, q.term,
        |         ln((st.n_docs - coalesce(tdf.df, 0) + 0.5) /
        |            (coalesce(tdf.df, 0) + 0.5) + 1.0) AS idf
        |       FROM q LEFT JOIN tdf USING (term), st),
        |c AS (SELECT qi.query_id, dl.doc_id, qi.ti,
        |        CAST(len(list_filter(dl.toks, x -> x = qi.term)) AS DOUBLE) AS tf,
        |        qi.idf * (CAST(len(list_filter(dl.toks, x -> x = qi.term)) AS DOUBLE) * 2.2) /
        |          (CAST(len(list_filter(dl.toks, x -> x = qi.term)) AS DOUBLE) +
        |           1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)) AS contrib
        |      FROM dl, qi, st),
        |s AS (SELECT query_id, doc_id,
        |        list_sum(list(contrib ORDER BY ti)) AS score,
        |        CAST(sum(tf) AS BIGINT) AS hits
        |      FROM c GROUP BY query_id, doc_id),
        |fb AS (SELECT query_id, doc_id FROM (
        |        SELECT query_id, doc_id,
        |          row_number() OVER (PARTITION BY query_id
        |            ORDER BY score DESC, doc_id) AS rnk
        |        FROM s WHERE hits > 0) WHERE rnk <= 5),
        |tw AS (SELECT fb.query_id, t.tok, count(*) AS w
        |       FROM fb JOIN (SELECT doc_id, unnest(toks) AS tok FROM dl) t
        |         ON t.doc_id = fb.doc_id
        |       WHERE NOT EXISTS (SELECT 1 FROM q
        |                         WHERE q.query_id = fb.query_id AND q.term = t.tok)
        |       GROUP BY 1, 2),
        |ex AS (SELECT query_id, 2 + r AS ti, tok AS term FROM (
        |        SELECT query_id, tok,
        |          row_number() OVER (PARTITION BY query_id
        |            ORDER BY w DESC, tok) AS r
        |        FROM tw) WHERE r <= 2),
        |q2 AS (SELECT * FROM q UNION ALL SELECT * FROM ex),
        |tdf2 AS (SELECT t.term, count(*) AS df
        |         FROM (SELECT DISTINCT term FROM q2) t
        |         JOIN dl ON list_contains(dl.toks, t.term)
        |         GROUP BY t.term),
        |qi2 AS (SELECT q2.query_id, q2.ti, q2.term,
        |          ln((st.n_docs - coalesce(tdf2.df, 0) + 0.5) /
        |             (coalesce(tdf2.df, 0) + 0.5) + 1.0) AS idf
        |        FROM q2 LEFT JOIN tdf2 USING (term), st),
        |c2 AS (SELECT qi2.query_id, dl.doc_id, qi2.ti,
        |        CAST(len(list_filter(dl.toks, x -> x = qi2.term)) AS DOUBLE) AS tf,
        |        qi2.idf * (CAST(len(list_filter(dl.toks, x -> x = qi2.term)) AS DOUBLE) * 2.2) /
        |          (CAST(len(list_filter(dl.toks, x -> x = qi2.term)) AS DOUBLE) +
        |           1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)) AS contrib
        |      FROM dl, qi2, st),
        |s2 AS (SELECT query_id, doc_id,
        |        list_sum(list(contrib ORDER BY ti)) AS score,
        |        CAST(sum(tf) AS BIGINT) AS hits
        |      FROM c2 GROUP BY query_id, doc_id)
        |SELECT query_id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, doc_id) AS INTEGER) AS rnk,
        |  doc_id, hits
        |FROM s2 WHERE hits > 0
        |QUALIFY rnk <= 10""".stripMargin), bench = true),

    // ROUGE-2 overlap scoring (Lin 2004): each doc's planted "summary"
    // (its first 12 tokens, plus a novel tail on doc_id%3) scored against
    // the full text — clipped bigram-type match + totals as EXACT
    // integers, precision/recall/f1 as single IEEE divisions of them.
    // The corpus-scale eval step of a summarization/distillation
    // pipeline.
    // ROUGE-2 replay: same candidate derivation, clipped-count match over
    // shared bigram types, totals, and the engine's exact division order
    // (p, r named in a layer so f1 reuses the identical doubles)
    Q("q_rouge2", (s, dir) => {
      val toks = TextFunctions.tokens(col("text"))
      val cand = concat(concat_ws(" ", slice(toks, 1, 12)),
        when(col("doc_id") % 3 === 0, lit(" novel summary tail tokens"))
          .otherwise(lit("")))
      graft.operators.Retrieval.rougeN(
        t(s, dir, "documents").select(col("doc_id"), col("text"),
          cand.as("cand")), n = 2)
    }, sql(
      """WITH pr AS (
        |  SELECT doc_id,
        |    array_to_string(regexp_split_to_array(trim(text), '\s+')[1:12], ' ')
        |      || CASE WHEN doc_id % 3 = 0 THEN ' novel summary tail tokens'
        |              ELSE '' END AS cand,
        |    text FROM documents),
        |cgr AS (SELECT doc_id, bg, count(*) AS cc FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(a)),
        |             i -> a[i] || ' ' || a[i+1])) AS bg
        |    FROM (SELECT doc_id, regexp_split_to_array(trim(cand), '\s+') AS a
        |          FROM pr)) GROUP BY 1, 2),
        |rgr AS (SELECT doc_id, bg, count(*) AS rc FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(a)),
        |             i -> a[i] || ' ' || a[i+1])) AS bg
        |    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
        |          FROM pr)) GROUP BY 1, 2),
        |m AS (SELECT doc_id, CAST(sum(least(cc, rc)) AS BIGINT) AS match_n
        |      FROM cgr JOIN rgr USING (doc_id, bg) GROUP BY 1),
        |ct AS (SELECT doc_id, CAST(sum(cc) AS BIGINT) AS cand_n FROM cgr GROUP BY 1),
        |rt AS (SELECT doc_id, CAST(sum(rc) AS BIGINT) AS ref_n FROM rgr GROUP BY 1),
        |base AS (SELECT d.doc_id,
        |    coalesce(m.match_n, 0) AS match_n,
        |    coalesce(ct.cand_n, 0) AS cand_n,
        |    coalesce(rt.ref_n, 0) AS ref_n
        |  FROM documents d
        |  LEFT JOIN m USING (doc_id) LEFT JOIN ct USING (doc_id)
        |  LEFT JOIN rt USING (doc_id)),
        |sc AS (SELECT *,
        |    CASE WHEN cand_n > 0
        |         THEN CAST(match_n AS DOUBLE) / CAST(cand_n AS DOUBLE)
        |         ELSE 0.0e0 END AS p,
        |    CASE WHEN ref_n > 0
        |         THEN CAST(match_n AS DOUBLE) / CAST(ref_n AS DOUBLE)
        |         ELSE 0.0e0 END AS r
        |  FROM base)
        |SELECT doc_id, match_n, cand_n, ref_n,
        |  p AS "precision", r AS recall,
        |  CASE WHEN p + r > 0.0e0 THEN 2.0e0 * p * r / (p + r)
        |       ELSE 0.0e0 END AS f1
        |FROM sc""".stripMargin), bench = true),

    // Hybrid retrieval: BM25 lexical ranks fused with dense cosine ranks by
    // reciprocal-rank fusion (each query string paired with a probe vector
    // via a broadcast literal map). The fused score is Σ 1/(60+rank) —
    // exact-integer divisions folded in system order, so unlike the raw
    // BM25 score it IS hashable cross-engine.
    Q("q_hybrid_rank", (s, dir) => {
      val lex = graft.operators.Retrieval.bm25TopK(t(s, dir, "documents"), Seq(
        "fast table scan" -> Seq("fast", "table", "scan"),
        "join merge sort" -> Seq("join", "merge", "sort"),
        "stream window agg" -> Seq("stream", "window", "agg")), k = 20)
        .select(col("query_id"), col("doc_id"), col("rnk"))
      val qmap = s.createDataFrame(Seq(
        ("fast table scan", 0L), ("join merge sort", 1L),
        ("stream window agg", 2L))).toDF("query_id", "probe_id")
      val emb = t(s, dir, "embeddings")
      val dense = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 3), emb, k = 20)
        .join(broadcast(qmap), col("q_id") === col("probe_id"))
        .select(col("query_id"), col("n_id").as("doc_id"),
          col("rank").cast("int").as("rnk"))
      graft.operators.Retrieval.reciprocalRankFusion(
        Seq("dense" -> dense, "lexical" -> lex), k = 10)
    }, sql(
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |           FROM documents),
        |dl AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM d),
        |st AS (SELECT count(*) AS n_docs,
        |              CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |q(query_id, ti, term) AS (VALUES
        |  ('fast table scan', 0, 'fast'), ('fast table scan', 1, 'table'),
        |  ('fast table scan', 2, 'scan'),
        |  ('join merge sort', 0, 'join'), ('join merge sort', 1, 'merge'),
        |  ('join merge sort', 2, 'sort'),
        |  ('stream window agg', 0, 'stream'), ('stream window agg', 1, 'window'),
        |  ('stream window agg', 2, 'agg')),
        |tdf AS (SELECT t.term, count(*) AS df
        |        FROM (SELECT DISTINCT term FROM q) t
        |        JOIN dl ON list_contains(dl.toks, t.term)
        |        GROUP BY t.term),
        |qi AS (SELECT q.query_id, q.ti, q.term,
        |         ln((st.n_docs - coalesce(tdf.df, 0) + 0.5) /
        |            (coalesce(tdf.df, 0) + 0.5) + 1.0) AS idf
        |       FROM q LEFT JOIN tdf USING (term), st),
        |c AS (SELECT qi.query_id, dl.doc_id, qi.ti,
        |        CAST(len(list_filter(dl.toks, x -> x = qi.term)) AS DOUBLE) AS tf,
        |        qi.idf * (CAST(len(list_filter(dl.toks, x -> x = qi.term)) AS DOUBLE) * 2.2) /
        |          (CAST(len(list_filter(dl.toks, x -> x = qi.term)) AS DOUBLE) +
        |           1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)) AS contrib
        |      FROM dl, qi, st),
        |lexs AS (SELECT query_id, doc_id,
        |        list_sum(list(contrib ORDER BY ti)) AS score,
        |        CAST(sum(tf) AS BIGINT) AS hits
        |      FROM c GROUP BY query_id, doc_id),
        |lex AS (SELECT query_id, doc_id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, doc_id) AS INTEGER) AS rnk
        |  FROM lexs WHERE hits > 0
        |  QUALIFY rnk <= 20),
        |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |sc AS (
        |  SELECT qv.vec_id AS q_id, cv.vec_id AS n_id,
        |    list_sum(list_transform(list_zip(qv.e, cv.e), z -> z[1] * z[2])) /
        |      (sqrt(list_sum(list_transform(qv.e, x -> x * x))) *
        |       sqrt(list_sum(list_transform(cv.e, x -> x * x)))) AS cos
        |  FROM v qv JOIN v cv ON qv.vec_id != cv.vec_id
        |  WHERE qv.vec_id < 3),
        |dense AS (SELECT
        |    CASE q_id WHEN 0 THEN 'fast table scan'
        |              WHEN 1 THEN 'join merge sort'
        |              ELSE 'stream window agg' END AS query_id,
        |    n_id AS doc_id,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY cos DESC, n_id) AS INTEGER) AS rnk
        |  FROM sc QUALIFY rnk <= 20),
        |u AS (SELECT query_id, doc_id, 'dense' AS system, rnk FROM dense
        |      UNION ALL
        |      SELECT query_id, doc_id, 'lexical' AS system, rnk FROM lex),
        |f AS (SELECT query_id, doc_id,
        |        list_sum(list(1.0 / (60 + rnk) ORDER BY system)) AS score,
        |        CAST(count(*) AS INTEGER) AS n_systems
        |      FROM u GROUP BY query_id, doc_id)
        |SELECT query_id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, doc_id) AS INTEGER) AS rnk,
        |  doc_id, score, n_systems
        |FROM f QUALIFY rnk <= 10""".stripMargin), bench = true),

    // ANN paths under full oracles: annLsh candidates are exactly
    // {sig-hamming(q, n) <= 1} (one-sided multi-probe over seeded planes);
    // annIvf reproduces the trained centroids as SQL literals via
    // Similarity.lastIvfRun. Recall vs brute force stays in SimilaritySpec.
    // Candidate set of the one-sided multi-probe LSH: corpus rows keep their
    // own signature bucket, queries probe theirs + all hamming-1 flips, so a
    // pair joins iff the two signatures differ in <= 1 plane bit. The planes
    // are the engine's own seeded constants (VectorFunctions.makePlanes).
    Q("q_sim_ann", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.annLsh(emb.filter(col("vec_id") < 10), emb, k = 5, nPlanes = 6, dim = 64)
    }, sql({
      val planes = graft.functions.VectorFunctions.makePlanes(6, 64)
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |b AS (SELECT vec_id, e, ${sqlLshBucket(planes)} AS bucket FROM v),
         |sc AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, ${sqlCos("q", "c")} AS cos
         |  FROM b q JOIN b c ON q.vec_id != c.vec_id
         |    AND bit_count(xor(q.bucket, c.bucket)) <= 1
         |  WHERE q.vec_id < 10)
         |SELECT q_id, n_id, rank, cos FROM (
         |  SELECT q_id, n_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rank
         |  FROM sc)
         |WHERE rank <= 5""".stripMargin
    }), bench = true),

    Q("q_sim_ivf", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.annIvf(emb.filter(col("vec_id") < 10), emb, k = 5, nlist = 16, nprobe = 4)
    }, fitted(ivfOracle), bench = true),

    // IVF-PQ: the full FAISS-style composition — coarse cells route, ADC
    // over codes ranks; one scan-local pass builds the (cell, codes)
    // index frame, per-query work is nprobe/nlist of the corpus x m map
    // lookups. Both quantizers first-rows-deterministic => static oracle.
    // IVF-PQ: cosine coarse assignment (cluster_assign's CTE, rn=1 for
    // corpus cells / rn<=nprobe for query probes), PQ codes + distance
    // tables from the shared `d` relation, cell-joined ADC score chain.
    Q("q_sim_ivfpq", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqSearch(emb.filter(col("vec_id") < 10), emb, topK = 5)
    }, sql(
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |cent AS (SELECT vec_id AS ccid, e FROM v ORDER BY vec_id LIMIT 16),
         |ca AS (SELECT v.vec_id, cent.ccid, ${sqlCos("v", "cent")} AS cos
         |       FROM v, cent),
         |cr AS (SELECT vec_id, ccid,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, ccid) AS rn
         |       FROM ca),
         |cells AS (SELECT vec_id, ccid AS cell FROM cr WHERE rn = 1),
         |probes AS (SELECT vec_id AS q_id, ccid AS cell FROM cr
         |           WHERE rn <= 4 AND vec_id < 10),
         |cb AS (SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT 16),
         |js AS (SELECT unnest(range(0, 4)) AS j),
         |sub AS (SELECT v.vec_id, js.j, v.e[js.j*16+1 : js.j*16+16] AS se
         |        FROM v CROSS JOIN js),
         |cs AS (SELECT cb.cid, js.j, cb.ce[js.j*16+1 : js.j*16+16] AS ce
         |       FROM cb CROSS JOIN js),
         |d AS (SELECT s.vec_id, s.j, c.cid,
         |        list_sum(list_transform(list_zip(s.se, c.ce),
         |          z -> (z[1] - z[2]) * (z[1] - z[2]))) AS d2
         |      FROM sub s JOIN cs c ON s.j = c.j),
         |a AS (SELECT vec_id, j, cid,
         |        row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, cid) AS rn
         |      FROM d),
         |codes AS (SELECT vec_id, j, cid FROM a WHERE rn = 1),
         |score AS (
         |  SELECT p.q_id, n.vec_id AS n_id,
         |    max(CASE WHEN c.j = 0 THEN q.d2 END)
         |      + max(CASE WHEN c.j = 1 THEN q.d2 END)
         |      + max(CASE WHEN c.j = 2 THEN q.d2 END)
         |      + max(CASE WHEN c.j = 3 THEN q.d2 END) AS adc_d2
         |  FROM probes p
         |  JOIN cells n ON n.cell = p.cell AND n.vec_id != p.q_id
         |  JOIN codes c ON c.vec_id = n.vec_id
         |  JOIN d q ON q.vec_id = p.q_id AND q.j = c.j AND q.cid = c.cid
         |  GROUP BY 1, 2),
         |r AS (SELECT q_id, n_id, adc_d2,
         |        row_number() OVER (PARTITION BY q_id ORDER BY adc_d2, n_id) AS rank
         |      FROM score)
         |SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank, adc_d2
         |FROM r WHERE rank <= 5""".stripMargin), bench = true),

    // Recall@5 of the LSH ANN against brute force, as a GATED metric (not
    // just a spec): the index-tuning readout, metric-sized joins only.
    // Recall metric: both member oracles inlined as CTEs (the LSH
    // candidate set and the brute-force ranking), hit-join, exact-integer
    // counts, one IEEE division.
    Q("q_ann_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.recallAtK(
        Similarity.annLsh(emb.filter(col("vec_id") < 10), emb, k = 5,
          nPlanes = 6, dim = 64),
        Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 5),
        k = 5)
    }, sql({
      val planes = graft.functions.VectorFunctions.makePlanes(6, 64)
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |b AS (SELECT vec_id, e, ${sqlLshBucket(planes)} AS bucket FROM v),
         |appx AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY ${sqlCos("q", "c")} DESC, c.vec_id) AS rank
         |    FROM b q JOIN b c ON q.vec_id != c.vec_id
         |      AND bit_count(xor(q.bucket, c.bucket)) <= 1
         |    WHERE q.vec_id < 10)
         |  WHERE rank <= 5),
         |ex AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY ${sqlCos("q", "c")} DESC, c.vec_id) AS rank
         |    FROM v q JOIN v c ON q.vec_id != c.vec_id
         |    WHERE q.vec_id < 10)
         |  WHERE rank <= 5),
         |j AS (SELECT e.q_id, CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         |      FROM ex e LEFT JOIN appx a ON a.q_id = e.q_id AND a.n_id = e.n_id)
         |SELECT q_id, CAST(sum(hit) AS BIGINT) AS hits,
         |  CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(sum(hit) AS DOUBLE) / count(*) AS recall
         |FROM j GROUP BY q_id""".stripMargin
    }), bench = true),

    // MMR diversified re-rank: greedy λ-tradeoff between query relevance
    // and max similarity to already-selected results over a top-15
    // candidate frame — everything metric-sized, k−1 keyed-agg rounds.
    Q("q_mmr_rerank", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cand = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 15)
      Similarity.mmrRerank(cand, emb, k = 5, lambda = 0.7)
    }, sql(mmrOracleSql(k = 5, lambda = 0.7, nCand = 15, nQ = 10)), bench = true),

    // The PQ quality KNOB under the gate: recall@5 of ADC search with a
    // kmeansIterate-REFINED codebook vs the first-k-by-id seeded default,
    // side by side per query. The refined centroid frame is k rows of
    // driver-bounded metadata — collected once both to rebuild a literal
    // codebook source (so the search provably consumes exactly the doubles
    // the oracle embeds) and for the oracle entry (the ivfOracle pattern).
    // Not a headliner: its cost is 20 tiny training jobs, not a plan to track.
    Q("q_ann_recall_refined", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents: Array[(Long, Array[Double])] =
        Similarity.pqTrainCodebooks(emb, m = 4, k = 16, dim = 64, rounds = 5)
          .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      refinedCents = Some(cents)
      import s.implicits._
      val cbSrc = cents.toSeq.toDF("vec_id", "embedding")
      // 50 queries: at 10 the recall difference drowns in 0.2-step noise
      // (measured in tools/PqTrainProbe: 50q recall 0.144 seeded ->
      // 0.176 @ 5 rounds, distortion 1.059 -> 0.722)
      val qs = emb.filter(col("vec_id") < 50)
      val exact = Similarity.bruteForceTopK(qs, emb, k = 5)
      val refined = Similarity.pqSearch(qs, emb, m = 4, k = cents.length,
        dim = 64, topK = 5, codebookSource = Some(cbSrc))
      val seeded = Similarity.pqSearch(qs, emb, m = 4, k = 16, dim = 64,
        topK = 5)
      val rr = Similarity.recallAtK(refined, exact, k = 5)
        .select(col("q_id"), col("hits").as("hits_refined"),
          col("n_exact"), col("recall").as("recall_refined"))
      val rs = Similarity.recallAtK(seeded, exact, k = 5)
        .select(col("q_id"), col("hits").as("hits_seeded"),
          col("recall").as("recall_seeded"))
      rr.join(rs, Seq("q_id"))
    }, fitted(refinedRecallOracle)),
  )
}
