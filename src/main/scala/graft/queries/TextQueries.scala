package graft
package queries

import graft.functions.TextFunctions
import graft.operators.{Curation, Dedup}
import org.apache.spark.sql.functions._
import Kit._
import Q._

/** Text analysis for training-data pipelines: language id, quality
  * signals and filters, PII, tokenizer training and encoding, n-gram
  * language models and importance weights. */
private[graft] object TextQueries {

  /** Deterministic decoration for the q_gopher gate: the synthetic corpus
    * has no bullets/symbols/numerals, so each rule's trigger is planted on
    * a doc_id schedule — identically in the oracle SQL (q_redact's
    * injection pattern). %23: the whole doc becomes one bullet line
    * (bullet-fraction rule); %9: a '#' symbol; %6: trailing '...'
    * (symbol + ellipsis-line rules); %17: numeric tokens (alpha-fraction
    * rule). */
  private def gopherDecoratedText: org.apache.spark.sql.Column = concat(
    when(col("doc_id") % 23 === 0, lit("- ")).otherwise(lit("")),
    when(col("doc_id") % 9 === 0, lit("# ")).otherwise(lit("")),
    col("text"),
    when(col("doc_id") % 6 === 0, lit(" ...")).otherwise(lit("")),
    when(col("doc_id") % 17 === 0,
      lit(" 123 456 789 000 111 222 333 444 555 666")).otherwise(lit("")))

  /** Deterministic line structure for the q_c4_filter gate: sentence breaks
    * after 'table'/'row' turn the single-line synthetic docs into
    * multi-line pages whose last line lacks terminal punctuation; page- and
    * line-level triggers (lorem ipsum, a too-short line, a javascript
    * line, curly braces) planted on a doc_id schedule, identically in the
    * oracle SQL. */
  private def c4DerivedText: org.apache.spark.sql.Column = concat(
    when(col("doc_id") % 7 === 0,
      lit("lorem ipsum filler text here.\n")).otherwise(lit("")),
    when(col("doc_id") % 11 === 0, lit("too short.\n")).otherwise(lit("")),
    when(col("doc_id") % 13 === 0,
      lit("this page uses javascript heavily.\n")).otherwise(lit("")),
    regexp_replace(col("text"), "(table|row) ", "$1.\n"),
    when(col("doc_id") % 5 === 0,
      lit("\nif (x) { return; }")).otherwise(lit("")))

  /** q_perplexity_* references: the interpolated-KN scorer replayed in
    * SQL — the engine's exact bigram derivation (q_bigram_kn's), the
    * same double op order inside the ln, per-TYPE 1e-6 fixed point,
    * integer rollup. `refWhere` selects the model corpus; `thrMicros`
    * adds the filter's integer keep compare. */
  private def perplexityOracleSql(
      refWhere: String, thrMicros: Option[Long]): String = {
    val keepCol = thrMicros.map(t =>
      s""",
         |  coalesce(sc.sum_lp_q, 0) >= $t * coalesce(sc.n_bigrams, 0) AS keep"""
        .stripMargin).getOrElse("")
    s"""WITH arr AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS a
       |  FROM documents),
       |bgd AS (SELECT doc_id, unnest(list_transform(range(1, len(a)),
       |          i -> a[i] || ' ' || a[i+1])) AS bg FROM arr),
       |occ AS (SELECT doc_id, split_part(bg, ' ', 1) AS w1,
       |          split_part(bg, ' ', 2) AS w2, CAST(count(*) AS BIGINT) AS cnt
       |        FROM bgd GROUP BY 1, 2, 3),
       |rbg AS (SELECT unnest(list_transform(range(1, len(a)),
       |          i -> a[i] || ' ' || a[i+1])) AS bg
       |        FROM arr WHERE $refWhere),
       |c AS (SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
       |        CAST(count(*) AS BIGINT) AS c2 FROM rbg GROUP BY 1, 2),
       |pre AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS cpre,
       |          CAST(count(*) AS BIGINT) AS n1fwd FROM c GROUP BY 1),
       |bk AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1back FROM c GROUP BY 1),
       |ty AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM c),
       |lp AS (SELECT c.w1, c.w2, CAST(round(ln(
       |          greatest(CAST(c2 AS DOUBLE) - 0.75, 0.0) / CAST(cpre AS DOUBLE)
       |          + ((0.75 * CAST(n1fwd AS DOUBLE)) / CAST(cpre AS DOUBLE))
       |            * (CAST(n1back AS DOUBLE) / CAST(ty.n_types AS DOUBLE)))
       |          * 1000000.0) AS BIGINT) AS lp_q
       |       FROM c JOIN pre USING (w1) JOIN bk USING (w2) CROSS JOIN ty),
       |fb AS (SELECT CAST(round(ln(1.0 / CAST(n_types AS DOUBLE)) * 1000000.0)
       |          AS BIGINT) AS lp_unseen FROM ty),
       |sc AS (SELECT occ.doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
       |         CAST(sum(cnt * coalesce(lp.lp_q, fb.lp_unseen)) AS BIGINT) AS sum_lp_q
       |       FROM occ LEFT JOIN lp USING (w1, w2) CROSS JOIN fb GROUP BY 1)
       |SELECT d.doc_id, coalesce(sc.n_bigrams, 0) AS n_bigrams,
       |  coalesce(sc.sum_lp_q, 0) AS sum_lp_q$keepCol
       |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin
  }

  /** q_perplexity3: the trigram interpolated-KN cascade replayed — one
    * trigram census from the doc_id%3 reference slice, every model table
    * derived from it, and the score-time CASE backoff in the engine's
    * exact double op order (p1/p2 spliced as shared snippets so every
    * branch states identical arithmetic). */
  private val perplexity3Sql = {
    val p1 = "CAST(coalesce(u3, 1) AS DOUBLE) / CAST(uu AS DOUBLE)"
    val lam2 = "((0.75e0 * CAST(m2 AS DOUBLE)) / CAST(b2 AS DOUBLE))"
    val p2 = s"CASE WHEN b23 IS NOT NULL THEN " +
      s"greatest(CAST(b23 AS DOUBLE) - 0.75e0, 0.0e0) / CAST(b2 AS DOUBLE) " +
      s"+ $lam2 * $p1 ELSE $lam2 * $p1 END"
    val lam3 = "((0.75e0 * CAST(n12 AS DOUBLE)) / CAST(c12 AS DOUBLE))"
    s"""WITH ref AS (
       |  SELECT regexp_split_to_array(trim(text), '\\s+') AS a
       |  FROM documents WHERE doc_id % 3 = 0),
       |rt AS (SELECT a[i] AS w1, a[i+1] AS w2, a[i+2] AS w3
       |       FROM ref, UNNEST(range(1, greatest(len(a) - 2, 0) + 1)) r(i)),
       |cen AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS t3
       |        FROM rt GROUP BY 1, 2, 3),
       |cc12 AS (SELECT w1, w2, CAST(sum(t3) AS BIGINT) AS c12,
       |           CAST(count(*) AS BIGINT) AS n12 FROM cen GROUP BY 1, 2),
       |tt2 AS (SELECT w2, w3, CAST(count(*) AS BIGINT) AS b23
       |        FROM cen GROUP BY 1, 2),
       |cc2 AS (SELECT w2, CAST(sum(b23) AS BIGINT) AS b2,
       |          CAST(count(*) AS BIGINT) AS m2 FROM tt2 GROUP BY 1),
       |uu1 AS (SELECT w3, CAST(count(*) AS BIGINT) AS u3 FROM tt2 GROUP BY 1),
       |ut AS (SELECT CAST(count(*) AS BIGINT) AS uu FROM tt2),
       |occ AS (SELECT doc_id, w1, w2, w3, CAST(count(*) AS BIGINT) AS cnt
       |        FROM (SELECT doc_id, a[i] AS w1, a[i+1] AS w2, a[i+2] AS w3
       |              FROM (SELECT doc_id,
       |                      regexp_split_to_array(trim(text), '\\s+') AS a
       |                    FROM documents),
       |                   UNNEST(range(1, greatest(len(a) - 2, 0) + 1)) r(i))
       |        GROUP BY 1, 2, 3, 4),
       |j AS (SELECT occ.doc_id, occ.cnt, cen.t3, cc12.c12, cc12.n12,
       |        tt2.b23, cc2.b2, cc2.m2, uu1.u3, ut.uu
       |      FROM occ LEFT JOIN cen USING (w1, w2, w3)
       |      LEFT JOIN cc12 USING (w1, w2) LEFT JOIN tt2 USING (w2, w3)
       |      LEFT JOIN cc2 USING (w2) LEFT JOIN uu1 USING (w3) CROSS JOIN ut),
       |lp AS (SELECT doc_id, cnt, CAST(round(ln(
       |    CASE WHEN t3 IS NOT NULL THEN
       |           greatest(CAST(t3 AS DOUBLE) - 0.75e0, 0.0e0)
       |             / CAST(c12 AS DOUBLE) + $lam3 * ($p2)
       |         WHEN c12 IS NOT NULL THEN $lam3 * ($p2)
       |         WHEN b2 IS NOT NULL THEN $p2
       |         ELSE $p1 END) * 1000000.0e0) AS BIGINT) AS lp_q
       |  FROM j),
       |sc AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_trigrams,
       |         CAST(sum(cnt * lp_q) AS BIGINT) AS sum_lp_q
       |       FROM lp GROUP BY 1)
       |SELECT d.doc_id, coalesce(sc.n_trigrams, 0) AS n_trigrams,
       |  coalesce(sc.sum_lp_q, 0) AS sum_lp_q
       |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin
  }

  /** q_dsir_* references: the hashed-bigram importance-weight replay —
    * the engine's exact feature derivation (bigrams to 256 md5 buckets),
    * Laplace-smoothed per-bucket log-ratio at 1e-6 fixed point, integer
    * per-doc rollup; `thrMicros` adds the mean-log-ratio keep compare. */
  private def dsirOracleSql(thrMicros: Option[Long]): String = {
    val keepCol = thrMicros.map(t =>
      s""",
         |  coalesce(sc.score_q, 0) >= $t * coalesce(sc.n_feats, 0) AS keep"""
        .stripMargin).getOrElse("")
    s"""WITH arr AS (
       |  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS a
       |  FROM documents),
       |bgd AS (SELECT doc_id, lang, unnest(list_transform(range(1, len(a)),
       |          i -> a[i] || ' ' || a[i+1])) AS bg FROM arr),
       |f AS (SELECT doc_id, lang,
       |        CAST(('0x' || substr(md5(bg), 1, 15))::UBIGINT % 256 AS BIGINT) AS b
       |      FROM bgd),
       |pd AS (SELECT doc_id, lang, b, CAST(count(*) AS BIGINT) AS cnt
       |       FROM f GROUP BY 1, 2, 3),
       |cen AS (SELECT b,
       |          CAST(sum(CASE WHEN lang = 'en' THEN cnt ELSE 0 END) AS BIGINT) AS ct,
       |          CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE cnt END) AS BIGINT) AS cs
       |        FROM pd GROUP BY 1),
       |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
       |          CAST(sum(cs) AS BIGINT) AS ns FROM cen),
       |lr AS (SELECT b, CAST(round((
       |          ln(CAST(ct + 1 AS DOUBLE) / (CAST(nt AS DOUBLE) + 256.0))
       |          - ln(CAST(cs + 1 AS DOUBLE) / (CAST(ns AS DOUBLE) + 256.0)))
       |          * 1000000.0) AS BIGINT) AS lr_q
       |       FROM cen CROSS JOIN tot),
       |sc AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_feats,
       |         CAST(sum(cnt * lr_q) AS BIGINT) AS score_q
       |       FROM pd JOIN lr USING (b) GROUP BY 1)
       |SELECT d.doc_id, coalesce(sc.n_feats, 0) AS n_feats,
       |  coalesce(sc.score_q, 0) AS score_q$keepCol
       |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin
  }

  /** q_unigram_* references: the unigram-LM EM replayed in SQL. Each
    * round is one integer-score CTE + a RECURSIVE Viterbi CTE carrying
    * per-word (best, back) arrays one position per iteration (candidates
    * = 4 piece-length LEFT JOINs; ties pick the largest length = the
    * engine's smallest-start rule) + a back-pointer walk + the M-step
    * count/prune. `mode` selects the readout: the final piece inventory
    * (train), the seed table, or one extra segmentation pass joined back
    * onto documents (encode). */
  private def unigramOracleSql(
      rounds: Int, maxLen: Int, minSeed: Long, mode: String): String = {
    val NEG = "-4611686018427387904"
    def scoreBlock(r: Int): String =
      s"""s$r AS (SELECT piece,
         |  CAST(round(ln(CAST(cnt AS DOUBLE) / (SELECT sum(cnt) FROM p${r - 1})) * 1000000)
         |    AS BIGINT) AS sc
         |  FROM p${r - 1})""".stripMargin
    def viterbiBlock(r: Int): String = {
      val cands = (1 to maxLen).map(d =>
        s"""CASE WHEN v.j + 1 - $d >= 0 AND sd$d.sc IS NOT NULL
           |             THEN bl[v.j + 2 - $d] + sd$d.sc ELSE NULL END AS cand$d""".stripMargin)
        .mkString(",\n        ")
      val joins = (1 to maxLen).map(d =>
        s"  LEFT JOIN s$r sd$d ON v.j + 1 - $d >= 0 AND sd$d.piece = substr(v.w, v.j + 2 - $d, $d)")
        .mkString("\n")
      val greatest = (1 to maxLen).map(d => s"coalesce(cand$d, $NEG)").mkString(", ")
      val backcase = (maxLen to 2 by -1).map(d =>
        s"      WHEN cand$d IS NOT NULL AND cand$d = best THEN j + 1 - $d")
        .mkString("\n")
      val candList = (1 to maxLen).map(d => s"cand$d").mkString(", ")
      s"""vit$r AS (
         |  SELECT w, wf, 0 AS j, [CAST(0 AS BIGINT)] AS bl, CAST([] AS INT[]) AS kl
         |  FROM wf
         |  UNION ALL
         |  SELECT w, wf, j + 1, list_append(bl, best),
         |    list_append(kl, CAST(
         |      CASE
         |$backcase
         |      ELSE j END AS INT))
         |  FROM (
         |    SELECT w, wf, j, bl, kl, greatest($greatest) AS best,
         |      $candList
         |    FROM (
         |      SELECT v.w, v.wf, v.j, v.bl, v.kl,
         |        $cands
         |      FROM vit$r v
         |$joins
         |      WHERE v.j < length(v.w)) c) g),
         |vfin$r AS (SELECT w, wf, kl FROM vit$r WHERE j = length(w)),
         |walk$r AS (
         |  SELECT w, wf, length(w) AS pos, kl FROM vfin$r
         |  UNION ALL
         |  SELECT w, wf, kl[pos] AS pos, kl FROM walk$r WHERE pos > 0)""".stripMargin
    }
    def mStep(r: Int): String =
      s"""used$r AS (
         |  SELECT substr(w, kl[pos] + 1, pos - kl[pos]) AS piece,
         |    CAST(sum(wf) AS BIGINT) AS cnt
         |  FROM walk$r WHERE pos > 0 GROUP BY 1),
         |p$r AS (
         |  SELECT pr.piece,
         |    CAST(CASE WHEN length(pr.piece) = 1 THEN greatest(coalesce(u.cnt, 0), 1)
         |         ELSE u.cnt END AS BIGINT) AS cnt
         |  FROM p${r - 1} pr LEFT JOIN used$r u USING (piece)
         |  WHERE length(pr.piece) = 1 OR coalesce(u.cnt, 0) > 0)""".stripMargin
    val base =
      s"""WITH RECURSIVE wf AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS wf FROM (
         |    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w FROM documents)
         |  WHERE length(w) >= 1 GROUP BY w),
         |p0 AS (
         |  SELECT piece, CAST(sum(wf) AS BIGINT) AS cnt FROM (
         |    SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS piece, wf
         |    FROM wf,
         |         UNNEST(range(1, length(w) + 1)) r(i),
         |         UNNEST(range(1, least($maxLen, length(w) - i + 1) + 1)) r2(l))
         |  GROUP BY piece
         |  HAVING length(piece) = 1 OR sum(wf) >= $minSeed)""".stripMargin
    if (mode == "seed") return base + "\nSELECT piece, cnt FROM p0"
    val roundBlocks = (1 to rounds)
      .map(r => scoreBlock(r) + ",\n" + viterbiBlock(r) + ",\n" + mStep(r))
      .mkString(",\n")
    if (mode == "train")
      base + ",\n" + roundBlocks + s"\nSELECT piece, cnt FROM p$rounds"
    else { // encode: one more segmentation pass under the final scores
      val r = rounds + 1
      base + ",\n" + roundBlocks + ",\n" +
        scoreBlock(r) + ",\n" + viterbiBlock(r) + ",\n" +
        s"""nsub AS (SELECT w, CAST(count(*) AS BIGINT) AS n_sub
           |         FROM walk$r WHERE pos > 0 GROUP BY w),
           |docw AS (SELECT doc_id, w FROM (
           |    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
           |    FROM documents) WHERE length(w) >= 1)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           |  CAST(sum(n_sub) AS BIGINT) AS n_subtokens
           |FROM docw JOIN nsub USING (w) GROUP BY doc_id""".stripMargin
    }
  }

  /** q_wordpiece_* reference: the same role-split census, then the greedy
    * longest-match walk replayed from a STATIC per-(word, offset)
    * longest-match table — greedy is memoryless, so no path search; the
    * recursion only advances the cursor. */
  private def wordpieceOracleSql(maxLen: Int, minCount: Long, mode: String): String = {
    val base =
      s"""WITH RECURSIVE wf AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS wf FROM (
         |    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w FROM documents)
         |  WHERE length(w) >= 1 GROUP BY w),
         |voc AS (
         |  SELECT piece, is_cont, CAST(sum(wf) AS BIGINT) AS cnt FROM (
         |    SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS piece,
         |           i > 1 AS is_cont, wf
         |    FROM wf,
         |         UNNEST(range(1, length(w) + 1)) r(i),
         |         UNNEST(range(1, least($maxLen, length(w) - i + 1) + 1)) r2(l))
         |  GROUP BY piece, is_cont
         |  HAVING length(piece) = 1 OR sum(wf) >= $minCount)""".stripMargin
    if (mode == "vocab") base + "\nSELECT piece, is_cont, cnt FROM voc"
    else base + s""",
       |best AS (
       |  SELECT w, pos, max(len) AS len FROM (
       |    SELECT c.w, c.pos, length(v.piece) AS len
       |    FROM (SELECT wf.w, CAST(p.pos AS INT) AS pos
       |          FROM wf, UNNEST(range(0, length(wf.w))) p(pos)) c
       |    JOIN voc v ON v.is_cont = (c.pos > 0)
       |      AND substr(c.w, c.pos + 1, length(v.piece)) = v.piece)
       |  GROUP BY w, pos),
       |walk AS (
       |  SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS n_sub FROM wf
       |  UNION ALL
       |  SELECT s.w, s.pos + CAST(b.len AS INT), s.n_sub + 1
       |  FROM walk s JOIN best b ON b.w = s.w AND b.pos = s.pos
       |  WHERE s.pos < length(s.w)),
       |nsub AS (SELECT w, n_sub FROM walk WHERE pos = length(w)),
       |docw AS (SELECT doc_id, w FROM (
       |    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
       |    FROM documents) WHERE length(w) >= 1)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(n_sub) AS BIGINT) AS n_subtokens
       |FROM docw JOIN nsub USING (w) GROUP BY doc_id""".stripMargin
  }

  /** q_train_perceptron / q_train_margins reference: the full-batch
    * perceptron UNROLLED epoch for epoch — postings (+ bias bucket −1),
    * ±1 labels, then per epoch the integer margin pass, the
    * misclassified-docs (y·m ≤ 0) subgradient, and the weight update.
    * Pure integer arithmetic: no tolerance anywhere. */
  private def perceptronOracleSql(
      buckets: Int, epochs: Int, mode: String): String = {
    val base =
      s"""WITH tk AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
         |  FROM documents),
         |p AS (
         |  SELECT doc_id,
         |    CAST(('0x' || substr(md5(t), 1, 15))::UBIGINT % $buckets AS BIGINT) AS b,
         |    CAST(count(*) AS BIGINT) AS x
         |  FROM tk WHERE length(t) >= 1 GROUP BY 1, 2
         |  UNION ALL
         |  SELECT doc_id, CAST(-1 AS BIGINT), CAST(1 AS BIGINT) FROM documents),
         |y AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y
         |      FROM documents),
         |w0 AS (SELECT DISTINCT b, CAST(0 AS BIGINT) AS w FROM p)""".stripMargin
    val rounds = (1 to epochs).map { r =>
      s"""m$r AS (SELECT p.doc_id, CAST(sum(p.x * w${r - 1}.w) AS BIGINT) AS m
         |        FROM p JOIN w${r - 1} USING (b) GROUP BY 1),
         |g$r AS (SELECT p.b, CAST(sum(y.y * p.x) AS BIGINT) AS g
         |        FROM p JOIN m$r USING (doc_id) JOIN y USING (doc_id)
         |        WHERE y.y * m$r.m <= 0 GROUP BY 1),
         |w$r AS (SELECT w${r - 1}.b, w${r - 1}.w + coalesce(g$r.g, 0) AS w
         |        FROM w${r - 1} LEFT JOIN g$r USING (b))""".stripMargin
    }.mkString(",\n")
    if (mode == "weights")
      base + ",\n" + rounds + s"\nSELECT b, CAST(w AS BIGINT) AS w FROM w$epochs"
    else
      base + ",\n" + rounds + s""",
         |mf AS (SELECT p.doc_id, CAST(sum(p.x * w$epochs.w) AS BIGINT) AS margin
         |       FROM p JOIN w$epochs USING (b) GROUP BY 1)
         |SELECT mf.doc_id, mf.margin, CAST(y.y AS BIGINT) AS y,
         |  y.y * mf.margin > 0 AS correct
         |FROM mf JOIN y USING (doc_id)""".stripMargin
  }

  private def stripMarkupOracleSql: String =
    s"SELECT doc_id, $strippedCleanSql AS clean FROM documents"

  /** q_wordpiece_train reference: every round DERIVES the argmax-score
    * pair from the current symbol state (pair + symbol counts → quantized
    * ln-score), then applies it by repeat-replace on the space-delimited
    * form (the q_bpe_merge replay, with the merge as a VALUE from the
    * 1-row winner CTE instead of a hardcoded literal). */
  private def wordpieceTrainOracleSql(rounds: Int): String = {
    val roundBlocks = (1 to rounds).map { r =>
      s"""cs$r AS (SELECT sym, CAST(sum(wf) AS BIGINT) AS c1 FROM (
         |    SELECT unnest(string_split(trim(s), ' ')) AS sym, wf FROM f${r - 1})
         |  GROUP BY 1),
         |pc$r AS (SELECT a, b, CAST(sum(wf) AS BIGINT) AS n FROM (
         |    SELECT l[CAST(i AS INT)] AS a, l[CAST(i AS INT) + 1] AS b, wf
         |    FROM (SELECT string_split(trim(s), ' ') AS l, wf FROM f${r - 1}) t,
         |         UNNEST(range(1, len(l))) r(i))
         |  GROUP BY 1, 2),
         |m$r AS MATERIALIZED (SELECT a, b, n,
         |    CAST(round((ln(CAST(n AS DOUBLE)) - ln(CAST(na AS DOUBLE))
         |      - ln(CAST(nb AS DOUBLE))) * 1000000) AS BIGINT) AS score_q
         |  FROM (SELECT pc.a, pc.b, pc.n, ca.c1 AS na, cb.c1 AS nb
         |        FROM pc$r pc JOIN cs$r ca ON ca.sym = pc.a
         |        JOIN cs$r cb ON cb.sym = pc.b)
         |  ORDER BY score_q DESC, a, b LIMIT 1),
         |rr$r AS (
         |  SELECT w, wf, s FROM f${r - 1}
         |  UNION ALL
         |  SELECT rr.w, rr.wf,
         |    replace(rr.s, ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' ')
         |  FROM rr$r rr, m$r m
         |  WHERE strpos(rr.s, ' ' || m.a || ' ' || m.b || ' ') > 0),
         |f$r AS MATERIALIZED (SELECT rr.w, rr.wf, rr.s FROM rr$r rr, m$r m
         |        WHERE strpos(rr.s, ' ' || m.a || ' ' || m.b || ' ') = 0)""".stripMargin
    }.mkString(",\n")
    val out = (1 to rounds)
      .map(r => s"SELECT $r AS rank, a, b, n, score_q FROM m$r")
      .mkString("\nUNION ALL\n")
    s"""WITH RECURSIVE w AS MATERIALIZED (
       |  SELECT tok AS w, CAST(count(*) AS BIGINT) AS wf FROM (
       |    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |    FROM documents)
       |  WHERE len(tok) >= 1 GROUP BY tok),
       |f0 AS MATERIALIZED (SELECT w, wf,
       |    ' ' || array_to_string(regexp_extract_all(w, '.'), ' ') || ' ' AS s
       |  FROM w),
       |$roundBlocks
       |SELECT CAST(rank AS INT) AS rank, a, b, n, score_q FROM (
       |$out)""".stripMargin
  }

  /** q_lang_mix reference: the q_lang_id_ngram scoring (profile constants
    * shared with the engine) applied twice — to the decorated doc and to
    * each 32-token chunk (the q_chunk slicing at overlap 0) — then the
    * disagreement rollup with the integer 20% cross-product. */
  private def langMixOracleSql: String = {
    def sqlList(xs: Seq[String]) =
      xs.map(x => "'" + x.replace("'", "''") + "'").mkString("[", ", ", "]")
    val profiles = TextFunctions.trigramProfiles
    val scoreCols = profiles.map { case (lang, ps) =>
      s"len(list_filter(tris, x -> list_contains(${sqlList(ps)}, x))) AS s_$lang"
    }.mkString(",\n    ")
    val gAll = profiles.map(p => s"s_${p._1}").mkString("greatest(", ", ", ")")
    val cases = profiles.map { case (lang, _) =>
      s"WHEN s_$lang = $gAll THEN '$lang'"
    }.mkString("\n  ")
    def langOf(src: String, textCol: String, out: String): String =
      s"""(SELECT doc_id, CASE
         |  WHEN $gAll = 0 THEN 'und'
         |  $cases
         |  END AS $out FROM (
         |  SELECT doc_id,
         |    $scoreCols
         |  FROM (SELECT doc_id, list_transform(range(1, greatest(length(t) - 1, 1)),
         |          i -> substr(t, CAST(i AS INTEGER), 3)) AS tris
         |        FROM (SELECT doc_id, lower(trim($textCol)) AS t FROM $src))))""".stripMargin
    s"""WITH d AS (SELECT doc_id,
       |    text || CASE WHEN doc_id % 4 = 0
       |      THEN ' der die und das ein ist nicht zu der die und das ein ist'
       |      ELSE '' END AS text
       |  FROM documents),
       |ck AS (SELECT doc_id, array_to_string(toks[s:s+31], ' ') AS chunk
       |       FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |             FROM d),
       |            UNNEST(range(1, greatest(len(toks), 1) + 1, 32)) AS u(s)),
       |ld AS ${langOf("d", "text", "doc_lang")},
       |lc AS ${langOf("ck", "chunk", "c_lang")}
       |SELECT doc_id, doc_lang, n_chunks, n_foreign,
       |  n_foreign * 5 >= n_chunks AS mixed
       |FROM (
       |  SELECT ld.doc_id, ld.doc_lang,
       |    CAST(count(*) AS BIGINT) AS n_chunks,
       |    CAST(sum(CASE WHEN lc.c_lang <> ld.doc_lang THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_foreign
       |  FROM lc JOIN ld USING (doc_id)
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** q_urls reference: the URL pattern taken verbatim from the engine's
    * [[graft.functions.TextFunctions.urlPattern]]; canonicalization as
    * the same lower/CASE/anchored-regexp steps (group substitutions are
    * avoided in both engines — Spark spells them $1, RE2 \1). */
  private def urlsOracleSql: String = {
    val re = graft.functions.TextFunctions.urlPattern.replace("'", "''")
    s"""WITH t AS (SELECT doc_id,
       |    text || ' see HTTP://Example.COM:80/Path/index.html?q=1#frag'
       |    || CASE WHEN doc_id % 3 = 0 THEN ' https://Secure.NET:443/' ELSE '' END
       |    || CASE WHEN doc_id % 4 = 0 THEN ' http://plain.org/a/b/ and http://h'
       |            || (doc_id % 7) || '.example.org/x#y' ELSE '' END AS tx
       |  FROM documents),
       |u AS (SELECT doc_id, unnest(regexp_extract_all(tx, '$re', 0)) AS url FROM t),
       |c AS (SELECT doc_id, url,
       |    lower(regexp_extract(url, '^([A-Za-z]+://[^/#?]*)', 1)) AS pre0
       |  FROM u)
       |SELECT doc_id, url,
       |  (CASE WHEN pre0 LIKE 'http://%' AND pre0 LIKE '%:80'
       |        THEN left(pre0, length(pre0) - 3)
       |        WHEN pre0 LIKE 'https://%' AND pre0 LIKE '%:443'
       |        THEN left(pre0, length(pre0) - 4)
       |        ELSE pre0 END)
       |  || regexp_replace(regexp_replace(substr(url, length(pre0) + 1),
       |       '#.*$$', ''), '/$$', '') AS canon,
       |  regexp_extract(lower(url), '^[a-z]+://([^/:#?]*)', 1) AS domain
       |FROM c""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("q_lang_id", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))
    }, sql(
      """WITH s AS (
        |  SELECT doc_id,
        |    len(list_intersect(toks, ['the','a','of','and','to','in','is','it'])) AS s_en,
        |    len(list_intersect(toks, ['el','la','de','los','y','que','en','un'])) AS s_es,
        |    len(list_intersect(toks, ['der','die','das','und','ein','zu','ist','nicht'])) AS s_de,
        |    len(list_intersect(toks, ['le','les','des','et','une','est','dans','pour'])) AS s_fr,
        |    len(list_intersect(toks, ['的','是','了','在','我','有','和','不'])) AS s_zh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents))
        |SELECT doc_id, CASE
        |  WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'und'
        |  WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
        |  WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
        |  WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
        |  WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
        |  ELSE 'zh' END AS lang_pred
        |FROM s""".stripMargin), bench = true),

    // The brief's "n-gram heuristic" language ID (Cavnar-Trenkle style):
    // character-trigram profile hits, fused into one native expression.
    // Generated from TextFunctions.trigramProfiles — ONE source of truth for
    // the profile lists on both engines.
    Q("q_lang_id_ngram", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.langIdNgram(col("text")).as("lang_pred"))
    }, sql({
      def sqlList(xs: Seq[String]) =
        xs.map(x => "'" + x.replace("'", "''") + "'").mkString("[", ", ", "]")
      val profiles = TextFunctions.trigramProfiles
      val scoreCols = profiles.map { case (lang, ps) =>
        s"len(list_filter(tris, x -> list_contains(${sqlList(ps)}, x))) AS s_$lang"
      }.mkString(",\n    ")
      val gAll = profiles.map(p => s"s_${p._1}").mkString("greatest(", ", ", ")")
      val cases = profiles.map { case (lang, _) =>
        s"WHEN s_$lang = $gAll THEN '$lang'"
      }.mkString("\n  ")
      s"""WITH g AS (
         |  SELECT doc_id, list_transform(range(1, greatest(length(t) - 1, 1)),
         |    i -> substr(t, CAST(i AS INTEGER), 3)) AS tris
         |  FROM (SELECT doc_id, lower(trim(text)) AS t FROM documents)),
         |s AS (
         |  SELECT doc_id,
         |    $scoreCols
         |  FROM g)
         |SELECT doc_id, CASE
         |  WHEN $gAll = 0 THEN 'und'
         |  $cases
         |  END AS lang_pred
         |FROM s""".stripMargin
    }), bench = true),

    Q("q_quality", (s, dir) => {
      val cols = TextFunctions.qualityCounts(col("text")).map { case (n, c) => c.as(n) }
      t(s, dir, "documents").select(col("doc_id") +: cols: _*)
    }, sql(
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS sum_token_len,
        |  CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','it'], t))) AS BIGINT) AS n_stop
        |FROM (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)""".stripMargin),
      bench = true),

    Q("q_token_count", (s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_ws_tokens"),
        TextFunctions.bpeTokenEstimate(col("text")).cast("long").as("n_bpe_tokens"))
    }, sql(
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[\p{L}\p{N}]+|[^\p{L}\p{N}\s]')) AS BIGINT) AS n_bpe_tokens
        |FROM documents""".stripMargin), bench = true),

    // Fused per-document FEATURE EXPORT: every scan-bound signal family
    // (quality counts, char-diversity profile, token counts, fingerprint)
    // in ONE pass — one FileScan, one WholeStageCodegen span, eleven
    // feature columns. Run separately these are 4 corpus scans; at 100 TB
    // the fusion IS the operator.
    // fused feature export: the member oracles combined — the ENGINE side
    // is one scan; the oracle may join freely
    Q("q_doc_features", (s, dir) => {
      val q = TextFunctions.qualityCounts(col("text")).map { case (n, c) => c.as(n) }
      val p = TextFunctions.charProfile(col("text"))
      t(s, dir, "documents").select((col("doc_id") +: q) ++ Seq(
        p.getField("n_cp").as("n_cp"),
        p.getField("n_distinct").as("n_distinct"),
        p.getField("max_cnt").as("max_cnt"),
        p.getField("sum_sq").as("sum_sq"),
        TextFunctions.bpeTokenEstimate(col("text")).cast("long").as("n_bpe_tokens"),
        TextFunctions.fingerprint(col("text")).as("fp")): _*)
    }, sql(
      """WITH cp AS (
        |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_cp,
        |    count(*) AS n_distinct,
        |    CAST(max(cnt) AS BIGINT) AS max_cnt,
        |    CAST(sum(cnt * cnt) AS BIGINT) AS sum_sq
        |  FROM (SELECT doc_id, ch, count(*) AS cnt
        |        FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch
        |              FROM documents)
        |        GROUP BY doc_id, ch) GROUP BY doc_id),
        |base AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS sum_token_len,
        |    CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','it'], t))) AS BIGINT) AS n_stop,
        |    CAST(len(regexp_extract_all(text, '[\p{L}\p{N}]+|[^\p{L}\p{N}\s]')) AS BIGINT) AS n_bpe_tokens,
        |    md5(text) AS fp
        |  FROM (SELECT doc_id, text,
        |          regexp_split_to_array(trim(text), '\s+') AS toks
        |        FROM documents))
        |SELECT base.doc_id, n_chars, n_tokens, sum_token_len, n_stop,
        |  coalesce(cp.n_cp, 0) AS n_cp,
        |  coalesce(cp.n_distinct, 0) AS n_distinct,
        |  coalesce(cp.max_cnt, 0) AS max_cnt,
        |  coalesce(cp.sum_sq, 0) AS sum_sq,
        |  n_bpe_tokens, fp
        |FROM base LEFT JOIN cp USING (doc_id)""".stripMargin), bench = true),

    Q("q_fingerprint", (s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp"))
    }, sql(
      "SELECT doc_id, md5(text) AS fp FROM documents"), bench = true),

    // Canonical normalization (dedup preprocessing): lowercase + whitespace
    // collapse, and the punctuation-stripped canon.
    Q("q_normalize", (s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.normalizeText(col("text")).as("norm"),
        TextFunctions.normalizeText(col("text"), stripPunct = true).as("canon"))
    }, sql(
      """SELECT doc_id,
        |  trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^\p{L}\p{N}\s]', ' ', 'g'),
        |       '\s+', ' ', 'g')) AS canon
        |FROM documents""".stripMargin)),

    // PII scrub: emails / IPv4s / card-length digit runs / phone shapes ->
    // typed placeholders. The gate INJECTS deterministic PII derived from
    // doc_id into the text on both engines, so the oracle exercises every
    // pattern for real rather than hashing an identity rewrite.
    Q("q_redact", (s, dir) => {
      val injected = concat(col("text"),
        lit(" contact u"), col("doc_id"), lit("@example.com from 10.0."),
        (col("doc_id") % 255).cast("string"), lit(".9 card 4111222233334444 call 555-123-4567"))
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.redactPii(injected).as("redacted"))
    }, sql(
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    text || ' contact u' || doc_id || '@example.com from 10.0.'
        |         || (doc_id % 255) || '.9 card 4111222233334444 call 555-123-4567',
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{12,19}\b', '<LONGNUM>', 'g'),
        |    '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b', '<PHONE>', 'g') AS redacted
        |FROM documents""".stripMargin), bench = true),

    // Luhn checksum gate for card-shaped digit runs — the validator the
    // \d{12,19} redaction pattern lacks (a random 16-digit run passes the
    // regexp but fails Luhn 90% of the time). Every doc plants a 16-digit
    // number whose check digit the ENGINE derives (append-zero trick);
    // doc_id%3 tampers it — valid must flip exactly there, with the raw
    // mod-10 residue under the hash.
    // Luhn: the same HOF checksum (double every second from the right,
    // overflow −9), the engine's append-zero check-digit derivation
    Q("q_pii_luhn", (s, dir) => {
      val base = lpad((col("doc_id") % 100000000000000L).cast("string"), 15, "4")
      val cd = TextFunctions.luhnCheckDigit(base)
      val digit = when(col("doc_id") % 3 === 0, pmod(cd + 1, lit(10))).otherwise(cd)
      val cc = concat(base, digit.cast("string"))
      t(s, dir, "documents").select(col("doc_id"), cc.as("cc"),
        TextFunctions.luhnValid(cc).as("valid"),
        pmod(TextFunctions.luhnChecksum(cc), lit(10)).cast("long").as("mod10"))
    }, sql({
      def lsum(s: String): String =
        s"list_sum(list_transform(range(1, length($s) + 1), i -> " +
          s"CASE WHEN (length($s) - i) % 2 = 1 THEN " +
          s"CASE WHEN 2 * CAST(substr($s, i, 1) AS INT) > 9 " +
          s"THEN 2 * CAST(substr($s, i, 1) AS INT) - 9 " +
          s"ELSE 2 * CAST(substr($s, i, 1) AS INT) END " +
          s"ELSE CAST(substr($s, i, 1) AS INT) END))"
      s"""WITH b AS (
         |  SELECT doc_id,
         |    lpad(CAST(doc_id % 100000000000000 AS VARCHAR), 15, '4') AS base
         |  FROM documents),
         |cd AS (SELECT doc_id, base,
         |         (10 - (${lsum("(base || '0')")} % 10)) % 10 AS d0
         |       FROM b),
         |cc AS (SELECT doc_id,
         |         base || CAST(CASE WHEN doc_id % 3 = 0 THEN (d0 + 1) % 10
         |                           ELSE d0 END AS VARCHAR) AS cc
         |       FROM cd)
         |SELECT doc_id, cc,
         |  length(cc) >= 2 AND regexp_matches(cc, '^[0-9]+$$')
         |    AND ${lsum("cc")} % 10 = 0 AS valid,
         |  CAST(${lsum("cc")} % 10 AS BIGINT) AS mod10
         |FROM cc""".stripMargin
    }), bench = true),

    // IBAN mod-97 validation (ISO 13616) — the PII family's second
    // checksum next to Luhn: synthetic German-format IBANs with check
    // digits DERIVED in-engine (98 - residue of the zero-check form),
    // then doc_id%4 tampered in the last BBAN digit; the native
    // rotate+expand+fold residue must read exactly 1 on untampered rows
    // and never on tampered ones (97 is prime: a single-digit delta can't
    // cancel).
    // IBAN mod-97: rotate country+check to the end, expand A-Z to 10..35,
    // fold (acc*10^k + v) % 97 left-to-right — the engine's exact
    // incremental reduction; the check-digit derivation (98 - residue of
    // the zero-check form) is replayed with the same fold
    Q("q_pii_iban", (s, dir) => {
      val bban = lpad((col("doc_id") % 1000000000000000000L).cast("string"),
        18, "0")
      val cd = TextFunctions.ibanCheckDigits(lit("DE"), bban)
      val tampered = concat(substring(bban, 1, 17),
        pmod(substring(bban, 18, 1).cast("int") + 1, lit(10)).cast("string"))
      val iban = concat(lit("DE"), cd,
        when(col("doc_id") % 4 === 0, tampered).otherwise(bban))
      t(s, dir, "documents").select(col("doc_id"), iban.as("iban"),
        TextFunctions.ibanMod97(iban).cast("long").as("m97"),
        TextFunctions.ibanValid(iban).as("valid"))
    }, sql({
      // mod-97 residue of the ROTATED string s (rot = substr(s,5)||first4)
      def m97(s: String): String = {
        val rot = s"(substr($s, 5) || substr($s, 1, 4))"
        s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          s"list_transform(range(1, length($rot) + 1), i -> " +
          s"CASE WHEN substr($rot, i, 1) BETWEEN '0' AND '9' " +
          s"THEN CAST(ascii(substr($rot, i, 1)) - 48 AS BIGINT) " +
          s"WHEN substr($rot, i, 1) BETWEEN 'A' AND 'Z' " +
          s"THEN CAST(ascii(substr($rot, i, 1)) - 55 AS BIGINT) END)), " +
          s"(acc, v) -> CASE WHEN v < 10 THEN (acc * 10 + v) % 97 " +
          s"ELSE (acc * 100 + v) % 97 END)"
      }
      s"""WITH b AS (
         |  SELECT doc_id,
         |    lpad(CAST(doc_id % 1000000000000000000 AS VARCHAR), 18, '0') AS bban
         |  FROM documents),
         |cd AS (SELECT doc_id, bban,
         |         lpad(CAST(98 - ${m97("('DE00' || bban)")} AS VARCHAR), 2, '0') AS cdg
         |       FROM b),
         |ib AS (SELECT doc_id,
         |         'DE' || cdg ||
         |           CASE WHEN doc_id % 4 = 0
         |                THEN substr(bban, 1, 17) ||
         |                  CAST((CAST(substr(bban, 18, 1) AS INT) + 1) % 10 AS VARCHAR)
         |                ELSE bban END AS iban
         |       FROM cd)
         |SELECT doc_id, iban,
         |  CAST(${m97("iban")} AS BIGINT) AS m97,
         |  coalesce(${m97("iban")} = 1, FALSE) AS valid
         |FROM ib""".stripMargin
    }), bench = true),

    // Rule-based code detection (the Stack-vs-prose corpus router):
    // integer-weighted punctuation/keyword counts over replace()
    // length-differences, threshold as an integer cross-product (5 per
    // mille). doc_id%7 docs gain a JS snippet; is_code must fire exactly
    // there.
    // code detection: replace() length-difference counts, integer weights,
    // per-mille cross-product threshold; the planted snippet is stated
    // verbatim
    Q("q_code_detect", (s, dir) => {
      val decorated = when(col("doc_id") % 7 === 0, concat(col("text"),
        lit(" function update(x) { var t = x + 1; return t; } if (t) { t = t + 2; }")))
        .otherwise(col("text"))
      val score = TextFunctions.codeScore(decorated).cast("long")
      t(s, dir, "documents").select(col("doc_id"), score.as("score"),
        length(decorated).cast("long").as("n_chars"),
        (score * lit(1000L) >= lit(5L) * length(decorated)).as("is_code"))
    }, sql(
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text ||
        |      ' function update(x) { var t = x + 1; return t; } if (t) { t = t + 2; }'
        |    ELSE text END AS text
        |  FROM documents),
        |s AS (SELECT doc_id, length(text) AS n_chars,
        |    (length(text) - length(replace(text, '{', ''))
        |     + length(text) - length(replace(text, '}', ''))) * 3
        |    + (length(text) - length(replace(text, ';', ''))) * 3
        |    + (length(text) - length(replace(text, '=', ''))) * 2
        |    + (length(text) - length(replace(text, '(', '')))
        |    + (length(text) - length(replace(text, ')', '')))
        |    + ((length(text) - length(replace(text, 'function', ''))) // 8
        |       + (length(text) - length(replace(text, 'return ', ''))) // 7
        |       + (length(text) - length(replace(text, ' var ', ''))) // 5) * 5
        |    AS score
        |  FROM d)
        |SELECT doc_id, CAST(score AS BIGINT) AS score,
        |  CAST(n_chars AS BIGINT) AS n_chars,
        |  score * 1000 >= 5 * n_chars AS is_code
        |FROM s""".stripMargin), bench = true),

    // Repetition quality signals (Gopher/MassiveText filters): duplicate
    // token fraction + the most-frequent-bigram share. Both pure per-row
    // (sorted-run fold, no explode/shuffle).
    Q("q_repetition", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.duplicateTokenFraction(col("text")).as("dup_token_frac"),
        TextFunctions.topBigramFraction(col("text")).as("top_bigram_frac")), sql(
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |           FROM documents),
        |g AS (SELECT doc_id,
        |        unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS gram
        |      FROM t WHERE len(toks) >= 2),
        |c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
        |m AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_bigram_frac
        |      FROM c GROUP BY 1)
        |SELECT t.doc_id,
        |  CASE WHEN len(toks) > 0
        |       THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        |       ELSE 0.0 END AS dup_token_frac,
        |  coalesce(m.top_bigram_frac, 0.0) AS top_bigram_frac
        |FROM t LEFT JOIN m USING (doc_id)""".stripMargin), bench = true),

    // Gopher rule suite (Rae et al. 2021): exact integer signals + the keep
    // decision as integer cross-multiplications. Like q_redact, the gate
    // DECORATES the synthetic text deterministically on both engines
    // (bullets, '#', '...', numeric runs) so every rule is exercised with
    // non-trivial selectivity rather than hashing constant zeros.
    Q("q_gopher", (s, dir) => {
      val g = gopherDecoratedText
      t(s, dir, "documents").select(col("doc_id") +:
        functions.QualityFilters.gopherCounts(g).map { case (n, c) => c.as(n) } :+
        functions.QualityFilters.gopherKeep(g, minWords = 40)
          .cast("long").as("keep"): _*)
    }, sql(
      """WITH g AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 23 = 0 THEN '- ' ELSE '' END) ||
        |    (CASE WHEN doc_id % 9 = 0 THEN '# ' ELSE '' END) ||
        |    text ||
        |    (CASE WHEN doc_id % 6 = 0 THEN ' ...' ELSE '' END) ||
        |    (CASE WHEN doc_id % 17 = 0
        |          THEN ' 123 456 789 000 111 222 333 444 555 666'
        |          ELSE '' END) AS t
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(t), '\s+')) AS BIGINT) AS n_tokens,
        |    CAST(length(regexp_replace(t, '\s', '', 'g')) AS BIGINT) AS sum_token_len,
        |    CAST(len(regexp_extract_all(' ' || t, '\s\S*[A-Za-z]')) AS BIGINT) AS n_alpha_tokens,
        |    CAST(len(list_filter(regexp_split_to_array(trim(t), '\s+'),
        |      x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS BIGINT) AS n_stop,
        |    CAST((length(t) - length(replace(t, '#', '')))
        |      + (length(t) - length(replace(t, '...', ''))) // 3 AS BIGINT) AS n_symbols,
        |    CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_lines,
        |    CAST(len(regexp_extract_all(chr(10) || t, chr(10) || '[-*•]')) AS BIGINT) AS n_bullet_lines,
        |    CAST(len(regexp_extract_all(t || chr(10), '(\.\.\.|…)' || chr(10))) AS BIGINT) AS n_ellipsis_lines
        |  FROM g)
        |SELECT doc_id, n_tokens, sum_token_len, n_alpha_tokens, n_stop,
        |  n_symbols, n_lines, n_bullet_lines, n_ellipsis_lines,
        |  CAST((n_tokens >= 40 AND n_tokens <= 100000
        |    AND sum_token_len >= n_tokens * 3 AND sum_token_len <= n_tokens * 10
        |    AND n_symbols * 10 <= n_tokens
        |    AND n_bullet_lines * 10 <= n_lines * 9
        |    AND n_ellipsis_lines * 10 <= n_lines * 3
        |    AND n_alpha_tokens * 5 >= n_tokens * 4
        |    AND n_stop >= 2) AS BIGINT) AS keep
        |FROM c""".stripMargin), bench = true),

    // C4 line/page filters (Raffel et al. 2020) via the fused native
    // expression (one JVM pass per doc; parity with the composed HOF
    // formulation is spec-pinned). The gate derives deterministic line
    // structure (sentence breaks after table/row) and plants the page-level
    // triggers (lorem ipsum, javascript lines, curly braces) on a doc_id
    // schedule, identically on both engines.
    Q("q_c4_filter", (s, dir) => {
      val t2 = c4DerivedText
      val cols = functions.QualityFilters.c4Clean(t2, minLineWords = 3).toMap
      t(s, dir, "documents").select(col("doc_id"),
        cols("clean_text").as("clean_text"),
        cols("n_kept_lines").as("n_kept_lines"),
        functions.QualityFilters.c4DocKeep(t2, cols("n_kept_lines"), minKeptLines = 2)
          .cast("long").as("keep"))
    }, sql(
      """WITH t2 AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 7 = 0 THEN 'lorem ipsum filler text here.' || chr(10) ELSE '' END) ||
        |    (CASE WHEN doc_id % 11 = 0 THEN 'too short.' || chr(10) ELSE '' END) ||
        |    (CASE WHEN doc_id % 13 = 0 THEN 'this page uses javascript heavily.' || chr(10) ELSE '' END) ||
        |    regexp_replace(text, '(table|row) ', '\1.' || chr(10), 'g') ||
        |    (CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'if (x) { return; }' ELSE '' END) AS t
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, t,
        |    list_filter(string_split(t, chr(10)), l ->
        |      regexp_matches(l, '[.!?"”]$')
        |      AND len(regexp_split_to_array(trim(l), '\s+')) >= 3
        |      AND NOT contains(lower(l), 'javascript')) AS kept
        |  FROM t2)
        |SELECT doc_id,
        |  -- DuckDB array_to_string([]) is NULL; engine keeps '' for empty pages
        |  coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
        |  CAST(len(kept) AS BIGINT) AS n_kept_lines,
        |  CAST((len(kept) >= 2 AND NOT contains(lower(t), 'lorem ipsum')
        |    AND NOT contains(t, '{')) AS BIGINT) AS keep
        |FROM k""".stripMargin), bench = true),

    // Composed quality pipeline: C4 line clean -> page keep -> Gopher keep
    // over the CLEANED text, one Catalyst plan (both filter suites are pure
    // per-row projections, so the whole chain stays scan-bound — no
    // shuffle at any scale). Same derived line structure as q_c4_filter.
    Q("q_pipeline_quality", (s, dir) => {
      val t2 = c4DerivedText
      val cols = functions.QualityFilters.c4Clean(t2, minLineWords = 3).toMap
      t(s, dir, "documents")
        .select(col("doc_id"), cols("clean_text").as("clean_text"),
          functions.QualityFilters.c4DocKeep(t2, cols("n_kept_lines"), minKeptLines = 2)
            .as("page_keep"))
        .filter(col("page_keep"))
        .filter(functions.QualityFilters.gopherKeep(col("clean_text"), minWords = 20))
        .select(col("doc_id"), col("clean_text"))
    }, sql(
      """WITH t2 AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 7 = 0 THEN 'lorem ipsum filler text here.' || chr(10) ELSE '' END) ||
        |    (CASE WHEN doc_id % 11 = 0 THEN 'too short.' || chr(10) ELSE '' END) ||
        |    (CASE WHEN doc_id % 13 = 0 THEN 'this page uses javascript heavily.' || chr(10) ELSE '' END) ||
        |    regexp_replace(text, '(table|row) ', '\1.' || chr(10), 'g') ||
        |    (CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'if (x) { return; }' ELSE '' END) AS t
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, t,
        |    list_filter(string_split(t, chr(10)), l ->
        |      regexp_matches(l, '[.!?"”]$')
        |      AND len(regexp_split_to_array(trim(l), '\s+')) >= 3
        |      AND NOT contains(lower(l), 'javascript')) AS kept
        |  FROM t2),
        |pages AS (
        |  SELECT doc_id, coalesce(array_to_string(kept, chr(10)), '') AS clean_text
        |  FROM k
        |  WHERE len(kept) >= 2 AND NOT contains(lower(t), 'lorem ipsum')
        |    AND NOT contains(t, '{')),
        |c AS (
        |  SELECT doc_id, clean_text,
        |    CAST(len(regexp_split_to_array(trim(clean_text), '\s+')) AS BIGINT) AS n_tokens,
        |    CAST(length(regexp_replace(clean_text, '\s', '', 'g')) AS BIGINT) AS sum_token_len,
        |    CAST(len(regexp_extract_all(' ' || clean_text, '\s\S*[A-Za-z]')) AS BIGINT) AS n_alpha_tokens,
        |    CAST(len(list_filter(regexp_split_to_array(trim(clean_text), '\s+'),
        |      x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS BIGINT) AS n_stop,
        |    CAST((length(clean_text) - length(replace(clean_text, '#', '')))
        |      + (length(clean_text) - length(replace(clean_text, '...', ''))) // 3 AS BIGINT) AS n_symbols,
        |    CAST(len(string_split(clean_text, chr(10))) AS BIGINT) AS n_lines,
        |    CAST(len(regexp_extract_all(chr(10) || clean_text, chr(10) || '[-*•]')) AS BIGINT) AS n_bullet_lines,
        |    CAST(len(regexp_extract_all(clean_text || chr(10), '(\.\.\.|…)' || chr(10))) AS BIGINT) AS n_ellipsis_lines
        |  FROM pages)
        |SELECT doc_id, clean_text FROM c
        |WHERE n_tokens >= 20 AND n_tokens <= 100000
        |  AND sum_token_len >= n_tokens * 3 AND sum_token_len <= n_tokens * 10
        |  AND n_symbols * 10 <= n_tokens
        |  AND n_bullet_lines * 10 <= n_lines * 9
        |  AND n_ellipsis_lines * 10 <= n_lines * 3
        |  AND n_alpha_tokens * 5 >= n_tokens * 4
        |  AND n_stop >= 2""".stripMargin), bench = true),

    // Model-based quality filter (the fastText-classifier APPLY step):
    // every token md5-hashes to one of 64 buckets, the margin is the
    // in-order sum of fixed-point bucket weights + bias, keep = margin>0.
    // Pure scan expression; margins hash bit-exact (correctly-rounded
    // adds in document token order, weights stated as decimal literals
    // on both engines).
    // model filter: same md5 bucket, same decimal weight literals, same
    // in-order fold
    Q("q_quality_model", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
          graft.functions.TextFunctions.hashedBowMargin(
            col("text"), bowWeights, bias = 0.05).as("margin"))
        .withColumn("keep", col("margin") > 0.0), sql({
      val wList = bowWeights.map(_.toString).mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
         |           FROM documents)
         |SELECT doc_id, margin, margin > 0 AS keep FROM (
         |  SELECT doc_id,
         |    list_reduce(list_prepend(0.05e0, list_transform(tk, t ->
         |      ($wList)[CAST(('0x' || substr(md5(t), 1, 15))::UBIGINT % 64 AS INT) + 1])),
         |      (a, b) -> a + b) AS margin
         |  FROM t)""".stripMargin
    }), bench = true),

    // In-engine linear-classifier TRAINING — the step that produces what
    // q_quality_model consumes: 3 full-batch perceptron epochs over the
    // hashed-BoW postings (lang='en' vs rest as the demo task). Integer
    // end to end (counts, margins, gradients, weights), so the trained
    // artifact hash-matches the oracle's epoch-unrolled replay exactly;
    // driver traffic per epoch = the weight vector. (The synthetic corpus
    // draws tokens INDEPENDENT of lang, so ~56% here IS the Bayes rate —
    // the gate checks the training machinery, not the fixture's
    // learnability; ClassifierSpec proves convergence to 100% and a
    // zero-gradient fixed point on a separable corpus.)
    Q("q_train_perceptron", (s, dir) =>
      operators.Classifier.trainPerceptron(t(s, dir, "documents"),
        when(col("lang") === "en", 1L).otherwise(-1L),
        buckets = 64, epochs = 3), sql(perceptronOracleSql(64, 3, "weights")), bench = true),

    // the apply readout under the weights just trained: per-doc integer
    // margin + correctness (the fit's own training accuracy surface)
    Q("q_train_margins", (s, dir) => {
      val docs = t(s, dir, "documents")
      val label = when(col("lang") === "en", 1L).otherwise(-1L)
      operators.Classifier.marginsUnder(docs,
        operators.Classifier.trainPerceptron(docs, label,
          buckets = 64, epochs = 3),
        label, buckets = 64)
    }, sql(perceptronOracleSql(64, 3, "margins"))),

    // Rank-calibration of the trained quality scorer: the perceptron
    // margin's empirical-CDF transform (two-phase global rank / N) cut
    // into 10 equal-rank bins, per bin observed en-rate vs mean forecast
    // and their gap — the reliability-diagram / ECE-term readout that
    // tells a pipeline whether the scorer's CONFIDENCE is usable as a
    // sampling weight, not just its sign as a filter.
    // rank-calibration bins over the perceptron margins: empirical-CDF
    // forecast vs observed en-rate, 10 equal-rank bins
    // Not a headliner: it re-trains the 3-epoch perceptron (q_train_margins' cost)
    // before its 10-row readout, so Bench would time the trainer twice.
    Q("q_calibration", (s, dir) => {
      val docs = t(s, dir, "documents")
      val label = when(col("lang") === "en", 1L).otherwise(-1L)
      val m = operators.Classifier.marginsUnder(docs,
        operators.Classifier.trainPerceptron(docs, label,
          buckets = 64, epochs = 3),
        label, buckets = 64)
      operators.EventSignals.calibrationBins(
        m.select(col("doc_id"), col("margin"),
          when(col("y") === 1L, 1L).otherwise(0L).as("label01")),
        scoreCol = "margin", labelCol = "label01", bins = 10)
    }, sql(
      s"""WITH m AS (${perceptronOracleSql(64, 3, "margins")}),
         |b AS (SELECT doc_id, margin, (y + 1) // 2 AS yy,
         |        row_number() OVER (ORDER BY margin, doc_id) AS rnk,
         |        count(*) OVER () AS nt
         |      FROM m),
         |c AS (SELECT CAST((rnk - 1) * 10 // nt AS BIGINT) + 1 AS bin,
         |        yy, rnk, nt FROM b)
         |SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(yy) AS BIGINT) AS n_pos,
         |  CAST(sum(yy) AS DOUBLE) / count(*) AS obs_rate,
         |  CAST(sum(rnk) AS DOUBLE) / max(nt) / count(*) AS conf_mean,
         |  abs(CAST(sum(yy) AS DOUBLE) / count(*)
         |      - CAST(sum(rnk) AS DOUBLE) / max(nt) / count(*)) AS gap
         |FROM c GROUP BY 1""".stripMargin)),

    // CCNet-style boilerplate line removal. The synthetic corpus is
    // single-line, so the gate DECORATES it deterministically (the
    // q_gopher pattern): body reshaped into 12-token lines, a cookie
    // banner planted on doc_id % 3, a license footer on doc_id % 2 — the
    // planted lines cross the minDocs census, body lines (mostly) don't,
    // and both engines agree exactly either way.
    // boilerplate: decorate identically, census non-blank lines by
    // distinct-doc count, drop >= 50-doc lines, reassemble in line order
    Q("q_boilerplate", (s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = split(col("text"), " ")
      val body = transform(
        sequence(lit(0L), floor((size(toks) - lit(1)) / lit(12)).cast("long")),
        i => array_join(slice(toks, (i * lit(12) + lit(1)).cast("int"), lit(12)), " "))
      val header = when(col("doc_id") % 3 === 0,
        array(lit("COOKIE NOTICE ACCEPT ALL COOKIES")))
        .otherwise(typedLit(Seq.empty[String]))
      val footer = when(col("doc_id") % 2 === 0,
        array(lit("copyright example corp all rights reserved")))
        .otherwise(typedLit(Seq.empty[String]))
      val lined = docs.select(col("doc_id"),
        array_join(concat(header, body, footer), "\n").as("text"))
      Dedup.stripBoilerplateLines(lined, minDocs = 50L)
    }, sql(
      """WITH lined AS (
        |  SELECT doc_id,
        |    array_to_string(list_concat(list_concat(
        |      CASE WHEN doc_id % 3 = 0
        |           THEN ['COOKIE NOTICE ACCEPT ALL COOKIES']
        |           ELSE [] END,
        |      list_transform(range(0, (len(toks) - 1) // 12 + 1), i ->
        |        array_to_string(toks[i*12+1 : i*12+12], ' '))),
        |      CASE WHEN doc_id % 2 = 0
        |           THEN ['copyright example corp all rights reserved']
        |           ELSE [] END), chr(10)) AS text
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
        |l AS (SELECT doc_id, i, ls[i] AS ln
        |      FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM lined),
        |           UNNEST(range(1, len(ls) + 1)) AS r(i)),
        |bp AS (SELECT ln FROM (
        |        SELECT ln, count(DISTINCT doc_id) AS df
        |        FROM l WHERE trim(ln) <> '' GROUP BY ln)
        |       WHERE df >= 50),
        |kept AS (SELECT * FROM l WHERE ln NOT IN (SELECT ln FROM bp))
        |SELECT d.doc_id,
        |  coalesce(string_agg(k.ln, chr(10) ORDER BY k.i), '') AS text
        |FROM lined d LEFT JOIN kept k USING (doc_id)
        |GROUP BY d.doc_id""".stripMargin), bench = true),

    // Corpus bigram frequency table: the top-100 2-grams with counts
    // (contamination scans, boilerplate discovery). Deterministic total
    // order (count desc, gram asc) so LIMIT is engine-portable.
    Q("q_ngram_freq", (s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextFunctions.shinglesNative(col("text"), 2)).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("gram").asc)
        .limit(100), sql(
      """SELECT gram, count(*) AS n FROM (
        |  SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS gram
        |  FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS toks FROM documents))
        |GROUP BY 1 ORDER BY n DESC, gram ASC LIMIT 100""".stripMargin), bench = true),

    // Per-source distinctive vocabulary: top-20 terms per source ranked
    // (group-df asc, tf desc, term asc) — all-integer c-TF-IDF-style
    // ranking; df = 1 flags source-unique vocabulary.
    Q("q_distinctive_terms", (s, dir) =>
      Curation.distinctiveTerms(t(s, dir, "documents")), sql(
      """WITH tf AS (
        |  SELECT source, tok AS term, count(*) AS tf FROM (
        |    SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |    FROM documents)
        |  WHERE len(tok) >= 1 GROUP BY 1, 2),
        |d AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
        |SELECT source, term, tf, df, rank FROM (
        |  SELECT tf.source, tf.term, tf.tf, d.df,
        |    CAST(row_number() OVER (PARTITION BY tf.source
        |      ORDER BY d.df ASC, tf.tf DESC, tf.term ASC) AS BIGINT) AS rank
        |  FROM tf JOIN d USING (term))
        |WHERE rank <= 20""".stripMargin)),

    // BPE trainer inner loop, round 1: adjacent-char pair counts weighted
    // by word frequency — computed over the DISTINCT-WORD table, so the
    // corpus-sized shuffle is paid once regardless of merge rounds.
    Q("q_bpe_pairs", (s, dir) =>
      operators.Tokenizer.bpePairCounts(t(s, dir, "documents"), topK = 200), sql(
      """WITH w AS (
        |  SELECT tok AS w, count(*) AS wf FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |    FROM documents)
        |  WHERE len(tok) >= 1 GROUP BY tok),
        |p AS (
        |  SELECT unnest(list_transform(range(1, length(w)), i -> w[i:i+1])) AS pair, wf
        |  FROM w WHERE length(w) >= 2)
        |SELECT pair, CAST(sum(wf) AS BIGINT) AS n FROM p
        |GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 200""".stripMargin), bench = true),

    // One BPE merge applied to the vocab's symbol sequences: greedy
    // leftmost non-overlapping fusion of ('t','h') -> "th", symbols joined
    // with spaces ("t h e" -> "th e") so the merge structure survives. Pure per-row fold over the vocab table.
    Q("q_bpe_merge", (s, dir) =>
      operators.Tokenizer.wordFrequencies(t(s, dir, "documents"))
        .select(col("w"), col("wf"),
          concat_ws(" ", operators.Tokenizer.applyMerge(
            operators.Tokenizer.charSymbols(col("w")), "t", "h")).as("merged")), sql(
      """WITH RECURSIVE w AS (
        |  SELECT tok AS w, count(*) AS wf FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |    FROM documents)
        |  WHERE len(tok) >= 1 GROUP BY tok),
        |r AS (
        |  SELECT w, wf,
        |    ' ' || array_to_string(regexp_extract_all(w, '.'), ' ') || ' ' AS s
        |  FROM w
        |  UNION ALL
        |  SELECT w, wf, replace(s, ' t h ', ' th ') FROM r
        |  WHERE strpos(s, ' t h ') > 0)
        |SELECT w, wf, trim(s) AS merged FROM r WHERE strpos(s, ' t h ') = 0""".stripMargin),
      bench = true),

    // Flesch-Kincaid readability: sentence/word/vowel-group counts, all
    // single codegen'd regexp passes. The synthetic corpus carries no
    // terminal punctuation, so sentence boundaries are planted
    // deterministically (every " value " becomes " value. ") identically
    // in the oracle — the q_gopher/q_redact decoration pattern.
    Q("q_readability", (s, dir) => {
      val decorated = expr("replace(text, ' value ', ' value. ')")
      t(s, dir, "documents").select(
        col("doc_id") +: TextFunctions.readabilitySignals(decorated)
          .map { case (n, c) => c.as(n) }: _*)
    }, sql(
      """WITH t AS (SELECT doc_id, replace(text, ' value ', ' value. ') AS text
        |           FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words,
        |  CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS n_sentences,
        |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables,
        |  round(0.39 * (CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE)
        |          / greatest(len(regexp_extract_all(text, '[.!?]+')), 1))
        |    + 11.8 * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
        |          / greatest(len(regexp_split_to_array(trim(text), '\s+')), 1))
        |    - 15.59, 12) AS fk_grade
        |FROM t""".stripMargin), bench = true),

    // Corpus-relative token rarity: per doc, the count of its token
    // occurrences plus sum/min of their corpus-wide frequencies — exact
    // integers, the division-free form of a rarity score.
    Q("q_token_rarity", (s, dir) =>
      Curation.tokenRarity(t(s, dir, "documents")), sql(
      """WITH tk AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents),
        |f AS (SELECT tok, count(*) AS tf FROM tk GROUP BY tok)
        |SELECT doc_id, count(*) AS n_tok,
        |  CAST(sum(tf) AS BIGINT) AS sum_tf,
        |  CAST(min(tf) AS BIGINT) AS min_tf
        |FROM tk JOIN f USING (tok)
        |GROUP BY doc_id""".stripMargin), bench = true),

    // Corpus-relative bigram rarity: the division-free MLE bigram-LM
    // aggregate (exact integer numerators Σc(w1w2) and denominators
    // Σc(w1)); min_bg = 1 flags transitions seen nowhere else.
    Q("q_bigram_lm", (s, dir) =>
      Curation.bigramRarity(t(s, dir, "documents")), sql(
      """WITH arr AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
        |  FROM documents),
        |tk AS (SELECT doc_id, unnest(a) AS tok FROM arr),
        |uf AS (SELECT tok, count(*) AS c1 FROM tk GROUP BY tok),
        |bg AS (SELECT doc_id,
        |  unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i+1])) AS bg
        |  FROM arr),
        |bf AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY bg)
        |SELECT doc_id, count(*) AS n_bg,
        |  CAST(sum(c2) AS BIGINT) AS sum_bg,
        |  CAST(min(c2) AS BIGINT) AS min_bg,
        |  CAST(sum(c1) AS BIGINT) AS sum_prefix
        |FROM bg JOIN bf USING (bg)
        |  JOIN uf ON split_part(bg.bg, ' ', 1) = uf.tok
        |GROUP BY doc_id""".stripMargin), bench = true),

    // Ingest-time corpus-relative bigram scoring: new docs (doc_id % 5 = 0)
    // scored against the static rest — novel transitions (n_bg - n_hit)
    // are the OOD signal; corpus text aggregates once and never moves.
    Q("q_bigram_lm_incr", (s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.bigramRarityAgainstCorpus(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0))
    }, sql(
      """WITH cp AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') AS a
        |  FROM documents WHERE doc_id % 5 <> 0),
        |uf AS (SELECT tok, count(*) AS c1
        |       FROM (SELECT unnest(a) AS tok FROM cp) GROUP BY tok),
        |bf AS (SELECT bg, count(*) AS c2 FROM (
        |  SELECT unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i+1])) AS bg
        |  FROM cp) GROUP BY bg),
        |en AS (SELECT bf.bg, bf.c2, uf.c1
        |       FROM bf JOIN uf ON split_part(bf.bg, ' ', 1) = uf.tok),
        |nd AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i+1])) AS bg
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
        |        FROM documents WHERE doc_id % 5 = 0))
        |SELECT doc_id, count(*) AS n_bg,
        |  CAST(count(en.bg) AS BIGINT) AS n_hit,
        |  CAST(sum(coalesce(en.c2, 0)) AS BIGINT) AS sum_bg,
        |  CAST(sum(coalesce(en.c1, 0)) AS BIGINT) AS sum_prefix
        |FROM nd LEFT JOIN en USING (bg)
        |GROUP BY doc_id""".stripMargin), bench = true),

    // URL extraction + canonicalization (the CommonCrawl link-pipeline
    // step): planted URLs exercise case-folding host/scheme, default-port
    // strip (:80/:443), fragment drop, trailing-slash drop, and the
    // domain key for per-domain caps — all pure scan regexp/CASE steps
    // stated identically in the oracle.
    Q("q_urls", (s, dir) => {
      val injected = concat(col("text"),
        lit(" see HTTP://Example.COM:80/Path/index.html?q=1#frag"),
        when(col("doc_id") % 3 === 0, lit(" https://Secure.NET:443/"))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          concat(lit(" http://plain.org/a/b/ and http://h"),
            (col("doc_id") % 7).cast("string"), lit(".example.org/x#y")))
          .otherwise(lit("")))
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextFunctions.extractUrls(injected)).as("url"))
        .select(col("doc_id"), col("url"),
          TextFunctions.canonicalizeUrl(col("url")).as("canon"),
          TextFunctions.urlDomain(col("url")).as("domain"))
    }, sql(urlsOracleSql), bench = true),

    // Mixed-language (code-switching) audit: 32-token chunks each get the
    // n-gram language ID; a doc whose chunks disagree with its own doc-
    // level language beyond 20% is flagged. German-profile text planted
    // on %4 docs lands in the tail chunks, so the disagreement is real;
    // the 20% test is an integer cross-product. Composes chunkDocuments
    // with the fused NgramLangId — both already gated standalone.
    Q("q_lang_mix", (s, dir) => {
      val deco = concat(col("text"), when(col("doc_id") % 4 === 0,
        lit(" der die und das ein ist nicht zu der die und das ein ist"))
        .otherwise(lit("")))
      val docs = t(s, dir, "documents").select(col("doc_id"), deco.as("text"))
      val dLang = docs.select(col("doc_id"),
        TextFunctions.langIdNgram(col("text")).as("doc_lang"))
      Curation.chunkDocuments(docs, maxTokens = 32, overlap = 0)
        .select(col("doc_id"), TextFunctions.langIdNgram(col("chunk")).as("c_lang"))
        .join(dLang, Seq("doc_id"))
        .groupBy(col("doc_id"), col("doc_lang"))
        .agg(count(lit(1)).cast("long").as("n_chunks"),
          sum(when(col("c_lang") =!= col("doc_lang"), 1L).otherwise(0L))
            .cast("long").as("n_foreign"))
        .withColumn("mixed", col("n_foreign") * 5 >= col("n_chunks"))
    }, sql(langMixOracleSql), bench = true),

    // Safety blocklist filter: planted lexicon words on a doc_id schedule
    // (the redact pattern); n_hits counts whole-token lowercase matches
    // (an embedded substring never trips), keep = hits ≤ 5% of tokens by
    // integer cross-product — division-free, scan-bound.
    // blocklist: whole-token lowercase membership over the same decorated
    // text; keep by the 5% integer cross-product
    Q("q_blocklist", (s, dir) => {
      val injected = concat(col("text"),
        when(col("doc_id") % 6 === 0, lit(" BadWord1 badword2")).otherwise(lit("")),
        when(col("doc_id") % 17 === 0,
          lit(" badword1 badword1 badword1 badword1")).otherwise(lit("")),
        // substring trap: must NOT count ("xbadword1x" is not a hit)
        when(col("doc_id") % 9 === 0, lit(" xbadword1x")).otherwise(lit("")))
      t(s, dir, "documents").select(col("doc_id"),
          TextFunctions.tokenCount(injected).cast("long").as("n_tokens"),
          TextFunctions.blocklistHits(injected,
            Seq("badword1", "badword2", "zzzznever")).cast("long").as("n_hits"))
        .withColumn("keep", col("n_hits") * 20 <= col("n_tokens"))
    }, sql(
      """WITH t AS (SELECT doc_id,
        |    text
        |    || CASE WHEN doc_id % 6 = 0 THEN ' BadWord1 badword2' ELSE '' END
        |    || CASE WHEN doc_id % 17 = 0
        |            THEN ' badword1 badword1 badword1 badword1' ELSE '' END
        |    || CASE WHEN doc_id % 9 = 0 THEN ' xbadword1x' ELSE '' END AS tx
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(tx), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(regexp_split_to_array(trim(tx), '\s+'),
        |    x -> list_contains(['badword1', 'badword2', 'zzzznever'], lower(x))))
        |    AS BIGINT) AS n_hits,
        |  CAST(len(list_filter(regexp_split_to_array(trim(tx), '\s+'),
        |    x -> list_contains(['badword1', 'badword2', 'zzzznever'], lower(x))))
        |    AS BIGINT) * 20
        |  <= CAST(len(regexp_split_to_array(trim(tx), '\s+')) AS BIGINT) AS keep
        |FROM t""".stripMargin), bench = true),

    // Kneser-Ney bigram-LM sufficient statistics: the smoothed LM's exact
    // integer moments (c2, cpre, N1+ fwd/back, type count) in the
    // corrStats "one division away" discipline — the occurrence volume
    // collapses in ONE bigram-keyed agg, everything after is model-table
    // sized. Top-200 by (c2 desc, w1, w2) keeps the readout bounded.
    // Kneser-Ney sufficient stats: the same one-shuffle bigram census,
    // then model-table-sized joins; every column an exact integer
    Q("q_bigram_kn", (s, dir) =>
      Curation.kneserNeyStats(t(s, dir, "documents"), topK = 200), sql(
      """WITH arr AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') AS a FROM documents),
        |bg AS (SELECT unnest(list_transform(range(1, len(a)),
        |         i -> a[i] || ' ' || a[i+1])) AS bg FROM arr),
        |c AS (SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
        |        CAST(count(*) AS BIGINT) AS c2
        |      FROM bg GROUP BY 1, 2),
        |pre AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS cpre,
        |          CAST(count(*) AS BIGINT) AS n1fwd FROM c GROUP BY 1),
        |back AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1back FROM c GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM c)
        |SELECT w1, w2, c2, cpre, n1fwd, n1back,
        |  (SELECT n_types FROM t) AS n_types
        |FROM c JOIN pre USING (w1) JOIN back USING (w2)
        |ORDER BY c2 DESC, w1, w2 LIMIT 200""".stripMargin), bench = true),

    // KN perplexity quality filter (CCNet's wiki-LM step) — the apply
    // side kneserNeyStats exists to serve: per-doc mean bigram
    // log-probability under the corpus-trained interpolated-KN model,
    // thresholded keep/drop. Per-bigram-TYPE ln quantizes to 1e-6
    // fixed point (the unigram-LM gate's discipline); the per-doc
    // readout and the threshold compare are exact integers.
    // KN perplexity: the same bigram census twice (occurrences keep
    // doc_id, the model collapses the reference to types), per-TYPE
    // fixed-point ln, integer per-doc rollup, integer threshold compare
    Q("q_perplexity_filter", (s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.perplexityFilter(docs, docs, minMeanLpMicros = -3400000L)
    }, sql(perplexityOracleSql(
      refWhere = "TRUE", thrMicros = Some(-3400000L))), bench = true),

    // Cross-corpus perplexity: score EVERY doc under a model trained on
    // the doc_id%3 reference slice — exercises the unseen-bigram uniform
    // fallback ln(1/n_types) that same-corpus scoring never takes.
    // cross-corpus scoring: model from the doc_id%3 slice; bigrams absent
    // from it take the uniform ln(1/n_types) fallback
    Q("q_perplexity_cross", (s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.perplexityScore(docs, docs.filter(col("doc_id") % 3 === 0))
    }, sql(perplexityOracleSql(
      refWhere = "doc_id % 3 = 0", thrMicros = None)), bench = true),

    // TRIGRAM interpolated KN (one order below CCNet's KenLM): the full
    // continuation-count cascade P3 -> P2 -> P1 with per-level backoff at
    // score time — model from the doc_id%3 slice so unseen trigrams and
    // unseen contexts both fire; every level an exact-integer model
    // table, the readout Σ cnt·round(ln P · 1e6) under the hash.
    // trigram interpolated KN: full continuation cascade + score-time
    // backoff, replayed branch for branch
    Q("q_perplexity3", (s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.perplexityScore3(docs, docs.filter(col("doc_id") % 3 === 0))
    }, sql(perplexity3Sql)),

    // DSIR importance weights (Xie et al. 2023): per-doc sum of hashed-
    // bigram log-ratios ln p_T − ln p_S (target = lang='en', Laplace
    // smoothing over 256 md5 buckets) — one tokenize scan, a 256-row
    // broadcast model, integer per-doc rollup under the hash.
    // DSIR: same bigram census, md5-bucket features, per-bucket
    // fixed-point log-ratio with Laplace smoothing, integer rollup
    Q("q_dsir_weights", (s, dir) =>
      Curation.dsirLogRatios(t(s, dir, "documents"), col("lang") === "en"),
      sql(dsirOracleSql(thrMicros = None)), bench = true),

    // The DSIR selection: keep docs whose mean per-feature log-ratio is
    // >= 0 — "more target-like than source-like", integer compare.
    Q("q_dsir_sample", (s, dir) =>
      Curation.dsirFilter(t(s, dir, "documents"), col("lang") === "en"),
      sql(dsirOracleSql(thrMicros = Some(0L)))),

    // HTML/markup strip (the CommonCrawl text-extraction step): the
    // corpus gains deterministic doc_id-scheduled markup — script/style
    // bodies, comments, tags, the five standard entities (the q_redact
    // injection pattern) — and the fixed regexp chain must recover clean
    // prose; script/comment CONTENT must vanish, entity text must decode.
    Q("q_strip_markup", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.stripMarkup(webMarkupDecoration).as("clean")),
      sql(stripMarkupOracleSql), bench = true),

    // Unigram-LM (SentencePiece-style) tokenizer training: seed substring
    // inventory, then EM rounds of integer-Viterbi segmentation over the
    // DISTINCT-WORD table against the broadcast piece scores — the other
    // real-world tokenizer family next to BPE, corpus shuffle paid once.
    Q("q_unigram_seed", (s, dir) =>
      operators.Tokenizer.unigramSeed(t(s, dir, "documents"),
        maxPieceLen = 4, minSeedCount = 2), sql(unigramOracleSql(2, 4, 2, "seed"))),

    Q("q_unigram_train", (s, dir) =>
      operators.Tokenizer.unigramTrain(t(s, dir, "documents"),
        rounds = 2, maxPieceLen = 4, minSeedCount = 2),
      sql(unigramOracleSql(2, 4, 2, "train")), bench = true),

    // encode readout: distinct words segment once under the trained
    // inventory, one word-keyed join scores every document
    Q("q_unigram_encode", (s, dir) => {
      val docs = t(s, dir, "documents")
      operators.Tokenizer.tokenCountsUnderUnigram(docs,
        operators.Tokenizer.unigramTrain(docs, rounds = 2, maxPieceLen = 4),
        maxPieceLen = 4)
    }, sql(unigramOracleSql(2, 4, 2, "encode")), bench = true),

    // WordPiece (BERT-style) greedy longest-match tokenizer — the THIRD
    // real tokenizer family next to BPE merges and unigram Viterbi:
    // role-split substring census (word-start vs "##" continuation), then
    // each DISTINCT word consumes greedily under the broadcast vocab.
    // Greedy is memoryless, so the oracle replays it from a static
    // per-(word, offset) longest-match table instead of a path search.
    // WordPiece-objective merge TRAINING: argmax by the likelihood score
    // ln c(ab) - ln c(a) - ln c(b) (quantized to round(·10⁶) integers, the
    // unigram discipline) instead of BPE's raw count — the third trainer
    // next to trainBpe and unigramTrain; the oracle DERIVES each round's
    // winner and replays the merge, nothing is hardcoded.
    Q("q_wordpiece_train", (s, dir) => {
      import s.implicits._
      operators.Tokenizer.trainWordpieceMerges(
          t(s, dir, "documents"), numMerges = 6)
        .zipWithIndex.map { case ((a, b, n, sq), i) => (i + 1, a, b, n, sq) }
        .toDF("rank", "a", "b", "n", "score_q")
    }, sql(wordpieceTrainOracleSql(6)), bench = true),

    Q("q_wordpiece_vocab", (s, dir) =>
      operators.Tokenizer.wordpieceVocab(t(s, dir, "documents"),
        maxPieceLen = 4, minCount = 2), sql(wordpieceOracleSql(4, 2, "vocab"))),

    Q("q_wordpiece_encode", (s, dir) => {
      val docs = t(s, dir, "documents")
      operators.Tokenizer.tokenCountsUnderWordpiece(docs,
        operators.Tokenizer.wordpieceVocab(docs, maxPieceLen = 4, minCount = 2),
        maxPieceLen = 4)
    }, sql(wordpieceOracleSql(4, 2, "encode")), bench = true),

    // PMI collocations: top-100 over-represented co-occurring term pairs
    // — scan-local pair generation from sorted distinct-term arrays, one
    // Σd² pair-count shuffle, vocab-sized df joins; the ratio double is
    // one division of exact integers (bit-portable), ln is caller-side.
    Q("q_collocations", (s, dir) =>
      Curation.collocations(t(s, dir, "documents")), sql(
      """WITH el AS (
        |  SELECT doc_id, list_sort(list_distinct(
        |    regexp_split_to_array(trim(text), '\s+'))) AS ts
        |  FROM documents
        |  WHERE len(list_distinct(regexp_split_to_array(trim(text), '\s+')))
        |    BETWEEN 2 AND 1000),
        |tk AS (SELECT doc_id, unnest(ts) AS t FROM el),
        |cx AS (SELECT t, count(*) AS c FROM tk GROUP BY t),
        |n AS (SELECT count(*) AS n FROM el),
        |p AS (SELECT a.t AS x, b.t AS y, count(*) AS c_xy
        |      FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND a.t < b.t
        |      GROUP BY 1, 2),
        |s AS (SELECT x, y, c_xy, cx1.c AS c_x, cx2.c AS c_y,
        |        CAST(c_xy * n AS DOUBLE) / (cx1.c * cx2.c) AS ratio
        |      FROM p JOIN cx cx1 ON cx1.t = x JOIN cx cx2 ON cx2.t = y, n
        |      WHERE c_xy >= 5)
        |SELECT x, y, c_xy, c_x, c_y, ratio FROM s
        |ORDER BY ratio DESC, x, y LIMIT 100""".stripMargin), bench = true),

    // BPE encode-side readout: per-doc subtoken counts under a fixed
    // 3-merge list — the corpus pays the merge fold once per DISTINCT
    // word, docs score through one word-keyed join.
    Q("q_bpe_encode", (s, dir) =>
      graft.operators.Tokenizer.tokenCountsUnderMerges(
        t(s, dir, "documents"),
        Seq(("e", "r"), ("i", "n"), ("o", "w"))), sql(
      """WITH RECURSIVE w AS (
        |  SELECT tok AS w FROM (
        |    SELECT DISTINCT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |    FROM documents)
        |  WHERE len(tok) >= 1),
        |r1 AS (
        |  SELECT w, ' ' || array_to_string(regexp_extract_all(w, '.'), ' ')
        |    || ' ' AS s
        |  FROM w
        |  UNION ALL
        |  SELECT w, replace(s, ' e r ', ' er ') FROM r1
        |  WHERE strpos(s, ' e r ') > 0),
        |f1 AS (SELECT w, s FROM r1 WHERE strpos(s, ' e r ') = 0),
        |r2 AS (
        |  SELECT w, s FROM f1
        |  UNION ALL
        |  SELECT w, replace(s, ' i n ', ' in ') FROM r2
        |  WHERE strpos(s, ' i n ') > 0),
        |f2 AS (SELECT w, s FROM r2 WHERE strpos(s, ' i n ') = 0),
        |r3 AS (
        |  SELECT w, s FROM f2
        |  UNION ALL
        |  SELECT w, replace(s, ' o w ', ' ow ') FROM r3
        |  WHERE strpos(s, ' o w ') > 0),
        |f3 AS (SELECT w, s FROM r3 WHERE strpos(s, ' o w ') = 0),
        |enc AS (SELECT w,
        |    CAST(len(regexp_split_to_array(trim(s), ' ')) AS BIGINT) AS n_sub
        |  FROM f3),
        |tk AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents)
        |SELECT doc_id, count(*) AS n_words,
        |  CAST(sum(n_sub) AS BIGINT) AS n_subtokens
        |FROM tk JOIN enc USING (w)
        |GROUP BY doc_id""".stripMargin), bench = true),

    // Vocabulary coverage curve: frequency-ranked vocab with exact
    // running occurrence totals via the two-phase prefix sum — the
    // tokenizer-design table; coverage = cum_freq/total, one division
    // away from the gated integers.
    Q("q_vocab_coverage", (s, dir) =>
      Curation.vocabCoverage(t(s, dir, "documents")), sql(
      """WITH tk AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents),
        |f AS (SELECT term, count(*) AS freq FROM tk GROUP BY 1),
        |t AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM f),
        |r AS (SELECT term, freq,
        |        CAST(sum(freq) OVER (ORDER BY freq DESC, term
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_freq,
        |        CAST(row_number() OVER (ORDER BY freq DESC, term) AS BIGINT)
        |          AS rnk
        |      FROM f)
        |SELECT rnk, term, freq, cum_freq, total FROM r, t
        |WHERE rnk <= 1000""".stripMargin), bench = true),

    // Char-entropy quality signal in its hash-gateable form: the one-pass
    // code-point diversity profile's exact integers (total, distinct, top
    // count, Simpson Σcnt² — Rényi-2 entropy = log2(n²/Σcnt²)). The
    // Shannon double stays out of the gate (libm/order-dependent).
    Q("q_char_entropy", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.charProfile(col("text")).as("p"))
        .select(col("doc_id"), col("p.n_cp").as("n_cp"),
          col("p.n_distinct").as("n_distinct"),
          col("p.max_cnt").as("max_cnt"), col("p.sum_sq").as("sum_sq")), sql(
      """WITH c AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
        |           FROM documents),
        |h AS (SELECT doc_id, ch, count(*) AS cnt FROM c GROUP BY doc_id, ch)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_cp,
        |  count(*) AS n_distinct,
        |  CAST(max(cnt) AS BIGINT) AS max_cnt,
        |  CAST(sum(cnt * cnt) AS BIGINT) AS sum_sq
        |FROM h GROUP BY doc_id""".stripMargin), bench = true),

    // Per-doc top-3 TF-IDF keywords: ONE (doc, term) keyed shuffle, df
    // derived from that same exchange (ReuseExchange), N broadcast,
    // map-side top-k window. Integers under the hash; ln only orders.
    Q("q_tfidf_terms", (s, dir) =>
      graft.operators.Retrieval.tfidfTopTerms(t(s, dir, "documents")), sql(
      """WITH tk AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |        tf.tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) AS score
        |      FROM tf JOIN df USING (term), n)
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term) AS INTEGER) AS rnk,
        |  term, tf, df
        |FROM s QUALIFY rnk <= 3""".stripMargin), bench = true),

    // Compression-ratio quality signal (rows-only gate BY DESIGN: DuckDB
    // has no zlib surface, so no oracleSql entry exists — the driver
    // records the weaker rows>0 check; the signal's ORDER is spec-pinned).
    Q("q_compress_signal", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        octet_length(col("text")).cast("long").as("byte_len"),
        TextFunctions.deflateSize(col("text")).as("deflate_len")),
      unchecked("DuckDB has no zlib (deflate) function to restate the compressed length"), bench = true),

    // Unicode canonicalization gate: append a DECOMPOSED accent (e +
    // combining U+0301) to every doc and NFC-normalize — the composed
    // output is one char shorter, and DuckDB's nfc_normalize computes the
    // identical bytes, so the full normalized string sits under the hash.
    Q("q_unicode_norm", (s, dir) => {
      def raw = concat(col("text"), lit(" fiance\u0301"))
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.normalizeUnicode(raw).as("text_nfc"),
        length(raw).cast("long").as("len_raw"),
        length(TextFunctions.normalizeUnicode(raw)).cast("long").as("len_nfc"))
    }, sql(
      """SELECT doc_id,
        |  nfc_normalize(text || ' fiance' || chr(769)) AS text_nfc,
        |  CAST(length(text || ' fiance' || chr(769)) AS BIGINT) AS len_raw,
        |  CAST(length(nfc_normalize(text || ' fiance' || chr(769))) AS BIGINT) AS len_nfc
        |FROM documents""".stripMargin), bench = true),
  )
}
