package graft
package queries

import graft.functions.Sketches
import graft.operators.{Curation, Dedup}
import org.apache.spark.sql.functions._
import Kit._
import Q._

/** Deduplication: exact, n-gram, MinHash, SimHash, embedding, fuzzy and
  * substring dedup, clustering of duplicates, record linkage. */
private[graft] object DedupQueries {

  val all: Seq[Q] = Seq(
    // Blocked fuzzy near-dup pairs over a TITLE-like short field (first
    // 64 chars): prefix blocks, length pre-filter, levenshtein <= 5 — the
    // typo-level signal the set-similarity family can't see. Fuzzy
    // matching is a short-string tool (cost is per-CHAR-pair); whole
    // documents belong to the n-gram/minhash family.
    Q("q_dedup_fuzzy", (s, dir) =>
      operators.Dedup.fuzzyPairs(
        t(s, dir, "documents").select(col("doc_id"),
          substring(col("text"), 1, 64).as("title")),
        maxDist = 5, blockPrefix = 8, textCol = "title", maxBlockSize = Some(80)), sql(
      """WITH d AS (SELECT doc_id, substr(text, 1, 64) AS title FROM documents),
        |k AS (
        |  SELECT doc_id, title, substr(lower(trim(title)), 1, 8) AS blk FROM d
        |  WHERE substr(lower(trim(title)), 1, 8) IS NOT NULL
        |    AND len(substr(lower(trim(title)), 1, 8)) > 0),
        |c AS (SELECT blk FROM (SELECT blk, count(*) AS n FROM k GROUP BY blk)
        |      WHERE n <= 80),
        |f AS (SELECT k.* FROM k JOIN c USING (blk))
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(levenshtein(a.title, b.title) AS BIGINT) AS dist
        |FROM f a JOIN f b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |WHERE abs(len(a.title) - len(b.title)) <= 5
        |  AND levenshtein(a.title, b.title) <= 5""".stripMargin), bench = true),

    // Jaro-Winkler record linkage over the same TITLE field: the prefix-
    // weighted matcher (native byte-based expression, codegen'd, bit-
    // exact vs the oracle engine's jaro_winkler_similarity) — the raw
    // similarity doubles go under the hash gate.
    Q("q_link_jw", (s, dir) =>
      operators.Dedup.jaroWinklerPairs(
        t(s, dir, "documents").select(col("doc_id"),
          substring(col("text"), 1, 64).as("title")),
        threshold = 0.88, blockPrefix = 8, textCol = "title",
        maxBlockSize = Some(80)), sql(
      """WITH d AS (SELECT doc_id, substr(text, 1, 64) AS title FROM documents),
        |k AS (
        |  SELECT doc_id, title, substr(lower(trim(title)), 1, 8) AS blk FROM d
        |  WHERE substr(lower(trim(title)), 1, 8) IS NOT NULL
        |    AND len(substr(lower(trim(title)), 1, 8)) > 0),
        |c AS (SELECT blk FROM (SELECT blk, count(*) AS n FROM k GROUP BY blk)
        |      WHERE n <= 80),
        |f AS (SELECT k.* FROM k JOIN c USING (blk))
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  jaro_winkler_similarity(a.title, b.title) AS jw
        |FROM f a JOIN f b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |WHERE jaro_winkler_similarity(a.title, b.title) >= 0.88""".stripMargin), bench = true),

    // Sorted-neighborhood linkage over the same titles (Hernández &
    // Stolfo): global (lower(trim(title)), id) rank via the two-phase
    // prefix machinery, each record vs its 5 rank-successors through a
    // bucket self-join (candidates n·w, never n²) — the blocking-FREE
    // second pass that still finds a pair whose block prefix carries the
    // typo. Jaro-Winkler verify, raw doubles under the gate.
    // sorted-neighborhood: global (key, id) rank, rank-successor pairs
    // within the window, Jaro-Winkler verify
    Q("q_link_snm", (s, dir) =>
      operators.Dedup.sortedNeighborhoodPairs(
        t(s, dir, "documents").select(col("doc_id"),
          substring(col("text"), 1, 64).as("title")),
        window = 5, threshold = 0.85, textCol = "title"), sql(
      """WITH d AS (SELECT doc_id, substr(text, 1, 64) AS title FROM documents),
        |k AS (SELECT doc_id, title, lower(trim(title)) AS key FROM d
        |      WHERE lower(trim(title)) IS NOT NULL
        |        AND len(lower(trim(title))) > 0),
        |r AS (SELECT doc_id, title,
        |        row_number() OVER (ORDER BY key, doc_id) AS rnk FROM k)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(b.rnk - a.rnk AS BIGINT) AS rank_gap,
        |  jaro_winkler_similarity(a.title, b.title) AS jw
        |FROM r a JOIN r b ON b.rnk - a.rnk BETWEEN 1 AND 5
        |WHERE jaro_winkler_similarity(a.title, b.title) >= 0.85""".stripMargin), bench = true),

    // ExactSubstr repeated-span removal (Lee et al. 2022, windowed): any
    // 12-token window occurring >= 2 times corpus-wide marks duplicated
    // positions; overlapping windows merge into maximal spans, removed
    // from every copy. The census shuffles md5s only.
    // repeated spans: window census on the window TEXT (equality on
    // strings == equality on md5s), islands merge, index-aware rebuild
    Q("q_dedup_substr", (s, dir) =>
      Dedup.removeRepeatedSpans(t(s, dir, "documents"),
        windowTokens = 12, minCount = 2), sql(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |w AS (SELECT doc_id, i, array_to_string(tk[i+1 : i+12], ' ') AS ws
        |      FROM t, UNNEST(range(0, greatest(len(tk) - 11, 0))) r(i)),
        |c AS (SELECT ws FROM (SELECT ws, count(*) AS n FROM w GROUP BY ws)
        |      WHERE n >= 2),
        |d AS (SELECT doc_id, i FROM w WHERE ws IN (SELECT ws FROM c)),
        |g AS (SELECT doc_id, i,
        |        sum(CASE WHEN pe IS NULL OR i > pe THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY doc_id ORDER BY i
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
        |      FROM (SELECT doc_id, i,
        |              max(i + 12) OVER (PARTITION BY doc_id ORDER BY i
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
        |            FROM d)),
        |sp AS (SELECT doc_id, gid, min(i) AS s, max(i + 12) AS e
        |       FROM g GROUP BY 1, 2),
        |kp AS (SELECT t.doc_id, j, tk[j+1] AS tok
        |       FROM t, UNNEST(range(0, len(tk))) r(j)
        |       WHERE NOT EXISTS (SELECT 1 FROM sp
        |                         WHERE sp.doc_id = t.doc_id
        |                           AND j >= sp.s AND j < sp.e))
        |SELECT t.doc_id,
        |  coalesce(string_agg(kp.tok, ' ' ORDER BY kp.j), '') AS text,
        |  CAST(len(t.tk) - count(kp.j) AS BIGINT) AS n_removed
        |FROM t LEFT JOIN kp ON kp.doc_id = t.doc_id
        |GROUP BY t.doc_id, len(t.tk)""".stripMargin), bench = true),

    // C4-style span dedup: chunk every doc into 32-token spans, keep each
    // distinct span's FIRST occurrence (by doc, then position) across the
    // whole corpus — the sub-document dedup whole-doc md5 can't see.
    Q("q_dedup_spans", (s, dir) => {
      val chunks = Curation.chunkDocuments(
        t(s, dir, "documents"), maxTokens = 32, overlap = 0)
      Dedup.firstOccurrence(chunks, col("chunk"), Seq(col("doc_id"), col("chunk_idx")))
        .select("doc_id", "chunk_idx")
    }, sql(
      """WITH ch AS (
        |  SELECT doc_id, CAST((s - 1) // 32 AS BIGINT) AS chunk_idx,
        |         array_to_string(toks[s:s+31], ' ') AS chunk
        |  FROM (SELECT doc_id,
        |          coalesce(regexp_split_to_array(trim(text), '\s+'), []) AS toks
        |        FROM documents),
        |       UNNEST(range(1, greatest(len(toks) - 1, 0) + 2, 32)) AS u(s))
        |SELECT doc_id, chunk_idx FROM (
        |  SELECT doc_id, chunk_idx,
        |    row_number() OVER (PARTITION BY md5(chunk)
        |      ORDER BY doc_id, chunk_idx) AS rk
        |  FROM ch)
        |WHERE rk = 1""".stripMargin), bench = true),

    // Span dedup with reassembly (the C4 shape end-to-end): surviving
    // 32-token spans rejoin into per-document cleaned text in position
    // order — one fingerprint window + one doc-keyed agg.
    Q("q_dedup_rebuild", (s, dir) => {
      val chunks = Curation.chunkDocuments(
        t(s, dir, "documents"), maxTokens = 32, overlap = 0)
      Dedup.rebuildFromSpans(chunks, "doc_id", "chunk_idx", "chunk")
    }, sql(
      """WITH ch AS (
        |  SELECT doc_id, CAST((s - 1) // 32 AS BIGINT) AS chunk_idx,
        |         array_to_string(toks[s:s+31], ' ') AS chunk
        |  FROM (SELECT doc_id,
        |          coalesce(regexp_split_to_array(trim(text), '\s+'), []) AS toks
        |        FROM documents),
        |       UNNEST(range(1, greatest(len(toks) - 1, 0) + 2, 32)) AS u(s)),
        |k AS (
        |  SELECT doc_id, chunk_idx, chunk FROM (
        |    SELECT doc_id, chunk_idx, chunk,
        |      row_number() OVER (PARTITION BY md5(chunk)
        |        ORDER BY doc_id, chunk_idx) AS rk
        |    FROM ch)
        |  WHERE rk = 1)
        |SELECT doc_id, string_agg(chunk, ' ' ORDER BY chunk_idx) AS rebuilt
        |FROM k GROUP BY doc_id""".stripMargin), bench = true),

    // Corpus hygiene report: per-source row count, distinct content
    // fingerprints, exact-duplicate rows — the per-crawl dashboard a
    // curation team watches. One keyed agg over (source, 16-byte md5):
    // text reduces to fingerprints scan-side and never shuffles.
    Q("q_dedup_report", (s, dir) =>
      t(s, dir, "documents").groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_distinct"),
          (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dup_rows")), sql(
      """SELECT source, count(*) AS n_docs,
        |  count(DISTINCT md5(text)) AS n_distinct,
        |  count(*) - count(DISTINCT md5(text)) AS n_dup_rows
        |FROM documents GROUP BY source""".stripMargin), bench = true),

    // Incremental-ingest dedup: new docs anti-joined against a reference
    // corpus's md5 fingerprint set (stream-static-capable shape; the
    // "corpus" here is the doc_id%3==0 slice of the same table).
    Q("q_dedup_incr", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.dropExistingIn(
        docs.select(col("doc_id"), col("text")),
        docs.filter(col("doc_id") % 3 === 0).select(col("text")))
        .select("doc_id")
    }, sql(
      """SELECT d.doc_id
        |FROM documents d
        |LEFT JOIN (SELECT DISTINCT md5(text) AS fp FROM documents
        |           WHERE doc_id % 3 = 0) c
        |  ON md5(d.text) = c.fp
        |WHERE c.fp IS NULL""".stripMargin), bench = true),

    Q("q_dedup_exact", (s, dir) => Dedup.exact(t(s, dir, "documents")), sql(
      "SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_dups FROM documents GROUP BY 1"),
      bench = true),

    Q("q_dedup_ngram", (s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), threshold = 0.5), sql(
      """WITH s AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    len(list_intersect(a.sh, b.sh)) AS i, len(a.sh) AS la, len(b.sh) AS lb
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
        |SELECT a_id, b_id, CAST(i AS DOUBLE) / (la + lb - i) AS jac
        |FROM p WHERE CAST(i AS DOUBLE) / (la + lb - i) >= 0.5""".stripMargin)),

    // EXACT Jaccard-threshold pairs via PPJoin prefix filtering: the
    // candidate join runs only over each doc's RAREST sz-ceil(tau*sz)+1
    // shingles (ascending-df global order), so the hot boilerplate
    // shingles that dominate the full postings join's sum-df^2 never
    // generate candidates — same exact pair set, no df cap needed.
    // ppjoin is EXACT: the oracle is plain brute force at a higher tau
    Q("q_dedup_ppjoin", (s, dir) =>
      Dedup.ppjoinPairs(t(s, dir, "documents"), threshold = 0.6), sql(
      """WITH s AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    len(list_intersect(a.sh, b.sh)) AS i, len(a.sh) AS la, len(b.sh) AS lb
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
        |SELECT a_id, b_id, CAST(i AS BIGINT) AS inter,
        |  CAST(i AS DOUBLE) / (la + lb - i) AS jac
        |FROM p WHERE CAST(i AS DOUBLE) / (la + lb - i) >= 0.6""".stripMargin), bench = true),

    // Ingest-vs-corpus EXACT threshold pairs: prefixes cross-join under
    // the CORPUS-df global order, so the corpus census is reusable
    // across batches (the _incr discipline) and the result is exactly
    // the brute-force cross-side pair set.
    // cross-side brute force: batch docs against the corpus slice
    Q("q_dedup_ppjoin_incr", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.ppjoinAgainstCorpus(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0), threshold = 0.5)
    }, sql(
      """WITH s AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    len(list_intersect(a.sh, b.sh)) AS i, len(a.sh) AS la, len(b.sh) AS lb
        |  FROM s a JOIN s b ON a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0)
        |SELECT a_id, b_id, CAST(i AS BIGINT) AS inter,
        |  CAST(i AS DOUBLE) / (la + lb - i) AS jac
        |FROM p WHERE CAST(i AS DOUBLE) / (la + lb - i) >= 0.5""".stripMargin), bench = true),

    // Per-doc duplicate-shingle fraction (the Dolma-style contamination
    // score a curator thresholds BEFORE paying for pairwise dedup): no
    // pair space at all — postings df join back on the same shingle key,
    // exact integer counts + one division.
    // dup_ngram_frac: per-doc duplicate-shingle stats; shingle-less docs
    // keep a row (0 shingles, null fraction) via the left join back
    Q("q_dup_ngram_frac", (s, dir) =>
      Dedup.dupShingleStats(t(s, dir, "documents")), sql(
      """WITH s AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)),
        |p AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
        |f AS (SELECT shingle, count(*) AS df FROM p GROUP BY shingle),
        |d AS (SELECT p.doc_id, count(*) AS n_shingles,
        |        count(CASE WHEN f.df >= 2 THEN 1 END) AS n_dup
        |      FROM p JOIN f USING (shingle) GROUP BY p.doc_id)
        |SELECT s.doc_id,
        |  CAST(COALESCE(d.n_shingles, 0) AS BIGINT) AS n_shingles,
        |  CAST(COALESCE(d.n_dup, 0) AS BIGINT) AS n_dup,
        |  CASE WHEN d.n_shingles > 0
        |       THEN CAST(d.n_dup AS DOUBLE) / d.n_shingles END AS dup_frac
        |FROM s LEFT JOIN d USING (doc_id)""".stripMargin)),

    // tf-weighted cosine near-dup pairs: the bag-of-words member of the
    // set-similarity family (jaccard sees presence, this weighs
    // repetition). Integer dot/norm evidence, two sqrts + one division.
    Q("q_dedup_cosine", (s, dir) =>
      Dedup.tfCosinePairs(t(s, dir, "documents"), threshold = 0.9, ngram = 3), sql(
      """WITH tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS term
        |    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |          FROM documents)) GROUP BY 1, 2),
        |n AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS n2 FROM tf GROUP BY 1),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |        CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
        |      FROM tf a JOIN tf b ON a.term = b.term AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |c AS (SELECT a_id, b_id, dot, na.n2 AS na2, nb.n2 AS nb2,
        |        CAST(dot AS DOUBLE) /
        |          (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
        |          AS cos
        |      FROM p JOIN n na ON na.doc_id = a_id JOIN n nb ON nb.doc_id = b_id)
        |SELECT a_id, b_id, dot, na2, nb2, cos FROM c WHERE cos >= 0.9""".stripMargin),
      bench = true),

    // Ingest-vs-corpus NEAR-dup (the fuzzy dropExistingIn): new batch's
    // shingle postings joined against the corpus's — Σ df_new·df_corpus
    // pair space, never |new|x|corpus|; full-set-size Jaccard.
    Q("q_dedup_ngram_incr", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.ngramJaccardAgainstCorpus(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0), threshold = 0.5)
    }, sql(
      """WITH s AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    len(list_intersect(a.sh, b.sh)) AS i, len(a.sh) AS la, len(b.sh) AS lb
        |  FROM s a JOIN s b ON a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0)
        |SELECT a_id, b_id, CAST(i AS DOUBLE) / (la + lb - i) AS jac
        |FROM p WHERE CAST(i AS DOUBLE) / (la + lb - i) >= 0.5""".stripMargin), bench = true),

    // Asymmetric containment: |A∩B| / min(|A|,|B|) — catches a document
    // embedded inside a longer one, which Jaccard structurally misses.
    Q("q_dedup_containment", (s, dir) =>
      Dedup.ngramContainmentPairs(t(s, dir, "documents"), threshold = 0.8), sql(
      """WITH s AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    len(list_intersect(a.sh, b.sh)) AS i, len(a.sh) AS la, len(b.sh) AS lb
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
        |SELECT a_id, b_id, CAST(i AS DOUBLE) / least(la, lb) AS containment
        |FROM p WHERE CAST(i AS DOUBLE) / least(la, lb) >= 0.8""".stripMargin)),

    // LSH path; oracle = the same brute-force pair SQL (LSH misses at
    // j>=0.5 with 32x4 bands are verified-absent on this data locally).
    // The boilerplate-shingle guard (maxShingleDf) under its own oracle:
    // shingles shared by > 5 docs are dropped BEFORE the df-squared postings
    // self-join; denominators keep the full set sizes, so capped Jaccard can
    // only go down — at this SF every true >= 0.5 pair still survives.
    Q("q_dedup_ngram_capped", (s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), threshold = 0.5,
        maxShingleDf = Some(5)), sql(
      """WITH s AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)),
        |post AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS shingle FROM s),
        |keep AS (SELECT shingle FROM post GROUP BY shingle HAVING count(*) <= 5),
        |kp AS (SELECT post.* FROM post JOIN keep USING (shingle)),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i,
        |        any_value(a.sz) AS la, any_value(b.sz) AS lb
        |      FROM kp a JOIN kp b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |      GROUP BY a.doc_id, b.doc_id)
        |SELECT a_id, b_id, CAST(i AS DOUBLE) / (la + lb - i) AS jac
        |FROM p WHERE CAST(i AS DOUBLE) / (la + lb - i) >= 0.5""".stripMargin), bench = true),

    Q("q_dedup_minhash", (s, dir) =>
      Dedup.minhashLsh(t(s, dir, "documents"), threshold = 0.5),
      twin("q_dedup_ngram"), bench = true),

    // Dedup-quality readout: pair precision/recall of simhash@hamming<=6
    // against exact bigram-Jaccard>=0.5 — the recallAtK of the dedup
    // family, the number a banding/hamming parameter sweep optimizes.
    // pair precision/recall: the simhash and exact-jaccard oracles
    // inlined, canonical (u, v) join, two scalar counts, two divisions
    // Not a headliner: its exact side is the quadratic oracle family.
    Q("q_dedup_recall", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.pairRecall(
        Dedup.simhashPairs(docs, maxHamming = 6, portable = true),
        Dedup.ngramJaccardPairs(docs, threshold = 0.5))
    }, sql(
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        |  FROM documents WHERE text IS NOT NULL),
        |hv AS (
        |  SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15))::UBIGINT AS BIGINT) AS h FROM tok),
        |votes AS (
        |  SELECT doc_id, b, SUM(CASE WHEN (h >> CAST(b AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM hv CROSS JOIN range(60) r(b)
        |  GROUP BY doc_id, b),
        |sigs AS (
        |  SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << CAST(b AS INTEGER)) ELSE 0 END) AS BIGINT) AS sig
        |  FROM votes GROUP BY doc_id),
        |ap AS (SELECT a.doc_id AS u, b.doc_id AS v
        |       FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        |       WHERE bit_count(xor(a.sig, b.sig)) <= 6),
        |s AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)),
        |p AS (
        |  SELECT a.doc_id AS u, b.doc_id AS v,
        |    len(list_intersect(a.sh, b.sh)) AS i, len(a.sh) AS la, len(b.sh) AS lb
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id),
        |ex AS (SELECT u, v FROM p WHERE CAST(i AS DOUBLE) / (la + lb - i) >= 0.5)
        |SELECT
        |  CAST((SELECT count(*) FROM ex) AS BIGINT) AS n_exact,
        |  CAST((SELECT count(*) FROM ap) AS BIGINT) AS n_approx,
        |  CAST((SELECT count(*) FROM ex JOIN ap USING (u, v)) AS BIGINT) AS hits,
        |  CAST((SELECT count(*) FROM ex JOIN ap USING (u, v)) AS DOUBLE)
        |    / (SELECT count(*) FROM ex) AS recall,
        |  CAST((SELECT count(*) FROM ex JOIN ap USING (u, v)) AS DOUBLE)
        |    / (SELECT count(*) FROM ap) AS prec""".stripMargin)),

    // Pairs -> dedup DECISION: connected components over the pair graph,
    // min-id canonical label per cluster (iterative label propagation;
    // oracle = recursive-CTE transitive closure over the same pairs).
    Q("q_dedup_clusters", (s, dir) =>
      Dedup.clusters(Dedup.ngramJaccardPairs(t(s, dir, "documents"), threshold = 0.5)), sql(
      """WITH RECURSIVE s AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    len(list_intersect(a.sh, b.sh)) AS i, len(a.sh) AS la, len(b.sh) AS lb
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id),
        |pp AS (SELECT a_id, b_id FROM p WHERE CAST(i AS DOUBLE) / (la + lb - i) >= 0.5),
        |e AS (SELECT a_id AS src, b_id AS dst FROM pp UNION SELECT b_id, a_id FROM pp),
        |reach(src, dst) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)
        |SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src""".stripMargin),
      bench = true),

    // ...and the user-facing result: the corpus with one doc kept per
    // cluster (min-id survivor), everything unpaired untouched.
    Q("q_dedup_survivors", (s, dir) =>
      Dedup.survivors(t(s, dir, "documents").select("doc_id", "source"),
        Dedup.ngramJaccardPairs(t(s, dir, "documents"), threshold = 0.5)), sql(
      """WITH RECURSIVE s AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    len(list_intersect(a.sh, b.sh)) AS i, len(a.sh) AS la, len(b.sh) AS lb
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id),
        |pp AS (SELECT a_id, b_id FROM p WHERE CAST(i AS DOUBLE) / (la + lb - i) >= 0.5),
        |e AS (SELECT a_id AS src, b_id AS dst FROM pp UNION SELECT b_id, a_id FROM pp),
        |reach(src, dst) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
        |lab AS (SELECT src AS id, MIN(dst) AS root FROM reach GROUP BY src)
        |SELECT doc_id, source FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM lab WHERE id <> root)""".stripMargin), bench = true),

    // ...or keep the BEST member of each cluster (here: longest doc,
    // n_chars DESC with id tiebreak) — the survivor rule curation wants.
    Q("q_dedup_best", (s, dir) =>
      Dedup.survivorsBy(t(s, dir, "documents").select("doc_id", "source", "n_chars"),
        Dedup.ngramJaccardPairs(t(s, dir, "documents"), threshold = 0.5),
        scoreCol = "n_chars"), sql(
      """WITH RECURSIVE s AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    len(list_intersect(a.sh, b.sh)) AS i, len(a.sh) AS la, len(b.sh) AS lb
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id),
        |pp AS (SELECT a_id, b_id FROM p WHERE CAST(i AS DOUBLE) / (la + lb - i) >= 0.5),
        |e AS (SELECT a_id AS src, b_id AS dst FROM pp UNION SELECT b_id, a_id FROM pp),
        |reach(src, dst) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
        |lab AS (SELECT src AS id, MIN(dst) AS root FROM reach GROUP BY src),
        |m AS (SELECT l.id, l.root, d.n_chars FROM lab l
        |      JOIN documents d ON d.doc_id = l.id),
        |r AS (SELECT id, row_number() OVER (PARTITION BY root
        |        ORDER BY n_chars DESC, id) AS rk FROM m)
        |SELECT doc_id, source, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM r WHERE rk <> 1)""".stripMargin)),

    // SimHash banding (no SQL oracle — rows-only check).
    // Portable hash => the whole banded-join + hamming pipeline is verified
    // against a from-scratch SQL simhash (rows-only before round 4).
    // From-scratch SQL simhash over the SAME portable 60-bit md5 token hash
    // (Sketches.md5Hash60): per (doc, bit) vote, sign -> signature, then the
    // exact hamming pair filter. The Spark side's banded candidate join is
    // lossless at maxHamming 6 < chunks 8 (pigeonhole), so brute-force pairs
    // here are the complete answer.
    Q("q_dedup_simhash", (s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), maxHamming = 6, portable = true)
        .withColumn("hamming", col("hamming").cast("long")), sql(
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        |  FROM documents WHERE text IS NOT NULL),
        |hv AS (
        |  SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15))::UBIGINT AS BIGINT) AS h FROM tok),
        |votes AS (
        |  SELECT doc_id, b, SUM(CASE WHEN (h >> CAST(b AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM hv CROSS JOIN range(60) r(b)
        |  GROUP BY doc_id, b),
        |sigs AS (
        |  SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << CAST(b AS INTEGER)) ELSE 0 END) AS BIGINT) AS sig
        |  FROM votes GROUP BY doc_id)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
        |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 6""".stripMargin), bench = true),

    Q("q_dedup_embed", (s, dir) =>
      Dedup.embeddingCosinePairs(t(s, dir, "embeddings"), threshold = 0.4), sql(
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  list_sum(list_transform(list_zip(a.e, b.e), z -> z[1] * z[2])) /
        |    (sqrt(list_sum(list_transform(a.e, x -> x * x))) *
        |     sqrt(list_sum(list_transform(b.e, x -> x * x)))) AS cos
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE list_sum(list_transform(list_zip(a.e, b.e), z -> z[1] * z[2])) /
        |    (sqrt(list_sum(list_transform(a.e, x -> x * x))) *
        |     sqrt(list_sum(list_transform(b.e, x -> x * x)))) >= 0.4""".stripMargin)),

    // LSH-bucketed scale path for embedding near-dups. Full oracle: the
    // hyperplane signatures are a pure function of the seeded planes, so
    // the candidate set is exactly {pairs with sig-hamming <= 2} — the SQL
    // reproduces the planes as literals and the bucketing as bit tests.
    // Two-sided multi-probe: both members probe own bucket + hamming-1
    // flips, so the candidate set is exactly {pairs with sig-hamming <= 2};
    // the engine's minimum-meeting-bucket filter is pure dedup and needs no
    // SQL counterpart.
    Q("q_dedup_embed_lsh", (s, dir) =>
      Dedup.embeddingCosinePairsLsh(t(s, dir, "embeddings"), threshold = 0.4), sql({
      val planes = graft.functions.VectorFunctions.makePlanes(8, 64)
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |b AS (SELECT vec_id, e, ${sqlLshBucket(planes)} AS bucket FROM v)
         |SELECT a.vec_id AS a_id, c.vec_id AS b_id, ${sqlCos("a", "c")} AS cos
         |FROM b a JOIN b c ON a.vec_id < c.vec_id
         |  AND bit_count(xor(a.bucket, c.bucket)) <= 2
         |WHERE ${sqlCos("a", "c")} >= 0.4""".stripMargin
    }), bench = true),

    // SemDeDup: within-cluster near-twin drop — the pair space is keyed by
    // cluster id, so the quadratic work is Σ|cluster|², never corpus².
    Q("q_dedup_semantic", (s, dir) =>
      Dedup.semanticDedup(t(s, dir, "embeddings"), k = 8, threshold = 0.4), sql(
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
        |av AS (SELECT asg.vec_id, asg.cluster, v.e FROM asg JOIN v USING (vec_id))
        |SELECT b.vec_id, b.cluster
        |FROM av b
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM av s
        |  WHERE s.cluster = b.cluster AND s.vec_id < b.vec_id
        |    AND list_sum(list_transform(list_zip(s.e, b.e), z -> z[1] * z[2])) /
        |      (sqrt(list_sum(list_transform(s.e, x -> x * x))) *
        |       sqrt(list_sum(list_transform(b.e, x -> x * x)))) >= 0.4)""".stripMargin),
      bench = true),

    // Incremental semantic ingest: a new crawl batch (vec_id % 3 != 0)
    // deduped against the kept corpus (vec_id % 3 = 0) — assignments are
    // scan-local on BOTH sides, then one cluster-keyed new×corpus join.
    Q("q_dedup_semantic_incr", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Dedup.semanticDedupAgainstCorpus(
        emb.filter(col("vec_id") % 3 =!= 0),
        emb.filter(col("vec_id") % 3 === 0),
        k = 8, threshold = 0.4)
    }, sql(
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |nw AS (SELECT * FROM v WHERE vec_id % 3 != 0),
        |rf AS (SELECT * FROM v WHERE vec_id % 3 = 0),
        |c AS (SELECT vec_id AS cid, e AS ce FROM rf ORDER BY vec_id LIMIT 8),
        |na AS (SELECT vec_id, cluster, e FROM (
        |  SELECT nw.vec_id, c.cid AS cluster, nw.e,
        |    row_number() OVER (PARTITION BY nw.vec_id ORDER BY
        |      list_sum(list_transform(list_zip(nw.e, c.ce), z -> z[1] * z[2])) /
        |        (sqrt(list_sum(list_transform(nw.e, x -> x * x))) *
        |         sqrt(list_sum(list_transform(c.ce, x -> x * x)))) DESC, c.cid) AS rn
        |  FROM nw, c) WHERE rn = 1),
        |ra AS (SELECT vec_id, cluster, e FROM (
        |  SELECT rf.vec_id, c.cid AS cluster, rf.e,
        |    row_number() OVER (PARTITION BY rf.vec_id ORDER BY
        |      list_sum(list_transform(list_zip(rf.e, c.ce), z -> z[1] * z[2])) /
        |        (sqrt(list_sum(list_transform(rf.e, x -> x * x))) *
        |         sqrt(list_sum(list_transform(c.ce, x -> x * x)))) DESC, c.cid) AS rn
        |  FROM rf, c) WHERE rn = 1)
        |SELECT b.vec_id, b.cluster
        |FROM na b
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM ra s
        |  WHERE s.cluster = b.cluster
        |    AND list_sum(list_transform(list_zip(s.e, b.e), z -> z[1] * z[2])) /
        |      (sqrt(list_sum(list_transform(s.e, x -> x * x))) *
        |       sqrt(list_sum(list_transform(b.e, x -> x * x)))) >= 0.4)""".stripMargin),
      bench = true),
  )
}
