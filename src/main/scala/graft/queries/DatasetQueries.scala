package graft
package queries

import graft.functions.TextFunctions
import graft.operators.{Curation, Dedup}
import org.apache.spark.sql.functions._
import Kit._
import Q._

/** Dataset curation: decontamination, splits, sampling, mixtures,
  * packing, chunking, the composed pipelines, and the export / sink /
  * source round trips. */
private[graft] object DatasetQueries {

  val all: Seq[Q] = Seq(
    // T5 span corruption (Raffel et al. masked-LM objective data): salted
    // deterministic mask spans -> numbered sentinels in the input, target
    // = sentinels + hidden tokens + final sentinel. Islands merge before
    // numbering; ~15% density at 3/20.
    // span corruption: same salted start predicate, interval union via
    // the lag-gap island window, sentinel numbering by island order,
    // both rebuilds ordered string_aggs (nulls drop mid-island slots)
    Q("q_span_corrupt", (s, dir) =>
      Curation.spanCorrupt(t(s, dir, "documents"), startEvery = 20, spanLen = 3), sql(
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |            FROM documents),
        |pos AS (SELECT doc_id, len(t) AS n, p, t[p+1] AS tok
        |        FROM tk, UNNEST(range(0, len(t))) r(p)),
        |st AS (SELECT doc_id, p, n FROM pos
        |       WHERE ('0x' || substr(md5(doc_id || ':' || p || ':corrupt'), 1, 15))::UBIGINT
        |             % 20 = 0),
        |cov AS (SELECT DISTINCT doc_id, c
        |        FROM st, UNNEST(range(p, least(p + 3, n))) r(c)),
        |g AS (SELECT doc_id, c,
        |        CASE WHEN c - lag(c) OVER (PARTITION BY doc_id ORDER BY c) = 1
        |             THEN 0 ELSE 1 END AS neww
        |      FROM cov),
        |gg AS (SELECT doc_id, c, neww,
        |        sum(neww) OVER (PARTITION BY doc_id ORDER BY c
        |          ROWS UNBOUNDED PRECEDING) - 1 AS gid
        |       FROM g),
        |m AS (SELECT pos.doc_id, pos.p, pos.tok, gg.neww, gg.gid
        |      FROM pos LEFT JOIN gg ON gg.doc_id = pos.doc_id AND gg.c = pos.p),
        |agg AS (SELECT doc_id,
        |    string_agg(CASE WHEN gid IS NULL THEN tok
        |                    WHEN neww = 1 THEN '<extra_id_' || gid || '>' END,
        |      ' ' ORDER BY p) AS input,
        |    string_agg(CASE WHEN gid IS NOT NULL THEN
        |        (CASE WHEN neww = 1 THEN '<extra_id_' || gid || '> ' ELSE '' END) || tok
        |      END, ' ' ORDER BY p) AS tgt,
        |    CAST(count(gid) AS BIGINT) AS n_masked,
        |    max(gid) + 1 AS ns
        |  FROM m GROUP BY doc_id)
        |SELECT doc_id, coalesce(input, '') AS input,
        |  CASE WHEN n_masked > 0 THEN tgt || ' <extra_id_' || ns || '>'
        |       ELSE '' END AS target,
        |  n_masked
        |FROM agg""".stripMargin), bench = true),

    // Mass-balanced training shards: snake allocation over the global
    // token-mass ranking — the equal-token shard layout hash sharding
    // can't promise; rank, shard, and masses all exact integers.
    // snake sharding: global mass rank, boustrophedon shard expression
    Q("q_shard_balance", (s, dir) =>
      Curation.balancedShards(
        t(s, dir, "documents").select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens")),
        "n_tokens", nShards = 8), sql(
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (SELECT doc_id, n_tokens,
        |        CAST(row_number() OVER (ORDER BY n_tokens DESC NULLS LAST, doc_id)
        |          AS BIGINT) AS rank
        |      FROM t)
        |SELECT doc_id, n_tokens, rank,
        |  CASE WHEN (rank - 1) % 16 < 8 THEN (rank - 1) % 16
        |       ELSE 15 - (rank - 1) % 16 END AS shard
        |FROM r""".stripMargin), bench = true),

    // Benchmark decontamination: distinct-3-gram overlap of every doc
    // against the deterministic pseudo-benchmark (doc_id % 97 = 0).
    Q("q_decontam", (s, dir) => {
      val docs = t(s, dir, "documents")
      operators.Decontaminate.overlap(docs, docs.filter(col("doc_id") % 97 === 0))
    }, sql(
      """WITH s AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> array_to_string(toks[i:i+2], ' ')))) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)),
        |b AS (SELECT DISTINCT sh FROM s WHERE doc_id % 97 = 0)
        |SELECT s.doc_id, count(*) AS n_shingles, count(b.sh) AS n_hit
        |FROM s LEFT JOIN b USING (sh)
        |GROUP BY 1""".stripMargin), bench = true),

    // The curation pipeline CAPSTONE, end-to-end under one hash gate:
    // model-based quality filter -> leakage-safe train split -> sharded
    // JSONL training export -> the WRITTEN shards read back. Three
    // operators composed exactly as a production pipeline chains them;
    // one mis-serialized byte or one mis-assigned row anywhere flips the
    // hash.
    // pipeline capstone: margin filter -> unsalted split bucket < 8000 ->
    // byte-estimator shard count over the SURVIVORS -> salted shard id
    Q("q_pipeline_export", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val kept = docs.where(graft.functions.TextFunctions.hashedBowMargin(
        col("text"), bowWeights, bias = 0.05) > 0.0)
      val train = Curation.withSplit(kept, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .where(col("split") === "train").select(col("doc_id"), col("text"))
      exportAndReadShards(s, train, "graft_pipe_export_gate_",
        maxShardBytes = 128L * 1024)
    }, sql({
      val wList = bowWeights.map(_.toString).mkString("[", ", ", "]")
      s"""WITH kept AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      list_reduce(list_prepend(0.05e0,
         |        list_transform(regexp_split_to_array(trim(text), '\\s+'), t ->
         |          ($wList)[CAST(('0x' || substr(md5(t), 1, 15))::UBIGINT % 64 AS INT) + 1])),
         |        (a, b) -> a + b) AS margin
         |    FROM documents)
         |  WHERE margin > 0),
         |tr AS (SELECT doc_id, text FROM kept
         |       WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
         |                  % 10000 AS BIGINT) < 8000),
         |p AS (SELECT coalesce(octet_length(encode(CAST(text AS VARCHAR))), 0)
         |        + octet_length(encode(CAST(doc_id AS VARCHAR))) + 32 AS rb FROM tr),
         |n AS (SELECT CAST(greatest(1, (SUM(rb) + 131071) // 131072) AS UBIGINT) AS ns FROM p)
         |SELECT tr.doc_id, tr.text,
         |  CAST(('0x' || substr(md5(CAST(tr.doc_id AS VARCHAR) || ':shard'), 1, 15))::UBIGINT
         |       % (SELECT ns FROM n) AS BIGINT) AS shard
         |FROM tr""".stripMargin
    }), bench = true),

    // Span-level decontamination (cross-corpus ExactSubstr): a 12-token
    // benchmark sentence is PLANTED at the end of every 9th doc (the
    // q_gopher decorate pattern), the reference corpus is that sentence,
    // and the operator must strip exactly the planted window from exactly
    // those docs — surrounding prose survives.
    // span decontamination: decorate identically, mark windows equal to
    // the planted benchmark sentence, islands-merge, rebuild
    Q("q_decontam_spans", (s, dir) => {
      val bench = "the quick brown fox jumps over the lazy dog again and again"
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 9 === 0, concat(col("text"), lit(" " + bench)))
          .otherwise(col("text")).as("text"))
      val ref = s.range(1).select(lit(bench).as("text"))
      Dedup.removeSpansMatching(docs, ref, windowTokens = 12)
    }, sql(
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN doc_id % 9 = 0
        |         THEN text || ' the quick brown fox jumps over the lazy dog again and again'
        |         ELSE text END AS text
        |  FROM documents),
        |t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM d),
        |w AS (SELECT doc_id, i FROM t, UNNEST(range(0, greatest(len(tk) - 11, 0))) r(i)
        |      WHERE array_to_string(tk[i+1 : i+12], ' ')
        |            = 'the quick brown fox jumps over the lazy dog again and again'),
        |g AS (SELECT doc_id, i,
        |        sum(CASE WHEN pe IS NULL OR i > pe THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY doc_id ORDER BY i
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
        |      FROM (SELECT doc_id, i,
        |              max(i + 12) OVER (PARTITION BY doc_id ORDER BY i
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
        |            FROM w)),
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

    // Bloom-screened decontamination: same contract as q_decontam (the
    // bloom is a pre-filter + exact confirm, so the ORACLE IS THE EXACT
    // PATH's), against a different pseudo-benchmark (doc_id % 89 = 0). The
    // scale path for a reference corpus too big to join in full.
    Q("q_decontam_bloom", (s, dir) => {
      val docs = t(s, dir, "documents")
      operators.Decontaminate.overlapBloom(docs,
        docs.filter(col("doc_id") % 89 === 0),
        expectedItems = 200000L, fpp = 0.03)
    }, sql(
      """WITH s AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> array_to_string(toks[i:i+2], ' ')))) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)),
        |b AS (SELECT DISTINCT sh FROM s WHERE doc_id % 89 = 0)
        |SELECT s.doc_id, count(*) AS n_shingles, count(b.sh) AS n_hit
        |FROM s LEFT JOIN b USING (sh)
        |GROUP BY 1""".stripMargin), bench = true),

    // Corpus-version diff: one row per id in either version with status
    // added/removed/changed/unchanged — the "what did this recuration
    // actually change" audit; fingerprints move, text never does.
    Q("q_corpus_diff", (s, dir) => {
      val docs = t(s, dir, "documents")
      operators.Dedup.corpusDiff(
        docs.filter(col("doc_id") % 10 < 8),
        docs.filter(col("doc_id") % 10 >= 2).withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text"))))
    }, sql(
      """WITH p AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 10 < 8),
        |n AS (SELECT doc_id,
        |        md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS fp
        |      FROM documents WHERE doc_id % 10 >= 2)
        |SELECT COALESCE(p.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN p.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN p.fp IS NOT DISTINCT FROM n.fp THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM p FULL OUTER JOIN n ON p.doc_id = n.doc_id""".stripMargin)),

    // Cross-split leakage audit: the full composed pipeline — deterministic
    // hash split, then val+test docs scored for trigram overlap against the
    // TRAIN corpus, all one Catalyst plan (the check a team runs before
    // trusting its eval numbers; n_hit > 0 rows are the leaks).
    Q("q_split_decontam", (s, dir) => {
      val split = Curation.withSplit(t(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      operators.Decontaminate.overlap(
        split.filter(col("split") =!= "train").select(col("doc_id"), col("text")),
        split.filter(col("split") === "train").select(col("doc_id"), col("text")))
    }, sql(
      """WITH sp AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT % 10000 AS BIGINT) AS b
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> array_to_string(toks[i:i+2], ' ')))) AS sh
        |  FROM sp WHERE b >= 8000),
        |tr AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> array_to_string(toks[i:i+2], ' ')))) AS sh
        |  FROM sp WHERE b < 8000)
        |SELECT s.doc_id, count(*) AS n_shingles, count(tr.sh) AS n_hit
        |FROM s LEFT JOIN tr USING (sh)
        |GROUP BY 1""".stripMargin), bench = true),

    // Reproducible train/val/test assignment: a pure per-row function of the
    // id (portable md5 bucket), zero shuffles, stable across reruns and
    // scale — the curation-pipeline replacement for randomSplit.
    Q("q_split_assign", (s, dir) =>
      Curation.withSplit(t(s, dir, "documents").select(col("doc_id")), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)), sql(
      """SELECT doc_id, CASE WHEN b < 8000 THEN 'train'
        |                    WHEN b < 9000 THEN 'val'
        |                    ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT % 10000 AS BIGINT) AS b
        |      FROM documents)""".stripMargin), bench = true),

    // GROUP-aware leakage-safe split: hashing the USER id (not the row id)
    // sends every event of a user to ONE split — per-entity features can
    // never straddle train/test. Same zero-shuffle scan expression; the
    // operator is withSplit with the group key as its id.
    // Temperature rebalancing: domain shares follow n^(1/2) (T=2), rates
    // derived IN-PLAN from measured counts — the multilingual resampling
    // knob; decisions stay salted-integer-bucket pure.
    // temperature rebalance: group-sorted sqrt-mass fold, in-plan rate,
    // integer bucket compare — float steps written identically on both
    // sides so the quantized thresholds agree bit-for-bit
    Q("q_temp_sample", (s, dir) =>
      Curation.temperatureSample(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        groupCol = "source", budget = 150L, temperature = 2.0)
        .select(col("doc_id"), col("source")), sql(
      """WITH c AS (SELECT source, count(*) AS n FROM documents
        |           WHERE source IS NOT NULL GROUP BY source),
        |m AS (SELECT list_reduce(
        |        list_prepend(0.0e0,
        |          list(sqrt(CAST(n AS DOUBLE)) ORDER BY source)),
        |        (a, b) -> a + b) AS mass FROM c),
        |t AS (SELECT c.source,
        |        greatest(1, CAST(round(least(1.0e0,
        |          (150.0e0 * (sqrt(CAST(c.n AS DOUBLE)) / m.mass))
        |            / CAST(c.n AS DOUBLE)) * 10000) AS BIGINT)) AS thr
        |      FROM c, m)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN t USING (source)
        |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':temp'), 1, 15))::UBIGINT
        |           % 10000 AS BIGINT) < t.thr""".stripMargin), bench = true),

    Q("q_split_group", (s, dir) =>
      Curation.withSplit(
        ev(s, dir).select(col("event_id"), col("user_id")), "user_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)), sql(
      """SELECT event_id, user_id,
        |  CASE WHEN b < 8000 THEN 'train'
        |       WHEN b < 9000 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT event_id, user_id,
        |        CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT % 10000 AS BIGINT) AS b
        |      FROM events)""".stripMargin), bench = true),

    // Leakage-safe temporal split: test from Jan 24, a 48 h embargo band
    // labeled 'purged' (kept, not dropped) — exact epoch-microsecond
    // comparisons on the scan, zero shuffles.
    // purged split: test >= 2024-01-24T00Z, 48 h embargo band 'purged'
    Q("q_purged_split", (s, dir) =>
      Curation.purgedTimeSplit(ev(s, dir), "ts",
        testStartUs = 1706054400000000L, embargoUs = 172800000000L)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("split")), sql(
      """SELECT event_id, epoch_us(ts) AS ts_us,
        |  CASE WHEN epoch_us(ts) >= 1706054400000000 THEN 'test'
        |       WHEN epoch_us(ts) < 1706054400000000 - 172800000000 THEN 'train'
        |       WHEN ts IS NOT NULL THEN 'purged' END AS split
        |FROM events""".stripMargin)),

    // Deterministic Bernoulli sample: membership is a pure function of
    // (doc_id, salt) — rerun/engine/partitioning-stable, zero shuffles.
    Q("q_sample", (s, dir) =>
      Curation.sampleFraction(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "doc_id", 0.25, salt = "s1"), sql(
      """SELECT doc_id, source FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':s1'), 1, 15))::UBIGINT
        |           % 10000 AS BIGINT) < 2500""".stripMargin)),

    // Mixture weighting: per-source keep rates (down-weight bulk sources,
    // keep curated ones) — the salted-bucket compare against a CASE chain
    // of thresholds; null/unlisted sources take the default rate.
    Q("q_mixture", (s, dir) =>
      Curation.mixtureSample(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "doc_id", "source",
        Seq("src1" -> 0.5, "src2" -> 0.1, "src3" -> 0.0), defaultRate = 0.8), sql(
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mixture'), 1, 15))::UBIGINT
        |         % 10000 AS BIGINT) AS b
        |  FROM documents)
        |WHERE b < CASE source WHEN 'src1' THEN 5000 WHEN 'src2' THEN 1000
        |                      WHEN 'src3' THEN 0 ELSE 8000 END""".stripMargin)),

    // Mixture weights ABOVE 1: floor(w) copies per row plus a salted-bucket
    // fractional copy — 2.5x a source deterministically. The copy index
    // rides along; generate_series reproduces the generator in SQL.
    Q("q_mixture_up", (s, dir) =>
      Curation.mixtureUpsample(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "doc_id", "source",
        Seq("src1" -> 2.5, "src2" -> 0.5), defaultWeight = 1.0), sql(
      """SELECT doc_id, source, CAST(unnest(range(1, copies + 1)) AS BIGINT) AS copy FROM (
        |  SELECT doc_id, source,
        |    CAST(floor(w) AS BIGINT) +
        |      CASE WHEN b < round((w - floor(w)) * 10000) THEN 1 ELSE 0 END AS copies
        |  FROM (
        |    SELECT doc_id, source,
        |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mixture'), 1, 15))::UBIGINT
        |           % 10000 AS BIGINT) AS b,
        |      CASE source WHEN 'src1' THEN 2.5 WHEN 'src2' THEN 0.5 ELSE 1.0 END AS w
        |    FROM documents))""".stripMargin), bench = true),

    // Declarative mixture: down-sample three sources to 50/30/20 TOKEN
    // shares, rates derived in-plan from the corpus's own token masses
    // (groups outside the spec drop; the binding group keeps rate 1).
    Q("q_mixture_target", (s, dir) =>
      Curation.mixtureToTargets(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens")),
        "doc_id", "source",
        "n_tokens", Seq("src1" -> 0.5, "src2" -> 0.3, "src3" -> 0.2))
        .select("doc_id", "source", "n_tokens"), sql(
      """WITH t AS (SELECT doc_id, source,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |w AS (SELECT * FROM (VALUES ('src1', 0.5), ('src2', 0.3), ('src3', 0.2))
        |      AS w(source, wt)),
        |c AS (SELECT source, CAST(sum(n_tokens) AS DOUBLE) AS c
        |      FROM t GROUP BY source),
        |m AS (SELECT c.source, c.c, w.wt FROM c JOIN w USING (source) WHERE c.c > 0),
        |s AS (SELECT min(c / wt) AS S FROM m),
        |r AS (SELECT source, S * wt / c AS rate FROM m, s)
        |SELECT t.doc_id, t.source, t.n_tokens
        |FROM t JOIN r USING (source)
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mixture'), 1, 15))::UBIGINT
        |           % 10000 AS BIGINT) < rate * 10000""".stripMargin), bench = true),

    // Mixture accounting: docs + estimated tokens per (source, language) —
    // the aggregate a data-mixture weighting step consumes. One tiny
    // groups-sized shuffle after partial aggregation.
    Q("q_token_budget", (s, dir) =>
      Curation.tokenBudget(t(s, dir, "documents"),
        Seq(col("source"), TextFunctions.langId(col("text")).as("lang_pred"))), sql(
      """WITH s AS (
        |  SELECT doc_id, source, text,
        |    len(list_intersect(toks, ['the','a','of','and','to','in','is','it'])) AS s_en,
        |    len(list_intersect(toks, ['el','la','de','los','y','que','en','un'])) AS s_es,
        |    len(list_intersect(toks, ['der','die','das','und','ein','zu','ist','nicht'])) AS s_de,
        |    len(list_intersect(toks, ['le','les','des','et','une','est','dans','pour'])) AS s_fr,
        |    len(list_intersect(toks, ['的','是','了','在','我','有','和','不'])) AS s_zh
        |  FROM (SELECT doc_id, source, text, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)),
        |lang AS (
        |  SELECT source, text, CASE
        |    WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'und'
        |    WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
        |    WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
        |    WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
        |    WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
        |    ELSE 'zh' END AS lang_pred
        |  FROM s)
        |SELECT source, lang_pred, count(*) AS n_docs,
        |  CAST(SUM(len(regexp_extract_all(text, '[\p{L}\p{N}]+|[^\p{L}\p{N}\s]'))) AS BIGINT) AS n_tokens
        |FROM lang GROUP BY source, lang_pred""".stripMargin), bench = true),

    // Training-shard export END-TO-END under the hash gate: the corpus is
    // written as deterministic ~256 KiB JSONL shards (salted-md5
    // assignment, shard count from the portable byte estimator), then the
    // SHARDS THEMSELVES are read back — so JSON escaping fidelity, the
    // partitioned layout, and the in-plan shard derivation are all inside
    // the oracle compare (a text byte lost to serialization flips the
    // hash).
    // the exported shards read back: identity on (doc_id, text) — JSON
    // round-trip byte fidelity — plus the in-plan shard id, re-derived
    // from the same byte estimator + ceil-div + salted-md5 mod
    Q("q_export_shards", (s, dir) =>
      exportAndReadShards(s,
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "graft_export_gate_", maxShardBytes = 256L * 1024), sql(
      """WITH p AS (SELECT coalesce(octet_length(encode(CAST(text AS VARCHAR))), 0)
        |    + octet_length(encode(CAST(doc_id AS VARCHAR))) + 32 AS rb FROM documents),
        |n AS (SELECT CAST(greatest(1, (SUM(rb) + 262143) // 262144) AS UBIGINT) AS ns FROM p)
        |SELECT d.doc_id, d.text,
        |  CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':shard'), 1, 15))::UBIGINT
        |       % (SELECT ns FROM n) AS BIGINT) AS shard
        |FROM documents d""".stripMargin), bench = true),

    // CSV sink/source ROUND TRIP under the hash gate (RFC-4180 fidelity):
    // every payload gains the hazards that break naive writers — an
    // embedded comma and a double-quoted token, plus a REAL newline on
    // doc_id%5 — written with the RFC quote-doubling escape (escape =
    // quote) and read back with multiLine quoted-newline parsing; the
    // oracle recomputes the decorated payload from the parquet original,
    // so quoting, escaping, and newline round-tripping all sit under the
    // hash. Scale note: multiLine=true reads each FILE unsplit (the price
    // of quoted newlines) — newline-bearing exports keep parallelism
    // through file COUNT, which the write side's partitioning already
    // provides.
    // the decorated payload recomputed from the original: commas, a
    // doubled-quote token, and a real newline must survive the CSV cycle
    Q("q_sink_csv", (s, dir) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val payload = concat(col("text"), lit(", \"quoted\" tail"),
        when(col("doc_id") % 5 === 0, lit("\nsecond line")).otherwise(lit("")))
      val out = TempDirs.pidScoped("graft_csv_gate_")
      t(s, dir, "documents").select(col("doc_id"), payload.as("payload"))
        .write.mode("overwrite")
        .option("header", "true").option("escape", "\"")
        .csv(out)
      s.read.schema(StructType(Seq(StructField("doc_id", LongType),
          StructField("payload", StringType))))
        .option("header", "true").option("multiLine", "true")
        .option("escape", "\"")
        .csv(out)
    }, sql(
      """SELECT doc_id, text || ', "quoted" tail' ||
        |  CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'second line'
        |       ELSE '' END AS payload
        |FROM documents""".stripMargin)),

    // ORC source/sink ROUND TRIP under the hash gate: the documents table
    // written as ORC (Spark's other built-in columnar format — the lake
    // interchange case next to parquet/CSV/JSONL) and read back, while
    // the oracle reads the PARQUET original — type mapping and value
    // fidelity of the whole write+read cycle sit under the hash.
    // byte/type fidelity of the ORC write+read cycle vs the parquet
    // original
    Q("q_source_orc", (s, dir) => {
      val out = TempDirs.pidScoped("graft_orc_gate_")
      t(s, dir, "documents").write.mode("overwrite").orc(out)
      s.read.orc(out)
    }, sql(
      "SELECT doc_id, text, lang, source, n_chars FROM documents"), bench = true),

    // AVRO source/sink ROUND TRIP under the hash gate: the ROW-oriented
    // interchange format (Kafka payloads, log shipping) next to the
    // columnar ORC/parquet gates. This Spark 4.1.2 build ships
    // AvroFileFormat inside spark-sql itself but does NOT register it in
    // META-INF/services (the `avro` alias fails with the "deploy
    // spark-avro" error even though the class is on the classpath), so
    // the gate addresses the FileFormat by fully-qualified class name —
    // the documented lookupDataSource fallback. Same contract as
    // q_source_orc: write + read back while the oracle reads the parquet
    // original, putting the Avro type mapping (long/string/int) and
    // value fidelity under the hash.
    // same contract for the Avro row-format cycle
    Q("q_source_avro", (s, dir) => {
      val avroFmt = "org.apache.spark.sql.avro.AvroFileFormat"
      val out = TempDirs.pidScoped("graft_avro_gate_")
      t(s, dir, "documents").write.mode("overwrite").format(avroFmt).save(out)
      s.read.format(avroFmt).load(out)
    }, twin("q_source_orc"), bench = true),

    // XML source/sink ROUND TRIP under the hash gate: the third
    // interchange family (hierarchical/tag-delimited — feeds, sitemaps,
    // API exports) next to columnar ORC and row-oriented Avro. Spark 4
    // ships the XML source built in (SPARK-44265). An explicit read
    // schema pins types (XML inference widens everything to long/
    // string); escaping of &, <, > and value fidelity of the whole
    // write+read cycle sit under the hash vs the parquet original.
    Q("q_source_xml", (s, dir) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val out = TempDirs.pidScoped("graft_xml_gate_")
      t(s, dir, "documents").write.mode("overwrite")
        .option("rowTag", "doc").format("xml").save(out)
      s.read.schema(StructType(Seq(StructField("doc_id", LongType),
          StructField("text", StringType), StructField("lang", StringType),
          StructField("source", StringType), StructField("n_chars", LongType))))
        // default=true TRIMS surrounding whitespace on read — fidelity
        // first (probe: "  padded  " came back "padded" without this)
        .option("ignoreSurroundingSpaces", "false")
        .option("rowTag", "doc").format("xml").load(out)
    }, twin("q_source_orc"), bench = true),

    // The context-window pipeline in one plan: chunk every doc into
    // 32-token spans -> drop repeated spans (first occurrence wins) ->
    // pack survivors into 2048-token training sequences. Chunking is a
    // generator, dedup one fingerprint-keyed window, packing the two-phase
    // prefix sum — three stages, no driver round-trips.
    Q("q_pipeline_chunks", (s, dir) => {
      val chunks = Curation.chunkDocuments(
        t(s, dir, "documents"), maxTokens = 32, overlap = 0)
      val deduped = Dedup.firstOccurrence(
        chunks, col("chunk"), Seq(col("doc_id"), col("chunk_idx")))
      Curation.packSequences(deduped, col("n_tokens"),
          Seq(col("doc_id"), col("chunk_idx")), seqTokens = 2048L)
        .select(col("doc_id"), col("chunk_idx"), col("seq_id"))
    }, sql(
      """WITH ch AS (
        |  SELECT doc_id, CAST((s - 1) // 32 AS BIGINT) AS chunk_idx,
        |         array_to_string(toks[s:s+31], ' ') AS chunk,
        |         CAST(len(toks[s:s+31]) AS BIGINT) AS n_tokens
        |  FROM (SELECT doc_id,
        |          coalesce(regexp_split_to_array(trim(text), '\s+'), []) AS toks
        |        FROM documents),
        |       UNNEST(range(1, greatest(len(toks) - 1, 0) + 2, 32)) AS u(s)),
        |d AS (SELECT doc_id, chunk_idx, n_tokens FROM (
        |  SELECT doc_id, chunk_idx, n_tokens,
        |    row_number() OVER (PARTITION BY md5(chunk)
        |      ORDER BY doc_id, chunk_idx) AS rk
        |  FROM ch) WHERE rk = 1)
        |SELECT doc_id, chunk_idx, CAST((cum - n_tokens) // 2048 AS BIGINT) AS seq_id
        |FROM (SELECT doc_id, chunk_idx, n_tokens,
        |        SUM(n_tokens) OVER (ORDER BY doc_id, chunk_idx
        |          ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM d)""".stripMargin), bench = true),

    // Stratified exact-N sampling: exactly 5 docs per source, drawn by
    // salted-md5 rank — deterministic and engine-portable (the oracle
    // ranks by the same md5 hex).
    Q("q_sample_n", (s, dir) =>
      Curation.sampleNPerGroup(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        Seq("source"), "doc_id", n = 5), sql(
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':stratified'), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 5""".stripMargin), bench = true),

    // Exactly-N GLOBAL deterministic sample: salted-md5 rank realized via
    // the two-phase distributed prefix count — no single-task global
    // window at any corpus size (the trap sampleNPerGroup with a constant
    // group would hit).
    Q("q_sample_n_global", (s, dir) =>
      Curation.sampleNGlobal(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "doc_id", n = 100), sql(
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':global-n'), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 100""".stripMargin), bench = true),

    // Length-bucketed batch assignment (padding-efficiency step): bucket
    // docs by token count, then 16-doc batches per bucket in salted-md5
    // order; batch ids globally unique via bucket * 2^40 + index.
    // bucket = #(bounds <= n_tokens); per-bucket 0-based md5-order index;
    // batch_id = bucket * 2^40 + index div 16 (BIGINT math via the literal)
    Q("q_length_batches", (s, dir) =>
      Curation.lengthBucketBatches(
        t(s, dir, "documents").select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens")),
        col("n_tokens"), "doc_id", Seq(40.0, 80.0, 120.0), batchSize = 16), sql(
      """WITH t AS (SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |b AS (SELECT doc_id, n_tokens,
        |  (n_tokens >= 40)::INT + (n_tokens >= 80)::INT + (n_tokens >= 120)::INT AS len_bucket
        |  FROM t),
        |r AS (SELECT *, row_number() OVER (PARTITION BY len_bucket
        |        ORDER BY md5(CAST(doc_id AS VARCHAR) || ':batch'), doc_id) - 1 AS i
        |      FROM b)
        |SELECT doc_id, n_tokens, CAST(len_bucket AS INT) AS len_bucket,
        |  len_bucket * 1099511627776 + i // 16 AS batch_id
        |FROM r""".stripMargin), bench = true),

    // The WEB-CORPUS pipeline capstone, end-to-end under one hash gate:
    // markup strip -> model-based quality filter -> exact dedup (planted
    // +100000 re-id copies of every 10th CLEANED doc — dedup must drop
    // them across the filter) -> leakage-safe split. The r13 extraction
    // ops composed exactly as a crawl-ingest pipeline chains them.
    // web capstone: clean both id streams, margin-filter, min-id dedup on
    // the cleaned content, hash split — every stage its gated oracle form
    Q("q_pipeline_web", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // the strip chain (11 regex passes) runs ONCE per source row: the
      // planted +100000 copies come out of a conditional-array explode,
      // and the generator doubles as a materialization barrier so
      // CollapseProject cannot inline the chain into the margin filter
      // AND the dedup key AND the output column (4 evaluations measured
      // 11.8 s at sf1 in the union + decision-join formulation; this one
      // plan is 5.3 s — the strip + margin per-row floor, cf. their
      // standalone 1.6 + 3.0)
      val row = struct(col("doc_id"), col("clean"))
      val shifted = struct((col("doc_id") + lit(100000L)).as("doc_id"),
        col("clean"))
      val all = t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.stripMarkup(webMarkupDecoration).as("clean"))
        .select(explode(when(col("doc_id") % 10 === 0, array(row, shifted))
          .otherwise(array(row))).as("r"))
        .select(col("r.doc_id").as("doc_id"), col("r.clean").as("clean"))
      val kept = all.where(TextFunctions.hashedBowMargin(
        col("clean"), bowWeights, bias = 0.05) > 0.0)
      // min-id survivor per distinct cleaned content — ONE content-keyed
      // exchange (Dedup.exact's decision rule in its windowed in-pipeline
      // form; the standalone decision table would self-join the plan)
      val surv = kept.withColumn("__keep",
          min(col("doc_id")).over(Window.partitionBy(md5(col("clean")))))
        .where(col("doc_id") === col("__keep")).drop("__keep")
      Curation.withSplit(surv, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("clean"), col("split"))
    }, sql({
      val wList = bowWeights.map(_.toString).mkString("[", ", ", "]")
      // flattened to one line: the OUTER stripMargin runs after
      // interpolation and would eat the leading | of embedded "||" lines
      val cleanSql = strippedCleanSql.replace("\n", " ")
      s"""WITH c0 AS (SELECT doc_id, $cleanSql AS clean FROM documents),
         |allr AS (SELECT doc_id, clean FROM c0
         |         UNION ALL
         |         SELECT doc_id + 100000, clean FROM c0 WHERE doc_id % 10 = 0),
         |kept AS (SELECT doc_id, clean FROM allr
         |  WHERE list_reduce(list_prepend(0.05e0,
         |      list_transform(regexp_split_to_array(trim(clean), '\\s+'), t ->
         |        ($wList)[CAST(('0x' || substr(md5(t), 1, 15))::UBIGINT % 64 AS INT) + 1])),
         |      (a, b) -> a + b) > 0),
         |surv AS (SELECT doc_id, clean FROM (
         |    SELECT doc_id, clean,
         |      min(doc_id) OVER (PARTITION BY md5(clean)) AS keep_id
         |    FROM kept) WHERE doc_id = keep_id)
         |SELECT doc_id, clean,
         |  CASE WHEN bk < 8000 THEN 'train' WHEN bk < 9000 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (SELECT doc_id, clean,
         |        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
         |             % 10000 AS BIGINT) AS bk
         |      FROM surv)""".stripMargin
    }), bench = true),

    // Per-domain document cap — the crawl-curation policy ("no domain
    // contributes more than N docs"): each doc's primary domain comes off
    // its first extracted URL (planted, case-folding exercised), then the
    // deterministic stratified cap keeps ≤N per domain. Composition of
    // the two gated pieces in one plan.
    // per-domain cap: the domain derives directly from the planted URL
    // (the corpus text contains no URLs of its own — extraction parity is
    // q_urls' job), then the stratified salted rank caps each domain
    Q("q_domain_cap", (s, dir) => {
      val injected = concat(col("text"),
        lit(" http://D"), (col("doc_id") % 7).cast("string"),
        lit(".Site.ORG/p/"), col("doc_id").cast("string"))
      val docs = t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.urlDomain(
          element_at(TextFunctions.extractUrls(injected), 1)).as("domain"))
      Curation.sampleNPerGroup(docs, Seq("domain"), "doc_id", n = 20)
    }, sql(
      """WITH d AS (SELECT doc_id,
        |  regexp_extract(lower('http://d' || (doc_id % 7) || '.site.org/p/' || doc_id),
        |    '^[a-z]+://([^/:#?]*)', 1) AS domain
        |  FROM documents)
        |SELECT doc_id, domain FROM (
        |  SELECT doc_id, domain,
        |    row_number() OVER (PARTITION BY domain
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':stratified'), doc_id) AS rk
        |  FROM d)
        |WHERE rk <= 20""".stripMargin), bench = true),

    // Weight-proportional deterministic sample: keep P ∝ n_chars (longer
    // docs survive more often), membership a pure function of (id, salt).
    Q("q_sample_weighted", (s, dir) =>
      Curation.sampleWeighted(
        t(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars")),
        "doc_id", "n_chars", perUnitRate = 1.0 / 1024), sql(
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':wsample'), 1, 15))::UBIGINT AS DOUBLE)
        |        / 1152921504606846976.0
        |      < CAST(n_chars AS DOUBLE) * (1.0 / 1024)""".stripMargin), bench = true),

    // Curriculum order: equal-depth difficulty bands (quartiles of
    // n_chars), deterministic salted-md5 shuffle WITHIN each band, global
    // position via the two-phase prefix count — no single-task sort.
    Q("q_curriculum", (s, dir) =>
      Curation.curriculumOrder(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "n_chars", "doc_id", exact = true), sql(
      """WITH t AS (SELECT doc_id, n_chars FROM documents),
        |c AS (SELECT quantile_cont(n_chars, 0.25) AS c1,
        |        quantile_cont(n_chars, 0.5) AS c2,
        |        quantile_cont(n_chars, 0.75) AS c3 FROM t),
        |b AS (SELECT doc_id, n_chars,
        |        1 + (CASE WHEN n_chars > c1 THEN 1 ELSE 0 END)
        |          + (CASE WHEN n_chars > c2 THEN 1 ELSE 0 END)
        |          + (CASE WHEN n_chars > c3 THEN 1 ELSE 0 END) AS band
        |      FROM t, c)
        |SELECT doc_id, n_chars, CAST(band AS BIGINT) AS band,
        |  CAST(row_number() OVER (ORDER BY band,
        |    md5(CAST(doc_id AS VARCHAR) || ':curriculum'), doc_id) AS BIGINT)
        |    AS pos
        |FROM b""".stripMargin), bench = true),

    // Exactly-500 weighted sample without replacement (A-Res keys from the
    // salted md5): longer docs proportionally likelier, membership still a
    // pure function of (id, salt). TakeOrdered top-n, no global sort.
    Q("q_sample_n_weighted", (s, dir) =>
      Curation.sampleNWeightedGlobal(
        t(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars")),
        "doc_id", "n_chars", n = 500), sql(
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    pow(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':wres'), 1, 15))::UBIGINT AS DOUBLE)
        |        / 1152921504606846976.0, 1.0 / CAST(n_chars AS DOUBLE)) AS k
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
        |ORDER BY k DESC, doc_id ASC
        |LIMIT 500""".stripMargin), bench = true),

    // Quality-temperature mixing, composed end-to-end in ONE plan: band
    // docs by their source's exact token-count quartiles (tiny threshold
    // agg broadcast back), then keep each band at its own deterministic
    // salted-hash rate (higher band -> keep more) — the standard
    // "sample by quality percentile" curation recipe.
    Q("q_mixture_quality", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      val th = docs.groupBy("source").agg(
        percentile(col("n_tokens"), lit(0.25)).as("p25"),
        percentile(col("n_tokens"), lit(0.5)).as("p50"),
        percentile(col("n_tokens"), lit(0.75)).as("p75"))
      docs.join(broadcast(th), Seq("source"))
        .withColumn("band",
          (col("n_tokens") > col("p25")).cast("int") +
            (col("n_tokens") > col("p50")).cast("int") +
            (col("n_tokens") > col("p75")).cast("int"))
        .filter(Curation.hashBucketSalted(col("doc_id"), "qmix") <
          element_at(array(lit(2500L), lit(5000L), lit(7500L), lit(10000L)),
            col("band") + 1))
        .select("doc_id", "source", "n_tokens", "band")
    }, sql(
      """WITH t AS (SELECT doc_id, source,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |th AS (SELECT source, quantile_cont(n_tokens, 0.25) AS p25,
        |        quantile_cont(n_tokens, 0.5) AS p50,
        |        quantile_cont(n_tokens, 0.75) AS p75
        |      FROM t GROUP BY source),
        |b AS (SELECT t.doc_id, t.source, t.n_tokens,
        |        (t.n_tokens > p25)::INT + (t.n_tokens > p50)::INT
        |          + (t.n_tokens > p75)::INT AS band
        |      FROM t JOIN th USING (source))
        |SELECT doc_id, source, n_tokens, CAST(band AS INT) AS band
        |FROM b
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':qmix'), 1, 15))::UBIGINT
        |        % 10000 AS BIGINT)
        |      < CASE band WHEN 0 THEN 2500 WHEN 1 THEN 5000
        |                  WHEN 2 THEN 7500 ELSE 10000 END""".stripMargin), bench = true),

    // Context-window chunking: 32-token windows, 8 tokens of overlap —
    // per-row generator, scan-bound.
    Q("q_chunk", (s, dir) =>
      Curation.chunkDocuments(t(s, dir, "documents"), maxTokens = 32, overlap = 8), sql(
      """SELECT doc_id, CAST((s - 1) // 24 AS BIGINT) AS chunk_idx,
        |       array_to_string(toks[s:s+31], ' ') AS chunk,
        |       CAST(len(toks[s:s+31]) AS BIGINT) AS n_tokens
        |FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |      FROM documents),
        |     UNNEST(range(1, greatest(len(toks) - 8, 1) + 1, 24)) AS u(s)""".stripMargin),
      bench = true),

    // Deterministic global shuffle order (md5 order, two-phase prefix
    // count — no single-reducer row_number at scale).
    Q("q_shuffle_order", (s, dir) =>
      Curation.withShuffleOrder(t(s, dir, "documents").select("doc_id"), "doc_id"), sql(
      """SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR))) AS BIGINT) AS pos
        |FROM documents""".stripMargin), bench = true),

    // Sequence packing: docs assigned to fixed token-budget training
    // sequences by exclusive-prefix-sum offset in doc_id order — the
    // two-phase distributed prefix sum, not a single global window.
    Q("q_pack", (s, dir) =>
      Curation.packSequences(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        TextFunctions.tokenCount(col("text")), Seq(col("doc_id")), 2048L)
        .select("doc_id", "seq_id"), sql(
      """SELECT doc_id, CAST((cum - t) // 2048 AS BIGINT) AS seq_id FROM (
        |  SELECT doc_id, t, SUM(t) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM (SELECT doc_id,
        |          CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS t
        |        FROM documents))""".stripMargin), bench = true),

    // Packing-efficiency audit: per-sequence doc counts and exact token
    // totals (fill rate / waste before committing the layout).
    Q("q_pack_stats", (s, dir) =>
      Curation.packingStats(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        TextFunctions.tokenCount(col("text")), Seq(col("doc_id")), 2048L), sql(
      """SELECT seq_id, count(*) AS n_docs, CAST(sum(t) AS BIGINT) AS n_tokens
        |FROM (
        |  SELECT CAST((cum - t) // 2048 AS BIGINT) AS seq_id, t FROM (
        |    SELECT t, SUM(t) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |    FROM (SELECT doc_id,
        |            CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS t
        |          FROM documents)))
        |GROUP BY seq_id""".stripMargin), bench = true),

    // The packed-FILE materialization: one row per training sequence with
    // the member span and the concatenated text. The collect bag is
    // bounded by the token budget itself, so the usual unbounded-row-width
    // risk is structurally absent.
    Q("q_pack_text", (s, dir) =>
      Curation.packedSequences(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", TextFunctions.tokenCount(col("text")), 2048L), sql(
      """WITH a AS (
        |  SELECT doc_id, text, CAST((cum - t) // 2048 AS BIGINT) AS seq_id FROM (
        |    SELECT doc_id, text, t,
        |      SUM(t) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |    FROM (SELECT doc_id, text,
        |            CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS t
        |          FROM documents)))
        |SELECT seq_id, min(doc_id) AS first_doc_id, max(doc_id) AS last_doc_id,
        |  count(*) AS n_docs,
        |  string_agg(text, ' ' ORDER BY doc_id) AS text
        |FROM a GROUP BY seq_id""".stripMargin), bench = true),

    // Quality selection: the 5 longest (by ws-token count) docs per source,
    // deterministic tiebreak on doc_id.
    Q("q_top_docs", (s, dir) =>
      Curation.topKPerGroup(
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens")),
        Seq("source"), col("n_tokens"), col("doc_id"), k = 5), sql(
      """SELECT doc_id, source, n_tokens, rank FROM (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY n_tokens DESC, doc_id) AS BIGINT) AS rank
        |  FROM (SELECT doc_id, source,
        |          CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |        FROM documents))
        |WHERE rank <= 5""".stripMargin)),

    // The full training-data curation pipeline in ONE Catalyst plan:
    // lang-ID filter -> quality gate (token count + stopword ratio, ratio
    // compared in exact integer arithmetic) -> exact dedup keeping the
    // min-id survivor -> per-survivor token stats. One scan, one shuffle
    // (the dedup groupBy).
    Q("q_pipeline_training", (s, dir) => {
      val qc = TextFunctions.qualityCounts(col("text")).toMap
      val scored = t(s, dir, "documents").select(col("doc_id"), col("text"),
        TextFunctions.langId(col("text")).as("lang_pred"),
        qc("n_tokens").as("n_tokens"),
        qc("n_stop").as("n_stop"))
      scored
        .filter(col("lang_pred") === "en" && col("n_tokens") >= 20 &&
          col("n_stop") * 20 >= col("n_tokens")) // stopword ratio >= 0.05
        .withColumn("fp", md5(col("text")))
        .groupBy("fp")
        .agg(min("doc_id").as("doc_id"), max("text").as("text"),
          count(lit(1)).as("n_dups"))
        .select(col("doc_id"),
          TextFunctions.bpeTokenEstimate(col("text")).cast("long").as("n_bpe_tokens"),
          col("n_dups"))
    }, sql(
      """WITH s AS (
        |  SELECT doc_id, text, toks,
        |    len(list_intersect(toks, ['the','a','of','and','to','in','is','it'])) AS s_en,
        |    len(list_intersect(toks, ['el','la','de','los','y','que','en','un'])) AS s_es,
        |    len(list_intersect(toks, ['der','die','das','und','ein','zu','ist','nicht'])) AS s_de,
        |    len(list_intersect(toks, ['le','les','des','et','une','est','dans','pour'])) AS s_fr,
        |    len(list_intersect(toks, ['的','是','了','在','我','有','和','不'])) AS s_zh
        |  FROM (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)),
        |lang AS (
        |  SELECT doc_id, text,
        |    CASE
        |      WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'und'
        |      WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
        |      WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
        |      WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
        |      WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
        |      ELSE 'zh' END AS lang_pred,
        |    len(toks) AS n_tokens,
        |    len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','it'], t))) AS n_stop
        |  FROM s),
        |kept AS (
        |  SELECT doc_id, text FROM lang
        |  WHERE lang_pred = 'en' AND n_tokens >= 20 AND n_stop * 20 >= n_tokens)
        |SELECT min(doc_id) AS doc_id,
        |  CAST(len(regexp_extract_all(max(text), '[\p{L}\p{N}]+|[^\p{L}\p{N}\s]')) AS BIGINT) AS n_bpe_tokens,
        |  count(*) AS n_dups
        |FROM kept GROUP BY md5(text)""".stripMargin), bench = true),

    // The round-7 curation pass composed into ONE plan: redact PII, drop
    // repetitive docs (Gopher-style), drop benchmark-contaminated docs,
    // then a deterministic split assignment — scrub -> filter -> filter ->
    // label, all scan-bound except the decontamination postings join.
    Q("q_pipeline_curation", (s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val contaminated = operators.Decontaminate.overlap(docs, bench)
        .filter(col("n_hit") * 2 > col("n_shingles")) // > half the shingles hit
        .select("doc_id")
      val kept = docs
        .filter(TextFunctions.duplicateTokenFraction(col("text")) <= 0.8)
        .filter(TextFunctions.topBigramFraction(col("text")) <= 0.2)
        .join(contaminated, Seq("doc_id"), "left_anti")
      Curation.withSplit(
        kept.select(col("doc_id"), TextFunctions.redactPii(col("text")).as("clean")),
        "doc_id", Seq("train" -> 0.9, "val" -> 0.1))
    }, sql(
      """WITH t AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS toks
        |           FROM documents),
        |g AS (SELECT doc_id,
        |        unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS gram
        |      FROM t WHERE len(toks) >= 2),
        |c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
        |m AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS tbf
        |      FROM c GROUP BY 1),
        |rep AS (SELECT t.doc_id,
        |          CASE WHEN len(toks) > 0
        |               THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        |               ELSE 0.0 END AS dtf,
        |          coalesce(m.tbf, 0.0) AS tbf
        |        FROM t LEFT JOIN m USING (doc_id)),
        |s AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |        i -> array_to_string(toks[i:i+2], ' ')))) AS sh
        |      FROM t),
        |b AS (SELECT DISTINCT sh FROM s WHERE doc_id % 97 = 0),
        |cont AS (SELECT s.doc_id FROM s LEFT JOIN b USING (sh)
        |         GROUP BY s.doc_id HAVING count(b.sh) * 2 > count(*)),
        |kept AS (SELECT d.doc_id, d.text FROM documents d
        |         JOIN rep USING (doc_id)
        |         WHERE rep.dtf <= 0.8 AND rep.tbf <= 0.2
        |           AND d.doc_id NOT IN (SELECT doc_id FROM cont))
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{12,19}\b', '<LONGNUM>', 'g'),
        |    '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b', '<PHONE>', 'g') AS clean,
        |  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
        |            % 10000 AS BIGINT) < 9000
        |       THEN 'train' ELSE 'val' END AS split
        |FROM kept""".stripMargin), bench = true),
  )
}
