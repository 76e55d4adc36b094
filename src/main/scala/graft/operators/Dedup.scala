package graft.operators

import graft.functions.{Sketches, TextFunctions}
import graft.ops.Pins
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication suite for training-data pipelines, sized for 100 TB:
  * nothing collects to the driver, every stage is a keyed shuffle or a
  * broadcast, and the O(n²) pair space is only ever materialized AFTER
  * LSH bucketing (candidate pairs), never globally.
  *
  * Exact dedup is a hash groupBy; near-dup is the standard two-phase
  * MinHash-LSH (Broder 1997 / Leskovec-Rajaraman-Ullman ch.3):
  * shingle -> minhash signature -> banded buckets -> bucket join ->
  * exact-Jaccard verification of candidates only.
  */
object Dedup {

  /** Exact duplicate groups keyed by content fingerprint: one row per distinct
    * content with the surviving (minimum) id and the duplicate count. */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol), md5(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Drop documents whose exact content already exists in a REFERENCE
    * corpus — the incremental-ingest dedup shape ("is this crawl batch new
    * against the 100 TB we already have?"), complementing [[exact]]'s
    * within-batch dedup. One anti-join on 16-byte md5 fingerprints: the
    * corpus text never moves, only its fingerprint set, and the planner
    * broadcasts that set when it fits. Works STREAM-STATIC as-is (stream
    * left ⋈ static fingerprints; stateless, append mode) — the precedent
    * shape as stream-static decontamination. Null-text docs carry a null
    * fingerprint, which an anti-join never matches — they always pass
    * through (same null-in → survives convention as the SQL join oracle's
    * LEFT JOIN … IS NULL formulation). Within-batch duplicates are NOT
    * collapsed here (both survive if absent from the corpus) — chain
    * [[exact]]/[[survivors]] or the streaming
    * [[graft.streaming.StreamingPipeline.dedupExact]] for that. */
  def dropExistingIn(
      docs: DataFrame,
      corpus: DataFrame,
      textCol: String = "text",
      corpusTextCol: String = "text"): DataFrame = {
    val fps = corpus.select(md5(col(corpusTextCol)).as("__corpus_fp")).distinct()
    docs.join(fps, md5(col(textCol)) === col("__corpus_fp"), "left_anti")
  }

  /** Diff two corpus versions by id + content fingerprint — the ops view of
    * an incremental pipeline ("what did this crawl/recuration actually
    * change?"): one row per doc id present in either version, with
    * `status` ∈ added (id only in `next`), removed (only in `prev`),
    * changed (both, md5 differs), unchanged (both, md5 equal). Shape at
    * scale: each side reduces to (id, 16-byte md5) scan-side — text never
    * shuffles — then ONE full-outer keyed join; the output is id+status
    * rows, so a 100 TB×2 diff moves fingerprints only. Null text
    * fingerprints as null; two nulls compare unchanged (null-safe
    * equality), null-vs-text is changed. If an id appears MORE than once
    * within a version, that version's content is summarized as the min
    * fingerprint (deterministic, order-independent) so the contract — ONE
    * row per id — holds regardless; the keyed min-agg shuffles on the same
    * key as the join, so AQE reuses the exchange and the dedup is free. */
  def corpusDiff(
      prev: DataFrame,
      next: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val p = prev.select(col(idCol).as("__id"), md5(col(textCol)).as("__fp_prev"))
      .groupBy("__id").agg(min("__fp_prev").as("__fp_prev"))
      .withColumn("__in_prev", lit(1))
    val n = next.select(col(idCol).as("__id"), md5(col(textCol)).as("__fp_next"))
      .groupBy("__id").agg(min("__fp_next").as("__fp_next"))
      .withColumn("__in_next", lit(1))
    p.join(n, Seq("__id"), "full_outer")
      .select(col("__id").as(idCol),
        when(col("__in_prev").isNull, lit("added"))
          .when(col("__in_next").isNull, lit("removed"))
          .when(col("__fp_prev") <=> col("__fp_next"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Cross-document SPAN dedup, C4-style: among all rows sharing a span's
    * content, keep only the FIRST in `orderCols` order — the sub-document
    * twin of [[exact]], for the "same boilerplate paragraph pasted into a
    * million pages" case whole-document dedup can't see. `df` is the
    * already-split spans (one row per paragraph / sentence / chunk — pair
    * with `split`+`posexplode` or [[Curation.chunkDocuments]]); the window
    * keys on the span's 16-byte md5, so the shuffle carries fingerprints,
    * not text, and each fingerprint's occurrence list ranks in one task
    * (content-hash keys are uniform — no hot key unless one span IS a
    * meaningful fraction of the corpus, which is exactly a row a curator
    * wants dropped; [[graft.ops.Skew.dropHotKeys]] on the fingerprint
    * handles that). Null spans group together (SQL GROUP BY convention):
    * the first null-span row survives, the rest drop. */
  def firstOccurrence(
      df: DataFrame,
      spanCol: Column,
      orderCols: Seq[Column]): DataFrame = {
    require(orderCols.nonEmpty, "need at least one order column")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(spanCol)).orderBy(orderCols: _*)
    df.withColumn("__graft_occ", row_number().over(w))
      .filter(col("__graft_occ") === 1)
      .drop("__graft_occ")
  }

  /** Span dedup with document reassembly — the C4 shape end-to-end: drop
    * every later occurrence of each distinct span ([[firstOccurrence]]),
    * then rebuild each document from its surviving spans in position
    * order. Cost on top of the fingerprint window is ONE doc-keyed agg;
    * span text crosses the wire exactly once, in that agg's shuffle. The
    * per-group sort + join runs on one doc's span list (bounded by
    * document length, not corpus size). A document whose every span
    * occurred earlier disappears entirely, C4 semantics. */
  def rebuildFromSpans(
      spans: DataFrame,
      idCol: String,
      posCol: String,
      spanCol: String,
      sep: String = " ",
      as: String = "rebuilt"): DataFrame =
    firstOccurrence(spans, col(spanCol), Seq(col(idCol), col(posCol)))
      .groupBy(col(idCol))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col(posCol), col(spanCol)))),
          x => x.getField(spanCol)),
        sep).as(as))

  /** All pairs with exact n-gram-shingle Jaccard >= threshold, via a
    * postings-list join: explode distinct shingles, self-join on the shingle
    * (a keyed shuffle), count shared shingles per pair. Exact — the
    * correctness oracle for [[minhashLsh]] — and scalable: work is
    * sum-over-shingles of df², not n² pairs. (A per-pair `array_intersect`
    * nested-loop formulation measured minutes at 500 docs; this is seconds.)
    *
    * At web scale, cap runaway shingle document-frequency upstream (drop
    * boilerplate shingles) — the standard trick; df² on a boilerplate
    * shingle shared by every document is the quadratic failure mode. */
  /** @param maxShingleDf drop shingles shared by more than this many docs
    *   from the postings join — the standard boilerplate guard: a shingle in
    *   every document contributes df² join rows while carrying no near-dup
    *   signal. This is an approximation (dropped shingles still count in the
    *   denominators, so reported Jaccard can only go DOWN — capped runs never
    *   invent pairs). None = exact.
    * @param maxShingleDfFraction like maxShingleDf but as a fraction of the
    *   corpus size (cap = ceil(fraction * n_docs)) — the scale-invariant form:
    *   "boilerplate" means a shingle in more than x% of documents, not more
    *   than an absolute count that a 10x corpus growth silently turns into
    *   "drop everything". The corpus size is derived from the SAME pinned
    *   postings the cap filters (a one-row broadcast branch inside the main
    *   plan) — no separate count() job, so a filtered/derived 100 TB input
    *   is scanned exactly once. The tighter of the two caps wins when both
    *   are set. */
  def ngramJaccardPairs(
      docs: DataFrame,
      threshold: Double,
      ngram: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxShingleDf: Option[Int] = None,
      maxShingleDfFraction: Option[Double] = None): DataFrame =
    ngramPairCounts(docs, ngram, textCol, idCol, maxShingleDf, maxShingleDfFraction)
      // raw double division of exact int counts — deterministic and
      // bit-identical to the DuckDB oracle (no rounding needed)
      .withColumn("jac", col("inter").cast("double") /
        (col("a_sz") + col("b_sz") - col("inter")).cast("double"))
      .filter(col("jac") >= threshold)
      .select(col("a_id"), col("b_id"), col("jac"))

  /** Asymmetric near-dup pairs by CONTAINMENT: |A∩B| / min(|A|, |B|) — the
    * signal Jaccard structurally under-reports when one document embeds
    * another (a quote inside a long article has tiny Jaccard but
    * containment ~1). Same postings machinery, df-caps and plan shape as
    * [[ngramJaccardPairs]]; only the final ratio differs. */
  def ngramContainmentPairs(
      docs: DataFrame,
      threshold: Double,
      ngram: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxShingleDf: Option[Int] = None,
      maxShingleDfFraction: Option[Double] = None): DataFrame =
    ngramPairCounts(docs, ngram, textCol, idCol, maxShingleDf, maxShingleDfFraction)
      .withColumn("containment",
        col("inter").cast("double") / least(col("a_sz"), col("b_sz")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("a_id"), col("b_id"), col("containment"))

  /** EXACT Jaccard-threshold pairs via PPJoin-style PREFIX FILTERING
    * (Xiao et al., WWW 2008 / Chaudhuri et al., ICDE 2006) — the exact
    * counterpart of the MinHash-LSH approximate path, and the scale
    * upgrade over [[ngramJaccardPairs]]'s full Σdf² postings self-join.
    *
    * Under any GLOBAL total order of the shingle universe, two sets with
    * Jaccard ≥ τ must share a shingle within each set's first
    * `|s| − ceil(τ·|s|) + 1` elements (a pair needs overlap ≥ ceil(τ·|s|)
    * with EACH side, so it cannot hide entirely in the suffix). Ordering
    * by ASCENDING document frequency puts the RAREST shingles in the
    * prefix, so the candidate join runs over Σ_prefix df² — the hot
    * boilerplate shingles that dominate Σdf² sit in suffixes and never
    * generate candidates. No df cap is needed and none is taken: unlike
    * the capped family, the result is EXACTLY the brute-force pair set.
    *
    * Scale shape: one corpus scan collapses to FLAT rank-postings —
    * (id, shingle, in-doc rank under (df asc, shingle), |s|) via a
    * per-document window (id is the partition key: high-cardinality,
    * never a hot single partition) — pinned under the scoped-persist
    * discipline (tag `dedup.ppjoin`, flat primitive columns: the
    * columnar cache's fast path, where a first cut's per-doc ARRAY
    * census measured 7× slower end-to-end from nested-array cache
    * scans). The candidate join carries BARE (shingle, id, |s|) prefix
    * rows; exact verification counts intersections by joining the TINY
    * candidate set back through the pinned postings (both joins
    * broadcast the candidate side — no corpus-sized shuffle after the
    * prefix join). The size filter τ·max(|a|,|b|) ≤ min(|a|,|b|) prunes
    * at candidate time. Both the prefix-length ceil and the size filter
    * round CONSERVATIVELY (an epsilon widens, never narrows), so float
    * error can only admit an extra candidate for the exact count to
    * reject — never lose a pair.
    *
    * POSITIONAL FILTER (the "PP" in Xiao et al. 2008 §3.2, relational
    * adaptation): both sets rank their tokens under the SAME global
    * (df asc, tok) order, so for a shared token at rank i of a and rank
    * j of b, every OTHER shared token is either before it on both sides
    * (≤ min(i,j)−1 of those can exist... counted WITH the token itself:
    * ≤ min(i, j)) or after it on both sides (≤ min(|a|−i, |b|−j)). Hence
    * overlap(a,b) ≤ min(i,j) + min(|a|−i, |b|−j) for EVERY shared prefix
    * token — and a true J ≥ τ pair has overlap ≥ ⌈τ/(1+τ)·(|a|+|b|)⌉, so
    * every one of its candidate rows passes the bound: filtering rows,
    * then keeping pairs whose TIGHTEST bound (min over surviving rows)
    * meets the requirement, prunes candidates without ever losing a true
    * pair. Exactness is preserved unconditionally — the verify join
    * recomputes the true intersection for whatever survives. The bound
    * replaces the bare `.distinct()` with an equivalent-shuffle groupBy
    * (same keys), so the cut is free at plan level and pays off as fewer
    * pairs entering the two verify joins.
    *
    * Pairs are (a_id < b_id); one row each with exact `inter` and the
    * raw-double `jac` (bit-identical to the oracle's int division). */
  def ppjoinPairs(
      docs: DataFrame,
      threshold: Double,
      ngram: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    val (ranked, cand) = ppjoinSelfCandidates(docs, threshold, ngram, textCol, idCol)
    // Verify via per-pair SORTED-ARRAY intersection (r18): the old
    // explode-join verify (cand ⋈ a-postings on a_id, ⋈ b-postings on
    // (b_id, tok), count per pair) pushed Σ_pairs |a's shingle set| rows
    // — ~29M string-keyed hash probes at sf0.1 for 190k candidates, the
    // measured 2/3 of the whole operator (PpStageProbe). Attaching each
    // side's sorted shingle ARRAY (one scan-local census, pinned) and
    // counting with the native two-pointer merge does the same exact
    // |A∩B| in one tight loop per pair, no re-agg. A zero-overlap pair
    // previously vanished at the inner (b_id, tok) join; here it carries
    // inter = 0 and dies at the same jac >= threshold cut (threshold > 0
    // by the require above) — identical output.
    val arrs = graft.ops.Pins.scopedPersist("dedup.ppjoin.arrs",
      docs.select(col(idCol).as("id"),
        sort_array(TextFunctions.shingleSet(col(textCol), ngram)).as("__sh")))
    cand
      .join(arrs.select(col("id").as("a_id"), col("__sh").as("__sha")), Seq("a_id"))
      .join(arrs.select(col("id").as("b_id"), col("__sh").as("__shb")), Seq("b_id"))
      .withColumn("inter", graft.functions.VectorFunctions
        .sortedIntersectCount(col("__sha"), col("__shb")))
      .withColumn("jac", col("inter").cast("double") /
        (col("a_sz") + col("b_sz") - col("inter")).cast("double"))
      .filter(col("jac") >= threshold)
      .select(col("a_id"), col("b_id"), col("inter"), col("jac"))
  }

  /** Candidate generation for [[ppjoinPairs]]; flipping `positional`
    * measures the positional filter's cut (the former PpPlan probe did, and
    * DedupSpec compares both settings). Returns (pinned rank-postings census,
    * candidate pairs (a_id, b_id, a_sz, b_sz) after size filter +
    * positional filter). */
  private[graft] def ppjoinSelfCandidates(
      docs: DataFrame,
      threshold: Double,
      ngram: Int,
      textCol: String,
      idCol: String,
      positional: Boolean = true): (DataFrame, DataFrame) = {
    val parts = docs.sparkSession.sessionState.conf.numShufflePartitions
    val postings = docs.repartition(parts).select(
        col(idCol).as("id"),
        explode(TextFunctions.shingleSet(col(textCol), ngram)).as("tok"))
    val dfs = postings.groupBy("tok").agg(count(lit(1)).as("df"))
    // (df asc, tok) per-doc window = each doc's rarest-first order under
    // ONE global total order, ties broken by shingle text — deterministic
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df"), col("tok"))
    val ranked = graft.ops.Pins.scopedPersist("dedup.ppjoin",
      postings.join(dfs, Seq("tok"))
        .select(col("id"), col("tok"),
          row_number().over(w).as("rnk"),
          count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("id"))
            .as("sz")))
    // conservative ceil: the epsilon can only LENGTHEN the prefix
    val prefixLen = (col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) +
      lit(1L)).cast("int")
    val prefix = ranked.filter(col("rnk") <= prefixLen)
      .select(col("tok"), col("id"), col("rnk"), col("sz"))
    val raw = prefix.select(col("tok"), col("id").as("a_id"),
        col("rnk").as("a_rnk"), col("sz").as("a_sz"))
      .join(prefix.select(col("tok"), col("id").as("b_id"),
          col("rnk").as("b_rnk"), col("sz").as("b_sz")),
        Seq("tok"))
      .filter(col("a_id") < col("b_id"))
      .filter(col("b_sz").cast("double") >= lit(threshold) * col("a_sz") - lit(1e-9) &&
        col("a_sz").cast("double") >= lit(threshold) * col("b_sz") - lit(1e-9))
    val cand =
      if (!positional)
        raw.select(col("a_id"), col("b_id"), col("a_sz"), col("b_sz")).distinct()
      else {
        // required overlap for J >= tau; conservative ceil (epsilon only
        // LOWERS the requirement, so float error never drops a true pair)
        val reqOverlap = ceil(lit(threshold / (1.0 + threshold)) *
          (col("a_sz") + col("b_sz")).cast("double") - lit(1e-9))
        val bound = least(col("a_rnk"), col("b_rnk")).cast("long") +
          least(col("a_sz") - col("a_rnk"), col("b_sz") - col("b_rnk"))
        // per-row cut, then the TIGHTEST bound over a pair's surviving
        // rows — same shuffle keys as the old .distinct(), strictly fewer
        // pairs out
        raw.filter(bound >= reqOverlap)
          .groupBy("a_id", "b_id", "a_sz", "b_sz")
          .agg(min(bound).as("__ub"))
          .filter(col("__ub") >= reqOverlap)
          .select(col("a_id"), col("b_id"), col("a_sz"), col("b_sz"))
      }
    (ranked, cand)
  }

  /** [[ppjoinPairs]]' ingest-vs-corpus form: the EXACT Jaccard-threshold
    * (new doc, corpus doc) pair set under the same prefix-filter
    * discipline — candidates join prefix-to-prefix ACROSS sides (the
    * prefix theorem holds for any two sets under one shared total order,
    * so a J ≥ τ pair must share a shingle within both sides' rarest
    * prefixes). The global order is the CORPUS document frequency
    * (batch-only shingles order as df 0 — rarest, which only lengthens
    * reach), so the corpus census (tag `dedup.ppjoin.corpus`) is a pure
    * function of the corpus and re-usable across ingest batches — the
    * incremental story the `_incr` family shares. Verification counts
    * intersections through both pinned posting sets with the candidate
    * side broadcast, exactly as the self-join form. */
  def ppjoinAgainstCorpus(
      newDocs: DataFrame,
      corpus: DataFrame,
      threshold: Double,
      ngram: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    val parts = newDocs.sparkSession.sessionState.conf.numShufflePartitions
    def postings(df: DataFrame) = df.repartition(parts).select(
      col(idCol).as("id"),
      explode(TextFunctions.shingleSet(col(textCol), ngram)).as("tok"))
    val cPost = postings(corpus)
    val dfs = cPost.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df"), col("tok"))
    def ranked(p: DataFrame, tag: String) = graft.ops.Pins.scopedPersist(tag,
      p.join(dfs, Seq("tok"), "left")
        .withColumn("df", coalesce(col("df"), lit(0L)))
        .select(col("id"), col("tok"),
          row_number().over(w).as("rnk"),
          count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("id"))
            .as("sz")))
    val cR = ranked(cPost, "dedup.ppjoin.corpus")
    val nR = ranked(postings(newDocs), "dedup.ppjoin.batch")
    val prefixLen = (col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) +
      lit(1L)).cast("int")
    def prefix(r: DataFrame) = r.filter(col("rnk") <= prefixLen)
      .select(col("tok"), col("id"), col("rnk"), col("sz"))
    // positional filter, cross-side form: a shared token's rank on each
    // side is taken under the SAME (corpus-df asc, tok) global order, so
    // the [[ppjoinSelfCandidates]] overlap bound
    // min(i,j) + min(|a|-i, |b|-j) holds verbatim
    val reqOverlap = ceil(lit(threshold / (1.0 + threshold)) *
      (col("a_sz") + col("b_sz")).cast("double") - lit(1e-9))
    val bound = least(col("a_rnk"), col("b_rnk")).cast("long") +
      least(col("a_sz") - col("a_rnk"), col("b_sz") - col("b_rnk"))
    val cand = prefix(nR).select(col("tok"), col("id").as("a_id"),
        col("rnk").as("a_rnk"), col("sz").as("a_sz"))
      .join(prefix(cR).select(col("tok"), col("id").as("b_id"),
          col("rnk").as("b_rnk"), col("sz").as("b_sz")),
        Seq("tok"))
      .filter(col("b_sz").cast("double") >= lit(threshold) * col("a_sz") - lit(1e-9) &&
        col("a_sz").cast("double") >= lit(threshold) * col("b_sz") - lit(1e-9))
      .filter(bound >= reqOverlap)
      .groupBy("a_id", "b_id", "a_sz", "b_sz")
      .agg(min(bound).as("__ub"))
      .filter(col("__ub") >= reqOverlap)
      .select(col("a_id"), col("b_id"), col("a_sz"), col("b_sz"))
    // sorted-array verify — the [[ppjoinPairs]] r18 form (see there): the
    // exact |A∩B| as one native two-pointer merge per candidate pair
    // instead of the Σ_pairs |a's set| explode join. The batch side's
    // array census is a scan-local pass over newDocs; the corpus side's
    // is a pure function of the corpus (tag parallels the postings
    // census, reusable across ingest batches).
    def arrCensus(df: DataFrame, tag: String) = graft.ops.Pins.scopedPersist(tag,
      df.select(col(idCol).as("id"),
        sort_array(TextFunctions.shingleSet(col(textCol), ngram)).as("__sh")))
    val nA = arrCensus(newDocs, "dedup.ppjoin.batch.arrs")
    val cA = arrCensus(corpus, "dedup.ppjoin.corpus.arrs")
    cand
      .join(nA.select(col("id").as("a_id"), col("__sh").as("__sha")), Seq("a_id"))
      .join(cA.select(col("id").as("b_id"), col("__sh").as("__shb")), Seq("b_id"))
      .withColumn("inter", graft.functions.VectorFunctions
        .sortedIntersectCount(col("__sha"), col("__shb")))
      .withColumn("jac", col("inter").cast("double") /
        (col("a_sz") + col("b_sz") - col("inter")).cast("double"))
      .filter(col("jac") >= threshold)
      .select(col("a_id"), col("b_id"), col("inter"), col("jac"))
  }

  /** N-gram Jaccard NEAR-dup pairs of an ingest batch AGAINST an existing
    * corpus — the fuzzy counterpart of [[dropExistingIn]] (which only
    * catches byte-exact duplicates): "is this crawl batch a near-rewrite
    * of anything we already keep". One row per (new doc, corpus doc) pair
    * at or above `threshold`; the caller's keep/drop policy composes on
    * top (anti-join `newDocs` against the `a_id` set to drop).
    *
    * Scale shape: the postings discipline across two sides — each side
    * collapses to (id, |set|, shingle) postings scan-locally, the ONE
    * data-sized join is shingle-keyed new×corpus (Σ_sh df_new·df_corpus —
    * never |new|·|corpus|), pairs aggregate partial. `maxShingleDf` caps
    * the CORPUS-side document frequency (boilerplate lives in the
    * corpus): over-cap shingles drop via a tiny anti-join before the
    * cross join, with the corpus postings PINNED under the cap for the
    * same reuse-breakage reason as [[ngramJaccardPairs]] (the df branch
    * and the join probe cannot share an exchange). Jaccard uses FULL set
    * sizes on both sides, so the cap prunes candidates, never distorts a
    * surviving pair's score. */
  def ngramJaccardAgainstCorpus(
      newDocs: DataFrame,
      corpus: DataFrame,
      threshold: Double,
      ngram: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxShingleDf: Option[Int] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold out of (0,1]: $threshold")
    val parts = newDocs.sparkSession.sessionState.conf.numShufflePartitions
    def postings(df: DataFrame, id: String, sz: String) =
      df.repartition(parts).select(
        col(idCol).as(id),
        TextFunctions.shingleSet(col(textCol), ngram).as("sh"))
        .withColumn(sz, coalesce(size(col("sh")), lit(0)))
        .select(col(id), col(sz), explode_outer(col("sh")).as("shingle"))
    val np = postings(newDocs, "a_id", "a_sz")
    val cp0 = postings(corpus, "b_id", "b_sz")
    Pins.scope { pin =>
      val cp = maxShingleDf.fold(cp0) { cap =>
        require(cap >= 1, s"maxShingleDf must be >= 1: $cap")
        val pinned = pin(cp0)
        val hot = pinned.groupBy("shingle").agg(count(lit(1)).as("__df"))
          .filter(col("__df") > cap).select("shingle")
        pinned.join(hot, Seq("shingle"), "left_anti")
      }
      np.join(cp, Seq("shingle"))
        .groupBy("a_id", "b_id", "a_sz", "b_sz")
        .agg(count(lit(1)).as("inter"))
        .withColumn("jac", col("inter").cast("double") /
          (col("a_sz") + col("b_sz") - col("inter")).cast("double"))
        .filter(col("jac") >= threshold)
        .select(col("a_id"), col("b_id"), col("jac"))
    }
  }

  /** Bag-of-words COSINE near-dup pairs — the tf-WEIGHTED member of the
    * set-similarity family: Jaccard sees only term PRESENCE (a page
    * repeating one paragraph 50× and a page containing it once look
    * identical), tf-cosine weighs repetition. cos = Σtf_a·tf_b /
    * (√Σtf_a²·√Σtf_b²) over word counts — numerator and both norm²s are
    * EXACT INTEGERS (per-(doc,term) counts), so the only float ops are
    * two correctly-rounded sqrts, one multiply and one division:
    * bit-portable across engines and partition orders, unlike an
    * idf-weighted variant whose double partial sums would be
    * order-dependent. Pairs are (a_id < b_id) with the exact integer
    * evidence (dot, na2, nb2) alongside the cosine.
    *
    * Scale shape: the postings discipline — (id, term, tf) collapses
    * map-side, per-doc norm² is a doc-keyed integer agg carried on the
    * postings, the ONE data-sized join is term-keyed (Σ df² pair space),
    * and per-pair dot products are order-free INTEGER sums. `maxTermDf`
    * caps stopword-term df exactly like the shingle caps (candidates
    * pruned, surviving scores computed from FULL norms — undistorted). */
  def tfCosinePairs(
      docs: DataFrame,
      threshold: Double,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxTermDf: Option[Int] = None,
      ngram: Int = 1): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold out of (0,1]: $threshold")
    require(ngram >= 1, s"ngram must be >= 1: $ngram")
    val parts = docs.sparkSession.sessionState.conf.numShufflePartitions
    // `ngram` is the SECOND Σdf² lever next to maxTermDf: unigram terms on
    // a small-vocabulary corpus give every term a huge df (this corpus:
    // ~50 words -> Σdf² quadratic in docs — measured 177 s at sf0.1 where
    // the trigram form runs in ~2 s), while n-gram terms diversify the key
    // space the same way the shingle family's keys do. Real Zipf corpora
    // can run ngram = 1 with the stopword cap.
    val termCol =
      if (ngram == 1) explode(TextFunctions.tokens(col(textCol)))
      // shinglesNative: element-identical to the composed shingles HOF,
      // single native pass (r18 — the HOF paid a lambda frame + slice +
      // concat_ws per position per doc on this operator's hottest scan)
      else explode(TextFunctions.shinglesNative(col(textCol), ngram))
    val tf = docs.repartition(parts).select(col(idCol).as("id"),
        termCol.as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    // norm² rides the postings via a doc-keyed agg joined back — exact
    // integers; pinned so the cap/df branch and the pair join share one
    // materialization (the capped-shingle discipline)
    val norms = tf.groupBy("id").agg(sum(col("tf") * col("tf"))
      .cast("long").as("n2"))
    val posts0 = tf.join(norms, Seq("id"))
    Pins.scope { pin =>
      val posts = maxTermDf.fold(posts0) { cap =>
        require(cap >= 2, s"maxTermDf must be >= 2: $cap")
        val pinned = pin(posts0)
        val hot = pinned.groupBy("term").agg(count(lit(1)).as("__df"))
          .filter(col("__df") > cap).select("term")
        pinned.join(hot, Seq("term"), "left_anti")
      }
      val a = posts.select(col("term"), col("id").as("a_id"),
        col("tf").as("a_tf"), col("n2").as("na2"))
      val b = posts.select(col("term"), col("id").as("b_id"),
        col("tf").as("b_tf"), col("n2").as("nb2"))
      a.join(b, Seq("term"))
        .filter(col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id", "na2", "nb2")
        .agg(sum(col("a_tf") * col("b_tf")).cast("long").as("dot"))
        .withColumn("cos", col("dot").cast("double") /
          (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double"))))
        .filter(col("cos") >= threshold)
        .select(col("a_id"), col("b_id"), col("dot"), col("na2"), col("nb2"),
          col("cos"))
    }
  }

  /** Blocked FUZZY near-dup pairs by edit distance: candidate pairs form
    * only WITHIN a block (default: the lowercased 8-char prefix — the
    * classic title/short-text blocker), then survive `levenshtein ≤
    * maxDist`. The record-linkage complement of the set-similarity family:
    * n-gram Jaccard misses single-character typos in short strings, edit
    * distance is exactly that signal. SHORT FIELDS ONLY (titles, names,
    * first-N-chars keys): the engine's levenshtein costs ~per-char-PAIR
    * (measured ~0.8 ms per 370-char comparison — 55k full-document pairs
    * took 46 s where the same pairs on 64-char titles run in under a
    * second); for whole documents use the n-gram/MinHash family.
    *
    * Scale shape: the blocked self-join is Σ|block|² like the postings
    * join, with the same two guards — `maxBlockSize` drops
    * pathological blocks (empty-prefix boilerplate) via a tiny
    * blocks-sized anti-join, and a |length difference| ≤ maxDist
    * pre-filter (a levenshtein lower bound) kills most candidates before
    * the O(len·maxDist) banded distance runs (Spark's threshold form
    * early-abandons above maxDist). Unlike the postings family there is
    * NO pin here: the re-read branches are cheap scan projections, and a
    * localCheckpoint would materialize every document's full text
    * (measured 1.5× slower at 10× scale than just re-scanning). Pairs are
    * (a_id < b_id), one row each. */
  def fuzzyPairs(
      docs: DataFrame,
      maxDist: Int,
      blockPrefix: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxBlockSize: Option[Int] = None): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0: $maxDist")
    require(blockPrefix >= 1, s"blockPrefix must be >= 1: $blockPrefix")
    val keyed = docs.select(col(idCol).as("a_id"), col(textCol).as("__ta"),
        substring(lower(trim(col(textCol))), 1, blockPrefix).as("__blk"))
      .filter(col("__blk").isNotNull && length(col("__blk")) > 0)
    val capped = maxBlockSize.fold(keyed) { cap =>
      require(cap >= 2, s"maxBlockSize must be >= 2: $cap")
      val hot = keyed.groupBy("__blk").agg(count(lit(1)).as("__n"))
        .filter(col("__n") > cap).select("__blk")
      keyed.join(hot, Seq("__blk"), "left_anti")
    }
    val right = capped.select(col("__blk"), col("a_id").as("b_id"),
      col("__ta").as("__tb"))
    capped.join(right, Seq("__blk"))
      .filter(col("a_id") < col("b_id"))
      .filter(abs(length(col("__ta")) - length(col("__tb"))) <= maxDist)
      .withColumn("dist",
        levenshtein(col("__ta"), col("__tb"), maxDist).cast("long"))
      .filter(col("dist") >= 0L) // threshold form returns -1 above maxDist
      .select(col("a_id"), col("b_id"), col("dist"))
  }

  /** Blocked record-linkage pairs by JARO-WINKLER similarity — the
    * prefix-weighted complement of [[fuzzyPairs]]'s edit distance: edit
    * distance counts any edits equally, Jaro-Winkler weighs positional
    * agreement and rewards shared prefixes, which is why it is the
    * standard matcher for names/titles where the head of the string
    * carries the identity. Same blocker and scale shape as
    * [[fuzzyPairs]] (prefix blocks, Σ|block|² within-block pairs,
    * `maxBlockSize` anti-join guard); SHORT FIELDS ONLY — the kernel is
    * O(len²/window) per pair. Scoring is the native byte-based
    * [[graft.functions.JaroWinkler]] expression (codegen'd, bit-exact
    * vs DuckDB's jaro_winkler_similarity). Pairs are (a_id < b_id). */
  def jaroWinklerPairs(
      docs: DataFrame,
      threshold: Double,
      blockPrefix: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxBlockSize: Option[Int] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    require(blockPrefix >= 1, s"blockPrefix must be >= 1: $blockPrefix")
    val keyed = docs.select(col(idCol).as("a_id"), col(textCol).as("__ta"),
        substring(lower(trim(col(textCol))), 1, blockPrefix).as("__blk"))
      .filter(col("__blk").isNotNull && length(col("__blk")) > 0)
    val capped = maxBlockSize.fold(keyed) { cap =>
      require(cap >= 2, s"maxBlockSize must be >= 2: $cap")
      val hot = keyed.groupBy("__blk").agg(count(lit(1)).as("__n"))
        .filter(col("__n") > cap).select("__blk")
      keyed.join(hot, Seq("__blk"), "left_anti")
    }
    val right = capped.select(col("__blk"), col("a_id").as("b_id"),
      col("__ta").as("__tb"))
    capped.join(right, Seq("__blk"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("jw", TextFunctions.jaroWinkler(col("__ta"), col("__tb")))
      .filter(col("jw") >= threshold)
      .select(col("a_id"), col("b_id"), col("jw"))
  }

  /** SORTED-NEIGHBORHOOD record-linkage pairs (Hernández & Stolfo 1995):
    * rank every record under ONE global sort key, compare each record
    * with the `window` records that FOLLOW it in rank order, keep pairs
    * at Jaro-Winkler ≥ `threshold`. The blocking-free complement of
    * [[fuzzyPairs]]/[[jaroWinklerPairs]]'s prefix blocks: an equality
    * blocker silently loses a pair whose block key carries the typo,
    * while SNM only needs the sort to bring variants NEAR each other —
    * the standard second pass of a multi-pass ER pipeline (union the
    * pairs from several sort keys).
    *
    * Scale shape: the global rank rides the two-phase prefix machinery
    * ([[graft.ops.RunningCount.withRunningCount]] — no single-partition
    * window); candidate pairs come from a BUCKET self-join (bucket =
    * ⌊(rnk−1)/window⌋, each left row probes its own and the next
    * bucket), so a pair within rank distance `window` is found by a
    * KEYED join over buckets of at most `window` rows — candidate
    * volume is n·window, never n². Pairs are (a_id, b_id) with a the
    * LOWER-ranKED side; `rank_gap` ∈ [1, window] and the raw similarity
    * double ride along (bit-exact vs the oracle engine's
    * jaro_winkler_similarity, the [[jaroWinklerPairs]] kernel).
    *
    * `sortKey` defaults to `lower(trim(textCol))`; ties (duplicate keys)
    * break by id, so the rank — and therefore the candidate set — is a
    * pure function of the data in both engines. Null/empty keys are
    * dropped (they have no meaningful neighborhood). */
  def sortedNeighborhoodPairs(
      docs: DataFrame,
      window: Int,
      threshold: Double,
      sortKey: Option[org.apache.spark.sql.Column] = None,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    val key = sortKey.getOrElse(lower(trim(col(textCol))))
    val keyed = docs
      .select(col(idCol).as("a_id"), col(textCol).as("__ta"), key.as("__key"))
      .filter(col("__key").isNotNull && length(col("__key")) > 0)
    val ranked = graft.ops.RunningCount
      .withRunningCount(keyed, Seq(col("__key"), col("a_id")), "rnk")
    def bucketOf(rnk: org.apache.spark.sql.Column) =
      floor((rnk - 1).cast("double") / window).cast("long")
    // left row probes its own and the NEXT bucket — a pair at rank
    // distance <= window cannot span further
    val probes = ranked
      .select(col("a_id"), col("__ta"), col("rnk"), bucketOf(col("rnk")).as("__b"))
      .withColumn("__pb", explode(array(col("__b"), col("__b") + 1)))
      .drop("__b")
    val right = ranked.select(col("a_id").as("b_id"), col("__ta").as("__tb"),
      col("rnk").as("__rnk_b"), bucketOf(col("rnk")).as("__pb"))
    probes.join(right, Seq("__pb"))
      .filter(col("__rnk_b") - col("rnk") >= 1 &&
        col("__rnk_b") - col("rnk") <= window)
      .withColumn("jw", TextFunctions.jaroWinkler(col("__ta"), col("__tb")))
      .filter(col("jw") >= threshold)
      .select(col("a_id"), col("b_id"),
        (col("__rnk_b") - col("rnk")).as("rank_gap"), col("jw"))
  }

  /** Shared core of the n-gram pair generators: distinct-shingle postings
    * (df-capped when asked) self-joined by shingle, aggregated to one row
    * per candidate pair carrying (a_sz, b_sz, inter). */
  private def ngramPairCounts(
      docs: DataFrame,
      ngram: Int,
      textCol: String,
      idCol: String,
      maxShingleDf: Option[Int],
      maxShingleDfFraction: Option[Double]): DataFrame = {
    require(maxShingleDfFraction.forall(f => f > 0 && f <= 1), "fraction must be in (0, 1]")
    val capped = maxShingleDf.isDefined || maxShingleDfFraction.isDefined
    // spread the per-doc shingle computation: a single-file local scan is one
    // partition, which would serialize all expression work into one task
    val parts = docs.sparkSession.sessionState.conf.numShufflePartitions
    val sets = docs.repartition(parts).select(
      col(idCol).as("id"),
      TextFunctions.shingleSet(col(textCol), ngram).as("sh"))
      // the coalesce makes sz non-nullable: the jac>=threshold filter would
      // otherwise infer isnotnull(sz) and inline ANOTHER wordshingles
      // evaluation into the scan filter (null sh rows never join anyway)
      .withColumn("sz", coalesce(size(col("sh")), lit(0)))
    // explode_OUTER: the plain explode makes InferFiltersFromGenerate push
    // `size(shingles(text)) > 0 AND isnotnull(shingles(text))` into the SCAN,
    // re-evaluating the whole shingle expression twice more per row. The
    // outer generate infers nothing; its null/empty rows can't join on the
    // shingle key, so the output pairs are identical.
    val posts0 = sets.select(col("id"), col("sz"), explode_outer(col("sh")).as("shingle"))
    // document-frequency cap: one keyed aggregation over the postings, then
    // drop the hot shingles BEFORE the df² self-join. The join is an ANTI
    // join against the shingles OVER the cap — usually the small side
    // (boilerplate), so the planner/AQE broadcasts it from its actual
    // runtime size. No broadcast() hint: a heavily-templated corpus (or a
    // tight fractional cap) can push MOST distinct shingles over the cap,
    // and a forced broadcast of that set would OOM the driver where the
    // planner's shuffle anti-join fallback just works.
    //
    // The df branch and the anti-join probe both consume the postings, and
    // exchange reuse CANNOT merge them (column pruning narrows the df branch
    // to [shingle] and the probe's join-key constraint pushes an
    // isnotnull(id) filter into its scan — canonically different subtrees),
    // so unpinned they each evaluate scan -> shingle -> explode over the
    // whole corpus. At 100 TB that second evaluation re-reads and
    // re-shingles 100 TB. The eager localCheckpoint (the quantileBuckets
    // pattern) materializes the postings ONCE, already spread over `parts`
    // partitions; both branches then read pinned blocks. Storage is one
    // postings copy — the same volume the self-join's shuffle writes anyway.
    // Scoped to the capped path: uncapped, the postings have one consumer
    // per join side and ReuseExchange already dedups them.
    Pins.scope { pin =>
      val posts = if (!capped) posts0 else {
        val pinned = pin(posts0)
        val dfs = pinned.groupBy("shingle").agg(count(lit(1)).as("__graft_df"))
        // Fraction cap denominator: the corpus size read off the SAME pinned
        // postings (explode_outer keeps one row even for null/empty docs, so
        // count(distinct id) IS the doc count) as a one-row broadcast branch
        // — no separate docs.count() job, no second scan of a filtered
        // input. ceil on doubles is fine to 2^53 docs; the cast to long (not
        // int) keeps multi-billion-doc caps from saturating at Int.MaxValue
        // and silently disabling the guard at exactly the scale it's for.
        val withFrac = maxShingleDfFraction match {
          case Some(f) =>
            val n = pinned.agg(countDistinct("id").as("__graft_n"))
            dfs.crossJoin(broadcast(n))
              .withColumn("__graft_cap", ceil(lit(f) * col("__graft_n")).cast("long"))
          case None => dfs.withColumn("__graft_cap", lit(Long.MaxValue))
        }
        val hot = withFrac
          .filter(col("__graft_df") >
            least(col("__graft_cap"), lit(maxShingleDf.map(_.toLong).getOrElse(Long.MaxValue))))
          .select("shingle")
        pinned.join(hot, Seq("shingle"), "left_anti")
      }
      val a = posts.select(col("id").as("a_id"), col("sz").as("a_sz"), col("shingle"))
      val b = posts.select(col("id").as("b_id"), col("sz").as("b_sz"), col("shingle"))
      a.join(b, Seq("shingle"))
        .filter(col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id", "a_sz", "b_sz")
        .agg(count(lit(1)).as("inter"))
    }
  }

  /** MinHash-LSH near-dup pairs, verified: shingle -> k-minhash signature
    * (single-pass Catalyst expression) -> banded bucket join for candidates ->
    * exact Jaccard filter. With bands*rowsPerBand hashes, P(miss a pair at
    * Jaccard j) = (1 - j^rowsPerBand)^bands — at the defaults (32x4) a j=0.9
    * pair is missed with p ~ 1e-15. Bucket join shuffles by (band, key), so
    * work scales with bucket occupancy, not n². */
  def minhashLsh(
      docs: DataFrame,
      threshold: Double,
      ngram: Int = 3,
      bands: Int = 32,
      rowsPerBand: Int = 4,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val parts = docs.sparkSession.sessionState.conf.numShufflePartitions
    val sets = docs.repartition(parts).select(
      col(idCol).as("id"),
      TextFunctions.shingleSet(col(textCol), ngram).as("sh"))
    // fused shingles->signature->bands expression: ONE evaluation per row
    // (a sig column composed via getItem gets inlined k times by
    // CollapseProject — measured 124s vs <1s here)
    val buckets = sets
      .select(col("id"), explode(Sketches.minhashBands(col("sh"), bands, rowsPerBand)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.key").as("key"))

    // Candidate pairs are deduped as BARE ID PAIRS before the shingle sets
    // are joined back — shuffling (long, long) rows instead of carrying two
    // full shingle arrays through the bucket join and distinct.
    val candidates = buckets.toDF("a_id", "band", "key")
      .join(buckets.toDF("b_id", "band", "key"), Seq("band", "key"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()

    candidates
      .join(sets.toDF("a_id", "a_sh"), "a_id")
      .join(sets.toDF("b_id", "b_sh"), "b_id")
      .withColumn("inter", size(array_intersect(col("a_sh"), col("b_sh"))))
      // raw double division of exact int counts — deterministic and
      // bit-identical to the DuckDB oracle (no rounding needed)
      .withColumn("jac", col("inter").cast("double") /
        (size(col("a_sh")) + size(col("b_sh")) - col("inter")).cast("double"))
      .filter(col("jac") >= threshold)
      .select(col("a_id"), col("b_id"), col("jac"))
  }

  /** SimHash near-dup pairs: 64-bit simhash per doc; candidates via the
    * pigeonhole band trick (split the 64 bits into `chunks` pieces — any pair
    * within hamming distance < chunks shares at least one exact piece), then
    * verified with an exact popcount <= maxHamming filter. Scales like
    * MinHash-LSH (keyed bucket join).
    *
    * Precondition (all pair emitters here): `idCol` is unique. The
    * filter-based candidate dedup keys on the id values, so duplicated ids
    * (a re-ingested shard, an un-deduped union) emit their pairs once per
    * row combination — run [[exact]] dedup or fix ids upstream first. */
  /** @param portable use the md5-derived engine-portable token hash
    *   (Sketches.SimHash64 scaladoc) so the output can be verified against
    *   an independent SQL oracle; default xxhash64 for throughput. */
  def simhashPairs(
      docs: DataFrame,
      maxHamming: Int = 6,
      chunks: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id",
      portable: Boolean = false): DataFrame = {
    require(64 % chunks == 0, "chunks must divide 64")
    val bits = 64 / chunks
    val parts = docs.sparkSession.sessionState.conf.numShufflePartitions
    // Null texts are dropped by a cheap pushed-down scan filter, and the
    // coalesce makes `sig` provably non-nullable — otherwise the join-key
    // not-null constraint materializes as `isnotnull(simhash64(...))` in the
    // scan filter, re-evaluating the whole sketch per row (the coalesce
    // branch never fires: tokens of a non-null text are non-null).
    val withSig = docs.repartition(parts)
      .filter(col(textCol).isNotNull)
      .select(
        col(idCol).as("id"),
        coalesce(Sketches.simhash64(TextFunctions.tokens(col(textCol)), portable), lit(0L)).as("sig"))
    // Unlike minhash/embedding dedup, the signature IS the verification
    // payload and it is 8 bytes — carry it through the bucket join instead
    // of joining it back (which re-evaluated the whole tokenize+simhash
    // subtree 6x: twice for the banded self-join sides, twice for the
    // join-back sides, twice in not-null join-key filters). The two
    // identical banded sides shuffle once (ReuseExchange), so the text is
    // tokenized and hashed ONE time per side.
    val banded = withSig.select(
      col("id"), col("sig"),
      explode(array((0 until chunks).map { c =>
        struct(lit(c).as("band"),
          shiftrightunsigned(col("sig"), c * bits).bitwiseAND(lit((1L << bits) - 1)).as("key"))
      }: _*)).as("b"))
      .select(col("id"), col("sig"), col("b.band").as("band"), col("b.key").as("key"))

    // A qualifying pair collides in EVERY band where its signature chunks
    // agree — once per matching band. Since both sigs ride through the join,
    // "is this the first matching band?" is a pure function of
    // (band, a_sig^b_sig): chunk c matches iff bits [c*bits, (c+1)*bits) of
    // the xor are zero. Keeping only the first matching band dedups WITHOUT
    // the dropDuplicates shuffle a candidate set of this size would
    // otherwise pay (at cluster scale, a full extra exchange of every
    // candidate pair).
    val xorSig = col("a_sig").bitwiseXOR(col("b_sig"))
    val chunkMask = lit((1L << bits) - 1)
    val firstMatchingBand = (0 until chunks).reverse.foldLeft(lit(-1)) { (acc, c) =>
      when(shiftrightunsigned(xorSig, c * bits).bitwiseAND(chunkMask) === 0L, lit(c))
        .otherwise(acc)
    }
    banded.toDF("a_id", "a_sig", "band", "key")
      .join(banded.toDF("b_id", "b_sig", "band", "key"), Seq("band", "key"))
      .filter(col("a_id") < col("b_id"))
      .filter(col("band") === firstMatchingBand)
      .withColumn("hamming", bit_count(xorSig))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** Near-dup pairs under ANY 64-bit signature column by the banded
    * hamming join — [[simhashPairs]]' candidate machinery factored over a
    * caller-provided signature (perceptual image dHash, an external
    * simhash, a feature fingerprint): chunk the signature into `chunks`
    * bands, join on (band, key), keep each pair once via the
    * first-matching-band predicate, verify `bit_count(xor) <= maxHamming`.
    * EXACT (not approximate) when `maxHamming < chunks` — pigeonhole: a
    * pair within that distance must agree on some whole band — which is
    * why the default pairing (7, 8) is a complete hamming-7 join. Null
    * signatures drop. Shuffle volume is the banded corpus + candidates,
    * never n². */
  def hammingPairs(
      df: DataFrame,
      sigCol: String,
      maxHamming: Int = 7,
      chunks: Int = 8,
      idCol: String = "doc_id"): DataFrame = {
    require(64 % chunks == 0, "chunks must divide 64")
    require(maxHamming >= 0, s"maxHamming must be >= 0: $maxHamming")
    val bits = 64 / chunks
    val withSig = df.filter(col(sigCol).isNotNull)
      .select(col(idCol).as("id"), col(sigCol).cast("long").as("sig"))
    val banded = withSig.select(
      col("id"), col("sig"),
      explode(array((0 until chunks).map { c =>
        struct(lit(c).as("band"),
          shiftrightunsigned(col("sig"), c * bits).bitwiseAND(lit((1L << bits) - 1)).as("key"))
      }: _*)).as("b"))
      .select(col("id"), col("sig"), col("b.band").as("band"), col("b.key").as("key"))
    val xorSig = col("a_sig").bitwiseXOR(col("b_sig"))
    val chunkMask = lit((1L << bits) - 1)
    val firstMatchingBand = (0 until chunks).reverse.foldLeft(lit(-1)) { (acc, c) =>
      when(shiftrightunsigned(xorSig, c * bits).bitwiseAND(chunkMask) === 0L, lit(c))
        .otherwise(acc)
    }
    banded.toDF("a_id", "a_sig", "band", "key")
      .join(banded.toDF("b_id", "b_sig", "band", "key"), Seq("band", "key"))
      .filter(col("a_id") < col("b_id"))
      .filter(col("band") === firstMatchingBand)
      .withColumn("hamming", bit_count(xorSig).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** Embedding near-dup pairs: cosine >= threshold. Brute-force pair space —
    * use [[Similarity.annLsh]] bucketing for the scale path; this exact
    * variant is the oracle. Cosine is computed in double with
    * order-stable sequential accumulation for cross-engine stability. */
  def embeddingCosinePairs(
      embeddings: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorFunctions._
    val v = embeddings.select(col(idCol).as("id"), col(vecCol).as("v"))
    val parts = embeddings.sparkSession.sessionState.conf.numShufflePartitions
    // The streamed (left) side of the broadcast nested-loop join sets the
    // parallelism of the O(n²) pair scan — spread it across the cluster.
    val a = v.toDF("a_id", "a_v").repartition(parts)
    val b = v.toDF("b_id", "b_v")
    a.join(broadcast(b), col("a_id") < col("b_id"))
      // native one-pass expression; sequential accumulation in array order
      // on both engines (CosineSimilarity == DuckDB list_sum formulation)
      // => bit-identical doubles
      .withColumn("cos", cosineSimilarity(col("a_v"), col("b_v")))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), col("cos"))
  }

  /** Embedding near-dup pairs at scale: random-hyperplane LSH buckets with
    * multi-probe pair enumeration (each vector lands in its own bucket and
    * its `nPlanes` hamming-1 neighbors, so any pair whose signatures differ
    * in at most one plane meets in some bucket), then exact-cosine verify of
    * candidates only. A high-cosine pair disagrees on a given plane with
    * probability θ/π — at threshold 0.99 (θ≈8°) a pair survives all 8
    * default planes' agreement-or-one-flip with p > 0.95. For a tighter
    * miss bound pass several `seeds`: candidates are unioned across
    * independently-seeded plane sets before ONE exact-cosine verify, so a
    * pair is missed only if EVERY seed's planes cut it — miss rates
    * multiply (p_miss^k for k seeds) while the verify cost grows only by
    * the (deduplicated) extra candidates. Keyed shuffle — never n². */
  def embeddingCosinePairsLsh(
      embeddings: DataFrame,
      threshold: Double,
      nPlanes: Int = 8,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      seeds: Seq[Long] = Seq(0x5DEECE66DL)): DataFrame = {
    import graft.functions.VectorFunctions._
    require(seeds.nonEmpty, "need at least one plane seed")
    val parts = embeddings.sparkSession.sessionState.conf.numShufflePartitions
    val v = embeddings.repartition(parts)
      .select(col(idCol).as("id"), col(vecCol).as("v"))

    // Candidate id-pairs under one seed's plane set. Multi-probe: own
    // bucket + every hamming-1 neighbor — bare (id, bucket0, bucket) rows
    // only; the vectors stay out of the bucket join entirely.
    def candidatesFor(seed: Long): DataFrame = {
      val planes = makePlanes(nPlanes, dim, seed)
      val probed = v
        .withColumn("bucket0", hyperplaneBucket(col("v"), planes))
        .select(col("id"), col("bucket0"), explode(array(
          (col("bucket0") +: (0 until nPlanes).map(i =>
            col("bucket0").bitwiseXOR(lit(1 << i)))): _*)).as("bucket"))

      // Multi-probe on both sides makes a pair meet in EVERY shared probe
      // bucket (up to 2 planes of signature disagreement). The meeting set is
      // a pure function of the two base signatures, so keeping a pair only in
      // its MINIMUM meeting bucket dedups candidates with a scalar filter —
      // no distinct shuffle of the (quadratic) candidate set. With
      // D = a0 xor b0: w=0 meets in a0 and all its flips; w=1 in {a0, b0};
      // w=2 in {a0^low(D), a0^high(D)}; w>2 never joins.
      val d = col("a_b0").bitwiseXOR(col("b_b0"))
      val w = bit_count(d)
      val lowBit = d.bitwiseAND(-d)
      val highBit = d.bitwiseXOR(lowBit)
      val minMeet =
        when(w === 0, least(
          (col("a_b0") +: (0 until nPlanes).map(i =>
            col("a_b0").bitwiseXOR(lit(1 << i)))): _*))
          .when(w === 1, least(col("a_b0"), col("b_b0")))
          .when(w === 2, least(col("a_b0").bitwiseXOR(lowBit), col("a_b0").bitwiseXOR(highBit)))
      probed.toDF("a_id", "a_b0", "bucket")
        .join(probed.toDF("b_id", "b_b0", "bucket"), Seq("bucket"))
        .filter(col("a_id") < col("b_id"))
        .filter(col("bucket") === minMeet)
        .select("a_id", "b_id")
    }

    // Each seed dedups its own candidates via the min-meeting-bucket rule;
    // across seeds the same pair CAN recur, so multi-seed runs add one
    // id-pair distinct (16-byte rows, post-LSH volume). Single-seed keeps
    // the distinct-free plan unchanged.
    val unioned = seeds.map(candidatesFor).reduce(_ union _)
    val candidates = if (seeds.size == 1) unioned else unioned.distinct()

    candidates
      .join(v.toDF("a_id", "a_v"), "a_id")
      .join(v.toDF("b_id", "b_v"), "b_id")
      .withColumn("cos", cosineSimilarity(col("a_v"), col("b_v")))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), col("cos"))
  }

  /** SemDeDup-style semantic dedup: partition the corpus into `k` clusters
    * by nearest centroid ([[Similarity.assignToCentroids]] — deterministic
    * seed centroids), then within each cluster drop every vector that has a
    * LOWER-id cluster-mate at cosine >= `threshold`. Returns the survivors
    * as (id, cluster).
    *
    * This is the shape that makes embedding dedup tractable at corpus
    * scale: the quadratic pair space is confined to each cluster (the
    * cluster id keys the self-join, so pair work is Σ|cluster|² not
    * corpus²), and the keep rule needs no iteration — "has an earlier
    * near-twin in my cluster" is one EXISTS per vector, evaluated as a
    * LEFT ANTI join over the in-cluster pairs. A pathologically hot
    * cluster is a hot JOIN key: raise k, or run
    * [[graft.ops.Skew.dropHotKeys]] on the assignment first. The exact
    * within-threshold twins ACROSS clusters are intentionally out of scope
    * (SemDeDup's recall trade) — [[embeddingCosinePairsLsh]] is the
    * cluster-free alternative when recall matters more than cost. */
  def semanticDedup(
      embeddings: DataFrame,
      k: Int,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorFunctions.cosineSimilarity
    val assigned = Similarity.assignWithVec(embeddings, k, idCol, vecCol)
    val earlier = assigned
      .select(col("cluster").as("e_cluster"), col("id").as("e_id"), col("v").as("e_v"))
    // ONE cluster-keyed LEFT ANTI join: "no lower-id near-twin in my
    // cluster" rides entirely in the join condition, so there is no
    // materialized dropped-id set, no distinct, no second join — the anti
    // join emits a survivor the moment its bucket shows no qualifying twin.
    assigned.join(earlier,
        col("cluster") === col("e_cluster") && col("e_id") < col("id") &&
          cosineSimilarity(col("e_v"), col("v")) >= threshold,
        "left_anti")
      .select(col("id").as(idCol), col("cluster"))
  }

  /** Incremental SEMANTIC dedup: drop each new vector that has a near-twin
    * (cosine >= `threshold`) in the existing REFERENCE corpus, comparing
    * only within the same nearest-centroid cluster — the embedding-space
    * counterpart of [[dropExistingIn]] for ingesting a new crawl batch
    * against the training set already kept. Centroids are seeded from the
    * CORPUS (its k lowest ids) so re-running with a grown corpus keeps
    * assignments stable for unchanged seeds. Scale shape: both sides get a
    * scan-local assignment (no shuffle), then ONE cluster-keyed join whose
    * pair space is Σ |new_c|·|corpus_c| — never |new|·|corpus|; the corpus
    * text/vectors are read but never re-written. Survivors keep their
    * cluster id so the caller can route them straight into per-cluster
    * storage. */
  def semanticDedupAgainstCorpus(
      newBatch: DataFrame,
      corpus: DataFrame,
      k: Int,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorFunctions.cosineSimilarity
    val cents = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .orderBy(col("id")).limit(k)
      .agg(sort_array(collect_list(struct(col("id").as("cid"), col("v").as("cv"))))
        .as("cents"))
    val nw = Similarity.assignAgainst(newBatch, cents, idCol, vecCol, "n_id", "n_v")
    val ref = Similarity.assignAgainst(corpus, cents, idCol, vecCol, "r_id", "r_v")
      .withColumnRenamed("cluster", "r_cluster")
    // ONE cluster-keyed LEFT ANTI join with the twin test in the condition —
    // no dropped-id set, no distinct, no rejoin; and because the corpus
    // side is static, the same plan runs STREAM-STATIC for ingest-time
    // semantic dedup (spec-pinned in StreamingSpec).
    nw.join(ref,
        col("cluster") === col("r_cluster") &&
          cosineSimilarity(col("n_v"), col("r_v")) >= threshold,
        "left_anti")
      .select(col("n_id").as(idCol), col("cluster"))
  }

  /** Resolve near-duplicate PAIRS into clusters: every id appearing in
    * `pairs` gets the smallest id reachable through the pair graph
    * (connected components) as its `cluster_id` — the step that turns any
    * of the pair generators above into an actual dedup decision.
    *
    * Iterative min-label propagation over keyed joins: each round every
    * vertex takes the min of its own label and its neighbors' labels;
    * convergence needs component-diameter rounds, and near-dup components
    * (mirror sets, boilerplate template families) have tiny diameters. All
    * per-round work is (id, label)-keyed shuffles — nothing but the round
    * counter and a change COUNT touch the driver, so the loop holds on a
    * 1000-executor cluster; each round's frame is pinned with an eager
    * localCheckpoint so the iterated plan stays constant-size instead of
    * doubling (swap in reliable `checkpoint` dirs for multi-hour jobs where
    * executor loss mid-loop matters). If the graph turns out adversarially
    * deep (diameter > `maxRounds` — a path, not a near-dup family), the
    * loop hands the CURRENT partially-contracted edge set to
    * [[starContraction]], which finishes in O(log n) rounds on any shape
    * instead of failing. */
  def clusters(
      pairs: DataFrame,
      aCol: String = "a_id",
      bCol: String = "b_id",
      maxRounds: Int = 50): DataFrame = {
    // evaluate the (possibly expensive: LSH, postings joins) pair plan once
    val edges = pairs.select(col(aCol).as("s"), col(bCol).as("t"))
    Pins.scope { pin =>
      val undirected = pin(edges.union(edges.select(col("t"), col("s"))))
      var labels = pin(undirected.select(col("s").as("id")).distinct()
        .withColumn("lbl", col("id")))
      var changed = 1L
      var round = 0
      // One min-label hop. `chg` marks labels the hop improved.
      def hop(lb: DataFrame): DataFrame = {
        val msgs = undirected.join(lb, col("s") === col("id"))
          .groupBy(col("t").as("mid")).agg(min("lbl").as("nlbl"))
        lb.join(msgs, col("id") === col("mid"), "left")
          .select(col("id"),
            least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"),
            (col("nlbl").isNotNull && col("nlbl") < col("lbl")).as("chg"))
      }
      while (changed > 0 && round < maxRounds) {
        // ADAPTIVE hop batching: the first two pins hop ONCE each — near-dup
        // families (mirror sets, template clones) have diameter ≤ 2, so they
        // converge and prove it in ≤ 3 single-hop pins with no wasted work.
        // Only if the graph is still moving after two full hops (a deeper
        // component) do we escalate to THREE hops per pin, which amortizes
        // the per-pin changed-count job (each hop is still individually
        // pinned — see below — so checkpoint cost is per hop). Min-label
        // propagation is monotone, so batching cannot overshoot — trailing
        // hops past the fixed point are idempotent no-ops — and convergence
        // stays exact: `changed` counts the LAST hop's improvements on the
        // pinned frame. Hops inside a batch are pinned individually too:
        // hop() consumes its input TWICE (message build + label join), so a
        // nested hop(hop(hop(.))) would re-execute the inner hops' join+agg
        // 2–4× inside one action; per-hop pins keep each join+agg computed
        // exactly once.
        val batch = if (round < 2) 1 else 3
        var cur = labels
        for (h <- 0 until batch)
          // LAZY pins: each hop's checkpoint materializes inside the round's
          // single count job (lineage still truncates after materialization),
          // so a batch costs ONE job instead of one per hop plus the count
          cur = pin(hop(if (h == 0) cur else cur.drop("chg")), eager = false)
        changed = cur.filter(col("chg")).count()
        labels = cur.drop("chg")
        pin.retain(undirected, labels)
        round += batch
      }
      if (changed > 0) {
        // diameter > maxRounds: an adversarially deep graph (paths, long
        // chains), not a near-dup family. Finish with star contraction —
        // O(log n) rounds on any shape — seeded with the original edges PLUS
        // the (id -> current label) shortcuts the propagation already earned
        // (a label is always a same-component vertex, so connectivity is
        // unchanged and the head start is free).
        val shortcuts = labels.filter(col("id") =!= col("lbl"))
          .select(col("id").as("s"), col("lbl").as("t"))
        starContraction(undirected.union(shortcuts), "s", "t")
      } else labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
    }
  }

  /** Connected components by alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): large-star hangs every larger neighbor of a vertex onto its
    * minimum neighbor; small-star re-hangs the smaller ones. Both are
    * (vertex)-keyed aggregations + joins — the same distributed shape as
    * the propagation loop — and the edge set provably converges to stars
    * (every vertex pointing at its component minimum) in O(log n) rounds
    * REGARDLESS of diameter, where min-label propagation needs
    * diameter-many. The cost is a groupBy keyed by the star center, which
    * concentrates a whole component's edges on one key late in the run —
    * AQE skew-split absorbs it (the value payload is one long per edge);
    * that skew is why this is the fallback rather than the default.
    *
    * `pairs` are edges in either or both orientations; self-loops
    * tolerated. Returns (doc_id, cluster_id) for every vertex. */
  def starContraction(
      pairs: DataFrame,
      aCol: String = "a_id",
      bCol: String = "b_id",
      maxRounds: Int = 120): DataFrame = {
    val edges = pairs.select(col(aCol).as("s"), col(bCol).as("t"))
    Pins.scope { pin =>
      val vertices = pin(edges.select(col("s").as("id"))
        .union(edges.select(col("t").as("id"))).distinct())
      var cur = pin(edges.filter(col("s") =!= col("t"))
        .select(greatest(col("s"), col("t")).as("s"), least(col("s"), col("t")).as("t"))
        .distinct())
      var stable = cur.isEmpty
      var round = 0
      while (!stable && round < maxRounds) {
        // Convergence is detected by a per-edge `chg` marker carried through
        // both phases (true iff a re-hang produced the edge THIS round) — one
        // count on the already-pinned frame, where an `except(cur)` would pay
        // two extra edge-set-sized shuffles per round. moves == 0 ⟺ next ==
        // cur exactly: no large-star move means every emission kept its old
        // companion (ls = cur), and no small-star re-hang means every center
        // kept its single smaller neighbor (next = ls); conversely the
        // star-forest end state provably has zero moves, and Kiveris et al.'s
        // fixed-point theorem says star forests are the ONLY fixed points, so
        // the check cannot spin on a stable-but-marked set.
        // large-star: Γ(u) over both orientations; m = min(Γ(u) ∪ {u});
        // every neighbor v > u re-hangs onto m (a move iff m < u)
        val both = cur.union(cur.select(col("t").as("s"), col("s").as("t")))
        val lsMin = both.groupBy("s").agg(min(col("t")).as("mn"))
          .select(col("s"), least(col("s"), col("mn")).as("m"))
        val ls = both.join(lsMin, "s").filter(col("t") > col("s"))
          .select(col("t").as("ns"), col("m").as("nt"), (col("m") =!= col("s")).as("chg"))
          .filter(col("ns") =!= col("nt"))
          .groupBy(col("ns").as("s"), col("nt").as("t")).agg(max("chg").as("chg"))
        // small-star: key every edge by its LARGER endpoint; m = min smaller
        // neighbor; all other smaller neighbors re-hang onto m (moves), u
        // keeps (u, m) (inheriting that edge's large-star marker)
        val ssMin = ls.groupBy("s").agg(min(struct(col("t"), col("chg"))).as("mn"))
          .select(col("s"), col("mn.t").as("m"), col("mn.chg").as("mchg"))
        val next = pin(ls.join(ssMin, "s").filter(col("t") =!= col("m"))
          .select(col("t").as("s"), col("m").as("t"), lit(true).as("chg"))
          .union(ssMin.select(col("s"), col("m").as("t"), col("mchg").as("chg")))
          .filter(col("s") =!= col("t"))
          .groupBy("s", "t").agg(max("chg").as("chg")))
        stable = next.filter(col("chg")).count() == 0L
        cur = next.drop("chg")
        pin.retain(vertices, cur)
        round += 1
      }
      require(stable,
        s"star contraction did not converge in $maxRounds rounds (impossible " +
          "below 2^60 vertices — indicates non-deterministic ids in the input)")
      // converged edges are stars: s (non-root) -> t (component min)
      vertices.join(cur.select(col("s").as("id"), col("t").as("root")), Seq("id"), "left")
        .select(col("id").as("doc_id"), coalesce(col("root"), col("id")).as("cluster_id"))
    }
  }

  /** Keep one document per near-dup cluster: drop every row whose id sits in
    * a cluster under a smaller id (the deterministic min-id survivor rule —
    * swap the pair generator to taste). Ids absent from `pairs` are
    * untouched. One anti-join against the (tiny: ids-in-pairs-sized) loser
    * set; the planner broadcasts it when it fits. */
  def survivors(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id",
      aCol: String = "a_id",
      bCol: String = "b_id"): DataFrame = {
    val losers = clusters(pairs, aCol, bCol)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Keep the BEST document per near-dup cluster — the survivor rule real
    * curation wants (highest quality score, longest text, freshest crawl),
    * where [[survivors]]' min-id rule is only a deterministic default.
    * Ranks each cluster by `scoreCol` DESC with an id tiebreak, so the
    * choice is total and rerun-stable. Cost over [[survivors]]: the
    * cluster map joins the (id, score) projection — never full text —
    * and one window over clustered ids ranks members; docs outside any
    * pair are untouched. */
  def survivorsBy(
      docs: DataFrame,
      pairs: DataFrame,
      scoreCol: String,
      idCol: String = "doc_id",
      aCol: String = "a_id",
      bCol: String = "b_id"): DataFrame = {
    val members = clusters(pairs, aCol, bCol)
      .join(docs.select(col(idCol).as("doc_id"), col(scoreCol).as("__graft_s")), Seq("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("__graft_s").desc_nulls_last, col("doc_id"))
    val losers = members
      .withColumn("__graft_rk", row_number().over(w))
      .filter(col("__graft_rk") =!= 1)
      .select(col("doc_id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Per-document DUPLICATE-SHINGLE statistics — the Dolma/RefinedWeb-style
    * "how much of this page is boilerplate the rest of the corpus also has"
    * signal, as a per-doc score rather than pairs: for each doc, the count
    * of its DISTINCT `ngram`-shingles, how many of those appear in at least
    * `minDf` documents corpus-wide, and the resulting duplicate fraction.
    * Unlike [[ngramJaccardPairs]] (who is near WHOM) this never forms a
    * pair space at all — it is the cheap corpus-contamination score a
    * curator thresholds BEFORE paying for pairwise dedup.
    *
    * Numerics: n_shingles / n_dup are exact integers; dup_frac is one
    * double division of those integers (bit-portable); docs with zero
    * shingles (fewer than `ngram` tokens) keep a row with n_shingles = 0
    * and null dup_frac — the operator is row-preserving on ids.
    *
    * Scale shape: (id, shingle) postings collapse scan-side (distinct
    * within doc via the native expression — no per-doc bag survives the
    * exchange); df is a shingle-keyed count over those postings; the join
    * back to postings is on the SAME shingle key, so AQE reuses the one
    * exchange; the final per-doc agg is id-keyed. Two keyed shuffles of
    * fingerprint-sized rows total, text never moves, no pair space. A df
    * skew cap is unnecessary: over-represented shingles make df ROWS not
    * df² pairs here. */
  def dupShingleStats(
      docs: DataFrame,
      ngram: Int = 3,
      minDf: Int = 2,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(ngram >= 1, s"ngram must be >= 1: $ngram")
    require(minDf >= 1, s"minDf must be >= 1: $minDf")
    val p = docs.select(col(idCol),
      explode_outer(TextFunctions.shingleSet(col(textCol), ngram)).as("__sh"))
    val df = p.filter(col("__sh").isNotNull)
      .groupBy("__sh").agg(count(lit(1)).as("__df"))
    p.join(df, Seq("__sh"), "left")
      .groupBy(idCol)
      .agg(count(col("__sh")).as("n_shingles"),
        count(when(col("__df") >= minDf, 1)).as("n_dup"))
      .withColumn("dup_frac",
        when(col("n_shingles") > 0,
          col("n_dup").cast("double") / col("n_shingles").cast("double")))
  }

  /** Pair-level precision/recall of an APPROXIMATE near-dup pair generator
    * against an exact one — the dedup counterpart of
    * [[Similarity.recallAtK]], the number an LSH/SimHash parameter sweep
    * optimizes: one row with n_exact, n_approx, hits, recall
    * (hits/n_exact) and prec (hits/n_approx; null when a side is empty
    * rather than a fake 0). Pairs canonicalize to (min, max) and dedup
    * first, so either orientation and duplicates on either side are fine.
    *
    * Scale shape: both inputs are PAIR frames (already the outputs of the
    * bucketed generators — metric-sized next to the corpus); one
    * (u, v)-keyed join + two single-row aggregates. */
  def pairRecall(
      approx: DataFrame,
      exact: DataFrame,
      aCol: String = "a_id",
      bCol: String = "b_id"): DataFrame = {
    def canon(df: DataFrame) = df.select(
      least(col(aCol), col(bCol)).as("u"),
      greatest(col(aCol), col(bCol)).as("v")).distinct()
    val a = canon(approx)
    val e = canon(exact)
    val counted = e.join(a.withColumn("__hit", lit(1)), Seq("u", "v"), "left")
      .agg(count(lit(1)).as("n_exact"), count(col("__hit")).as("hits"))
    counted.crossJoin(a.agg(count(lit(1)).as("n_approx")))
      .select(col("n_exact"), col("n_approx"), col("hits"),
        // explicit zero guards: ANSI mode raises on /0 where the contract
        // is "null, not a fake 0" for an empty side
        when(col("n_exact") > 0,
          col("hits").cast("double") / col("n_exact")).as("recall"),
        when(col("n_approx") > 0,
          col("hits").cast("double") / col("n_approx")).as("prec"))
  }

  /** Exact repeated-substring removal (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", ACL 2022 — the ExactSubstr pass,
    * windowed): every `windowTokens`-token window whose text occurs at
    * least `minCount` times ACROSS THE CORPUS (all occurrences counted,
    * including repeats inside one document) marks its positions
    * duplicated; per document, overlapping/adjacent duplicated windows
    * merge into maximal spans whose tokens are REMOVED, and the document
    * is reassembled from the survivors. All copies go (the conservative
    * cleanup); keep-one-copy semantics compose from [[firstOccurrence]]
    * over the same spans. Documents shorter than the window pass through
    * untouched. Returns (id, text, n_removed).
    *
    * Scale shape: window generation is SCAN-LOCAL (an md5 per start
    * position — the text never re-shuffles for the census, only 16-byte
    * hashes); the census is one hash-keyed partial-agg count; the
    * duplicated-position set comes back through one semi-join; span
    * merging is the classic islands pass on ONE (doc, pos) window sort;
    * reassembly applies the merged spans as an index-aware filter on the
    * already-held token array — doc-keyed, no extra text movement. The
    * suffix-array machinery of the paper is replaced by fixed-width
    * window hashing: O(tokens) windows instead of O(tokens) suffixes,
    * same ≥ windowTokens-span guarantee, and every step is a keyed
    * partial agg or broadcast-able join.
    *
    * Cache lifetime: the tokenized frame is persisted LAZILY
    * (MEMORY_AND_DISK) so the census and reassembly branches share one
    * tokenize pass; the blocks live as long as the RETURNED DataFrame is
    * reachable and are reclaimed by the context cleaner only after the
    * caller drops its reference (plan construction must not execute, so
    * this method cannot unpersist for you). Long-lived sessions invoking
    * this repeatedly while holding results should materialize and release
    * each result before the next call. */
  def removeRepeatedSpans(
      docs: DataFrame,
      windowTokens: Int = 12,
      minCount: Long = 2,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(windowTokens >= 2, s"windowTokens must be >= 2: $windowTokens")
    require(minCount >= 2, s"minCount must be >= 2: $minCount")
    val L = windowTokens
    val toked = spanTokenize(docs, idCol, textCol)
    val wins = spanWindows(toked, L, idCol)
    val dupHashes = wins.groupBy("__h").agg(count(lit(1)).as("__n"))
      .where(col("__n") >= minCount).select(col("__h"))
    val dupPos = wins.join(dupHashes, Seq("__h"), "left_semi")
    removeSpansAt(toked, dupPos, L, idCol, textCol)
  }

  /** Cross-corpus span DECONTAMINATION — [[removeRepeatedSpans]]'s other
    * half: every `windowTokens`-token window of a document whose text
    * occurs ANYWHERE in `reference` (a benchmark/eval corpus) marks its
    * positions; overlapping windows merge into maximal spans whose tokens
    * are removed. The span-level upgrade of document-level
    * [[Decontaminate]] overlap gates: a training page QUOTING a benchmark
    * question keeps its own prose and loses exactly the quoted span.
    * Returns (id, text, n_removed).
    *
    * Scale shape: reference windows collapse to a DISTINCT 16-byte hash
    * set (one partial-agg shuffle of the reference, typically tiny next
    * to the corpus — the planner broadcasts the semi-join side when it
    * fits); everything else is [[removeRepeatedSpans]]'s machinery — the
    * corpus census is scan-local md5s, span merging one (doc, pos)
    * window, reassembly an index-aware filter on the pinned token
    * arrays. Same cache-lifetime note as [[removeRepeatedSpans]]. */
  def removeSpansMatching(
      docs: DataFrame,
      reference: DataFrame,
      windowTokens: Int = 12,
      idCol: String = "doc_id",
      textCol: String = "text",
      refTextCol: String = "text",
      bloomScreen: Boolean = false,
      bloomExpectedItems: Long = 4000000L,
      bloomFpp: Double = 0.03): DataFrame = {
    require(windowTokens >= 2, s"windowTokens must be >= 2: $windowTokens")
    val L = windowTokens
    val toked = spanTokenize(docs, idCol, textCol)
    val wins = spanWindows(toked, L, idCol)
    val refToked = reference.select(lit(0L).as("__rid"),
      split(col(refTextCol), " ").as("__t"))
    val refWins = spanWindows(refToked, L, "__rid")
      .select(col("__h")).distinct()
    // bloomScreen: the 100 TB shape when the REFERENCE is itself large
    // (every benchmark + eval suite + held-out shard — too many windows
    // to broadcast). The reference windows fold into one fixed-size
    // Bloom bitmap riding a scalar subquery ([[Decontaminate
    // .overlapBloom]]'s discipline); the corpus-sized wins frame filters
    // MAP-SIDE to ~fpp·|wins| + true hits before the exact semi-join —
    // which stays, so false positives die there and results are exact
    // at any fpp. Costs one extra reference pass (the bitmap agg).
    val screened = if (!bloomScreen) wins else {
      import org.apache.spark.sql.GraftExpr
      import org.apache.spark.sql.catalyst.expressions.{Literal, ScalarSubquery}
      import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
      import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
      require(bloomExpectedItems > 0,
        s"bloomExpectedItems must be positive: $bloomExpectedItems")
      require(bloomFpp > 0 && bloomFpp < 1, s"bloomFpp must be in (0, 1): $bloomFpp")
      val numBits = org.apache.spark.util.sketch.BloomFilter
        .optimalNumOfBits(bloomExpectedItems, bloomFpp)
      // BloomFilterAggregate type-checks its literals against Spark's
      // runtime-bloom caps; pre-validate with an actionable message
      // instead of the aggregate's opaque conf error — for references
      // past the defaults, RAISE these session confs.
      val conf = docs.sparkSession.conf
      val maxItems = conf.getOption(
        "spark.sql.optimizer.runtime.bloomFilter.maxNumItems")
        .map(_.toLong).getOrElse(4000000L)
      val maxBits = conf.getOption(
        "spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
        .map(_.toLong).getOrElse(67108864L)
      require(bloomExpectedItems <= maxItems,
        s"bloomExpectedItems=$bloomExpectedItems exceeds " +
          s"spark.sql.optimizer.runtime.bloomFilter.maxNumItems=$maxItems — " +
          "raise that conf for a reference this large")
      require(numBits <= maxBits,
        s"optimal bits $numBits (items=$bloomExpectedItems, fpp=$bloomFpp) " +
          s"exceed spark.sql.optimizer.runtime.bloomFilter.maxNumBits=$maxBits — " +
          "raise that conf or loosen fpp")
      val bloomDf = refWins.agg(GraftExpr.column(
        new BloomFilterAggregate(
          GraftExpr.catalystExpression(xxhash64(col("__h"))),
          Literal(bloomExpectedItems), Literal(numBits)).toAggregateExpression()).as("bf"))
      val mightHit = GraftExpr.column(BloomFilterMightContain(
        ScalarSubquery(bloomDf.queryExecution.analyzed),
        GraftExpr.catalystExpression(xxhash64(col("__h")))))
      wins.filter(mightHit)
    }
    val dupPos = screened.join(refWins, Seq("__h"), "left_semi")
    removeSpansAt(toked, dupPos, L, idCol, textCol)
  }

  /** LAZY pin (not an eager localCheckpoint — constructing the plan must
    * not execute it): census + reassembly branches share one tokenize
    * pass at first action; the context cleaner reclaims the block. */
  private def spanTokenize(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), split(col(textCol), " ").as("__t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** All (id, start pos, window md5) rows of the `__t` token arrays;
    * docs shorter than the window produce none. */
  private def spanWindows(toked: DataFrame, L: Int, idCol: String): DataFrame = {
    // Native SpanWindowHashes (r18) — the composed reference it
    // replicates hash-for-hash (kept for the record):
    //   starts = when(n >= L, sequence(0, n-L)).otherwise(empty)
    //   posexplode(transform(starts,
    //     i => md5(array_join(slice(__t, i+1, L), " "))))
    // The HOF paid a lambda frame + slice array + joined string per
    // start position, interpreted — the whole census-scan cost.
    toked.select(col(idCol),
      posexplode(graft.functions.TextFunctions.spanWindowHashes(col("__t"), L)))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("col").as("__h"))
  }

  /** Merge marked window positions into maximal spans (islands) and
    * reassemble each document from the surviving tokens. */
  private def removeSpansAt(
      toked: DataFrame,
      dupPos: DataFrame,
      L: Int,
      idCol: String,
      textCol: String): DataFrame = {
    // islands: a window starts a new span iff it clears every prior
    // window's end in (doc, pos) order
    import org.apache.spark.sql.expressions.Window
    val n = size(col("__t"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val prevEnd = max(col("pos") + lit(L.toLong))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val gid = sum(when(prevEnd.isNull || col("pos") > prevEnd, 1L).otherwise(0L))
      .over(w.rowsBetween(Window.unboundedPreceding, 0))
    val spans = dupPos.withColumn("__g", gid)
      .groupBy(col(idCol), col("__g"))
      .agg(min(col("pos")).as("s"), max(col("pos") + lit(L.toLong)).as("e"))
    val spanArr = spans.groupBy(col(idCol))
      .agg(collect_list(struct(col("s"), col("e"))).as("__spans"))
    val kept = when(col("__spans").isNotNull,
      filter(col("__t"), (_, i) => !exists(col("__spans"),
        sp => i.cast("long") >= sp.getField("s") &&
          i.cast("long") < sp.getField("e"))))
      .otherwise(col("__t"))
    toked.join(spanArr, Seq(idCol), "left")
      .select(col(idCol),
        array_join(kept, " ").as(textCol),
        (n - size(kept)).cast("long").as("n_removed"))
  }

  /** CCNet-style boilerplate LINE removal: any non-blank line whose exact
    * text appears in at least `minDocs` DISTINCT documents (cookie
    * banners, nav bars, license footers — the lines a crawl repeats
    * verbatim across a domain) is dropped from EVERY document; per-doc
    * line order is preserved and documents are reassembled. Documents
    * whose every line is boilerplate survive with empty text (the
    * downstream length filter's decision, not a silent drop). Blank /
    * whitespace-only lines are never boilerplate — stripping them would
    * silently rewrite paragraph structure.
    *
    * Scale shape: the census shuffles ONLY (line-md5, doc_id) pairs —
    * per-doc distinct then a partial-agg count, never the text; the drop
    * is an md5-keyed left_anti against the (small: lines repeated across
    * ≥ minDocs docs) boilerplate set, which the planner broadcasts when
    * it fits; reassembly is the one unavoidable doc-keyed exchange of
    * surviving line text (the same bytes any rewrite pass moves once). */
  def stripBoilerplateLines(
      docs: DataFrame,
      minDocs: Long,
      idCol: String = "doc_id",
      textCol: String = "text",
      sep: String = "\n"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep), -1))
        .as(Seq("__pos", "__line")))
    val hashed = lines.withColumn("__h", md5(col("__line")))
    val common = hashed.where(trim(col("__line")) =!= "")
      .select(col("__h"), col(idCol)).distinct()
      .groupBy("__h").agg(count(lit(1)).as("__df"))
      .where(col("__df") >= minDocs)
      .select(col("__h"))
    val kept = hashed.join(common, Seq("__h"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("__pos"), col("__line")))),
        s => s.getField("__line")), sep).as(textCol))
    docs.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col(textCol), lit("")).as(textCol))
  }
}
