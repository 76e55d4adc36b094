package graft.operators

import graft.functions.TextFunctions
import graft.ops.Pins
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse (lexical) retrieval over a document corpus: BM25-scored top-k per
  * query. The retrieval counterpart to [[Similarity]]'s dense ANN search —
  * the pair a training-data pipeline uses for targeted data selection and
  * eval-set mining.
  *
  * Scale shape (the small-query-set regime, the common one for data
  * curation):
  *   - ONE corpus scan feeds the posting explode; only tokens matching some
  *     query term survive the filter, so the keyed shuffle carries
  *     (id, dl, matched-token) rows — the text itself never shuffles and
  *     non-matching documents exit the plan at the scan.
  *   - Corpus statistics (N, avgdl) and per-term document frequencies are
  *     aggregates that reduce to ONE row / one row per term; they re-enter
  *     the plan via broadcast, never through the driver.
  *   - Per-(doc, query) scoring folds over the query's term array in fixed
  *     term order (sequential double accumulation — deterministic), and the
  *     final top-k is a per-query window that Spark executes with a
  *     map-side WindowGroupLimit: each shuffle partition forwards at most k
  *     candidates per query.
  *
  * The emitted columns are rank + exact-integer hit counts, NOT the raw
  * double score: the score's ln() is correctly-rounded to within an ulp on
  * any engine, but an ulp is enough to flip a HASH on a float column while
  * never flipping an ORDER between genuinely different scores. Exact score
  * ties can only arise from identical (tf-vector, dl) pairs — which every
  * engine scores identically — provided the per-query terms have pairwise
  * distinct document frequencies; the doc-id tiebreak then makes the rank
  * engine-independent. Callers who want the raw score can pass
  * `emitScore = true` (the column is excluded from cross-engine gates).
  */
object Retrieval {

  /** EXACT PHRASE search over positional postings — the retrieval
    * primitive [[bm25TopK]]'s bag-of-words scoring cannot express ("data
    * query" as adjacent tokens, not two independent terms): a document
    * matches iff the phrase's tokens occur at CONSECUTIVE positions, and
    * `n_hits` counts the occurrences. The classic positional-index plan:
    * postings are pruned to the phrase's vocabulary BEFORE any shuffle,
    * then the i-th word's postings join the first word's at
    * `pos − i` — every join keyed on (doc, pos), so after the first
    * exchange all the phrase joins are co-partitioned (one shuffle of
    * phrase-term postings total, never a token-position cross product).
    *
    * Tokenization is the repo-standard whitespace split of trim(text);
    * positions are 0-based (only DIFFERENCES enter the join, so the
    * oracle's 1-based ordinals replay exactly). */
  def phraseSearch(
      docs: DataFrame,
      phrase: Seq[String],
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(phrase.size >= 2, s"phrase needs >= 2 words: $phrase")
    val parts = docs.sparkSession.sessionState.conf.numShufflePartitions
    val posts = docs.repartition(parts)
      .select(col(idCol).as("__id"),
        posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("__pos", "__tok")))
      .filter(col("__tok").isin(phrase.distinct: _*))
    val first = posts.filter(col("__tok") === phrase.head)
      .select(col("__id"), col("__pos"))
    val matched = phrase.zipWithIndex.tail.foldLeft(first) {
      case (acc, (wd, i)) =>
        acc.join(posts.filter(col("__tok") === wd)
            .select(col("__id"), (col("__pos") - i).as("__pos")),
          Seq("__id", "__pos"))
    }
    matched.groupBy(col("__id").as(idCol))
      .agg(count(lit(1)).cast("long").as("n_hits"))
  }

  /** BM25 top-k per query. `queries` maps a query id to its ordered term
    * list; k1/b are the standard BM25 free parameters. Documents that match
    * no term of a query are not candidates for it (standard sparse
    * retrieval: the posting list join produces only matching docs). */
  def bm25TopK(
      docs: DataFrame,
      queries: Seq[(String, Seq[String])],
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id",
      textCol: String = "text",
      emitScore: Boolean = false): DataFrame = {
    require(queries.nonEmpty, "need at least one query")
    require(queries.forall(_._2.nonEmpty), "every query needs at least one term")
    val spark = docs.sparkSession
    import spark.implicits._

    val toks = docs.select(col(idCol).as("id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    // N and avgdl: one scan reduced to one row, broadcast back. avgdl as an
    // explicit exact-integer-sum / count division (deterministic double).
    val stats = toks.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))

    val allTerms = queries.flatMap(_._2).distinct
    // Posting rows: (id, dl, tok) for query terms only. The isin filter is
    // evaluated against the exploded token — everything else is pruned
    // before the shuffle.
    val posting = toks.select(col("id"), col("dl"), explode(col("toks")).as("tok"))
      .filter(col("tok").isin(allTerms: _*))
    // Per-(doc, term) tf counts FIRST, then the per-doc bag. The tf
    // aggregation is the data-sized keyed shuffle — and count() partial-
    // aggregates map-side, so a pathological doc repeating one query term
    // 10^9 times collapses to one row per map partition BEFORE the wire
    // (the old collect_list bag carried every occurrence and bloated that
    // doc's row).
    val matchedTf = posting.groupBy("id", "dl", "tok")
      .agg(count(lit(1)).as("tf"))
    scoreMatchedTf(matchedTf, stats, queries, k, k1, b, idCol, emitScore)
  }

  /** BM25 scoring from an already term-filtered (id, dl, tok, tf) postings
    * frame plus a one-row (n_docs, avgdl) stats frame — [[bm25TopK]]'s
    * back half. Callers guarantee `matchedTf` holds only tokens of some
    * query term (no nulls). */
  private def scoreMatchedTf(
      matchedTf: DataFrame,
      stats: DataFrame,
      queries: Seq[(String, Seq[String])],
      k: Int,
      k1: Double,
      b: Double,
      idCol: String,
      emitScore: Boolean): DataFrame = {
    // The per-doc bag: re-keys to (id, dl), but its input is at most
    // |query terms| rows per doc — a shuffle of term-count rows, not data.
    val matched = matchedTf
      .groupBy("id", "dl")
      .agg(collect_list(struct(col("tok"), col("tf"))).as("qtfs"))
    scoreMatched(matched, stats, queries, k, k1, b, idCol, emitScore)
  }

  /** BM25 scoring from the per-doc matched-term bag (id, dl,
    * qtfs: array<struct<tok,tf>> — only docs matching ≥ 1 query term,
    * only matching terms in the bag) plus the one-row stats frame — the
    * shared back half of [[bm25TopK]] (whose bag arrives through the
    * postings shuffle) and both [[bm25WithFeedback]] rounds (whose bag is
    * computed SCAN-LOCALLY over the pinned token arrays — zero shuffle
    * before the rank window). */
  private def scoreMatched(
      matched: DataFrame,
      stats: DataFrame,
      queries: Seq[(String, Seq[String])],
      k: Int,
      k1: Double,
      b: Double,
      idCol: String,
      emitScore: Boolean): DataFrame = {
    val spark = matched.sparkSession
    import spark.implicits._
    // dl IS NOT NULL is a semantic no-op (dl null ⟺ toks null ⟹ no
    // postings ⟹ absent from matched) but load-bearing for the plan: the
    // scoring branch's bm25fold is null-intolerant on norm(dl), so
    // InferFiltersFromConstraints pushes isnotnull(dl) down ITS copy of
    // the subtree only; stating it here, before the fork, keeps both
    // branches' subtrees canonically identical so ReuseExchange fires.
    val matchedNn = matched.filter(col("dl").isNotNull)
    // df per term (docs containing it) — at most |terms| rows. Derived from
    // `matched`, NOT from `posting`: the subplan up to matched's exchanges is
    // then byte-identical to the scoring path's, so ReuseExchange serves
    // both from ONE corpus scan + shuffle (plan-checked by tools/Bm25Probe;
    // deriving from posting re-scanned and re-tokenized the corpus).
    val dfs = matchedNn
      .select(explode(col("qtfs")).as("e"))
      .select(col("e.tok").as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))

    // Per-query ordered (ti, term, idf) arrays. Terms absent from the
    // corpus get df = 0 (maximum idf), like any BM25 implementation.
    val qterms = queries.flatMap { case (qid, ts) =>
      ts.zipWithIndex.map { case (tm, ti) => (qid, ti, tm) }
    }.toDF("query_id", "ti", "term")
    val qidf = qterms
      .join(dfs, Seq("term"), "left")
      .na.fill(0L, Seq("df"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs").cast("double") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .groupBy("query_id")
      .agg(sort_array(collect_list(struct(col("ti"), col("term"), col("idf")))).as("qarr"))

    // Score every (matched doc, query) pair: fold the query's term array in
    // ti order; tf comes from the doc's matched-token bag. The two
    // broadcast(stats) exchanges share one identical child plan, so the
    // stats subquery executes once (ReuseExchange).
    val dlD = col("dl").cast("double")
    val norm = lit(k1) * (lit(1.0 - b) + lit(b) * dlD / col("avgdl"))
    // Native Bm25Fold (r18) — the reference semantics it replicates
    // bit-for-bit was the aggregate HOF (kept for the record):
    //   tfOf(t) = coalesce(try_element_at(filter(qtfs,
    //               x => x.tok === t.term), 1).tf, 0L).cast(double)
    //     [tf lookup in the (tok, tf) bag — order-independent, so the
    //      collect_list's nondeterministic ordering can't reach the output]
    //   aggregate(qarr, struct(0.0 s, 0L h), (acc, t) =>
    //     struct(acc.s + t.idf * (tfOf(t) * (k1+1)) / (tfOf(t) + norm),
    //            acc.h + tfOf(t).cast(long)))
    // The HOF evaluated interpreted: a lambda frame per term and a fresh
    // filtered array per tf lookup, per (matched doc, query) pair — the
    // whole cost of each scoring round (two rounds in bm25WithFeedback).
    val folded = graft.functions.TextFunctions.bm25Fold(
      col("qtfs"), col("qarr"), norm, k1 + 1.0)

    val scored = matchedNn
      .crossJoin(broadcast(qidf))
      .crossJoin(broadcast(stats))
      .withColumn("sh", folded)
      .select(col("query_id"), col("id"),
        col("sh.s").as("score"), col("sh.h").as("hits"))
      .filter(col("hits") > 0)
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("id").asc)
    val ranked = scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
    val out = Seq(col("query_id"), col("rnk"), col("id").as(idCol), col("hits")) ++
      (if (emitScore) Seq(col("score")) else Nil)
    ranked.select(out: _*)
  }

  /** Pseudo-relevance feedback (the RM3 recipe, integer-weighted): run
    * [[bm25TopK]], take each query's top `kFb` documents as feedback, rank
    * their terms by total occurrence count across the feedback set
    * (excluding the query's own terms; ties to the smaller term — exact
    * integers, so the expansion choice is engine-portable where RM1's
    * float term weights would not be), append the top `mExp` expansion
    * terms to the query, and re-run BM25 with the expanded queries — the
    * classic lexical recall booster for targeted data selection.
    *
    * Scale shape: the corpus tokenizes ONCE — the per-doc TOKEN-ARRAY
    * frame (id, toks, dl) is PINNED by an eager localCheckpoint
    * (partition-LOCAL: no network movement, unlike a corpus-wide term
    * census shuffle) and all four consumers read that one
    * materialization: corpus stats (a direct no-shuffle agg), the two
    * scoring rounds (explode → query-term filter → the usual
    * term-filtered postings shuffle), and the feedback term census (the
    * TINY |Q|·kFb feedback list joins the pin BEFORE the explode, so
    * only feedback documents ever explode). Only the |Q|·mExp chosen
    * expansion terms cross the driver — QUERY-SET metadata (the bm25
    * queries already live there), never data. The remaining wall cost is
    * the two scoring rounds THEMSELVES (each ≈ a standalone bm25TopK's
    * broadcast/window machinery, measured ~1.2 s at sf0.1 against a
    * 0.15 s pin and 0.25 s postings pass) — inherent to pseudo-relevance
    * feedback's two sequential retrievals.
    *
    * Cache lifetime: the pin is EAGER (this method already executes at
    * construction — the expansion terms collect here) and the returned
    * DataFrame still reads it, so it cannot be unpersisted for you; the
    * blocks are reclaimed by the context cleaner once the caller drops
    * the result — the [[graft.operators.Dedup.removeRepeatedSpans]]
    * convention. Long-lived sessions invoking this repeatedly should
    * materialize and release each result before the next call. */
  def bm25WithFeedback(
      docs: DataFrame,
      queries: Seq[(String, Seq[String])],
      k: Int = 10,
      kFb: Int = 5,
      mExp: Int = 3,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(kFb >= 1, s"kFb must be >= 1: $kFb")
    require(mExp >= 0, s"mExp must be >= 0: $mExp")
    // the same fail-fast contract bm25TopK enforced when this method
    // delegated to it — a term-less query would otherwise silently
    // vanish from the result instead of erroring
    require(queries.nonEmpty, "need at least one query")
    require(queries.forall(_._2.nonEmpty), "every query needs at least one term")
    val spark = docs.sparkSession
    import spark.implicits._
    // ONE tokenize scan: the per-doc token arrays, pinned eagerly — this
    // method already executes at construction (the expansion terms
    // collect below), so the eager pin adds no new laziness break. The
    // pin is partition-local (localCheckpoint writes each task's rows
    // where they sit); the alternative — pinning an exploded corpus-wide
    // (id, term, tf) census — pays a full term-keyed SHUFFLE of every
    // token for rows the query set mostly never touches (measured 2.8 s
    // vs this shape at sf0.1; the filtered postings shuffles below carry
    // only query-term rows).
    Pins.scope { pin =>
      val pinned = pin(docs.select(col(idCol).as("id"),
          TextFunctions.tokens(col(textCol)).as("toks"))
        .withColumn("dl", size(col("toks")).cast("long")))
      // N and avgdl: a direct no-shuffle agg over the pin — same
      // exact-integer-sum / count division as bm25TopK's stats.
      val stats = pinned.agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      // Term-filtered postings from the pin — bm25TopK's exact shape, the
      // tokenize replaced by the pin read. (A scan-local per-doc HOF
      // term-count fold was measured here too: |terms| filter() passes per
      // row allocate |terms| arrays and ran ~1 s SLOWER per round than this
      // explode + map-side-combined count at sf0.1 — the postings shuffle
      // carries only query-term rows and is not the bottleneck.)
      def matchedFor(qs: Seq[(String, Seq[String])]): DataFrame = {
        val terms = qs.flatMap(_._2).distinct
        pinned.select(col("id"), col("dl"), explode(col("toks")).as("tok"))
          .filter(col("tok").isin(terms: _*))
          .groupBy("id", "dl", "tok").agg(count(lit(1)).as("tf"))
      }
      val fb = scoreMatchedTf(matchedFor(queries), stats, queries,
        k = kFb, k1 = k1, b = b, idCol = idCol, emitScore = false)
      val fbDocs = fb.select(col("query_id"), col(idCol).as("id"))
      val orig = queries.flatMap { case (q, ts) => ts.map(q -> _) }
        .toDF("query_id", "tok")
      // Census: join the TINY feedback list BEFORE the explode, so only
      // feedback documents' arrays ever explode; per-occurrence counts.
      val termW = fbDocs
        .join(pinned.select(col("id"), col("toks")), Seq("id"))
        .select(col("query_id"), explode(col("toks")).as("tok"))
        .join(orig, Seq("query_id", "tok"), "left_anti")
        .groupBy("query_id", "tok").agg(count(lit(1)).as("w"))
      val wnd = Window.partitionBy("query_id")
        .orderBy(col("w").desc, col("tok").asc)
      val expRows = termW.withColumn("r", row_number().over(wnd))
        .filter(col("r") <= mExp)
        .select("query_id", "tok", "r").collect()
      val expMap = expRows.groupBy(_.getString(0)).map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(2)).map(_.getString(1)).toSeq
      }
      val expanded = queries.map { case (q, ts) =>
        q -> (ts ++ expMap.getOrElse(q, Seq.empty))
      }
      scoreMatchedTf(matchedFor(expanded), stats, expanded,
        k = k, k1 = k1, b = b, idCol = idCol, emitScore = false)
    }
  }

  /** Reciprocal-rank fusion of several per-query rankings (the standard way
    * to combine lexical [[bm25TopK]] with dense [[Similarity.bruteForceTopK]]
    * / ANN results — hybrid retrieval): fused score = Σ_systems
    * 1 / (kRrf + rank), missing docs contribute nothing. Each input frame
    * must carry (query_id, doc_id, rnk); `systems` names them (the fold that
    * sums the score runs in SYSTEM-NAME order, so the double accumulation is
    * engine-portable for any number of systems, not just the commutative
    * two). Scale shape: inputs are top-k lists — already tiny relative to
    * any corpus — so this is one union + one (query, doc)-keyed agg + one
    * per-query window with the usual map-side group limit; the fused score
    * is emitted (each addend is one exact-integer division, deterministic
    * bit-for-bit, unlike BM25's ln). Ties (e.g. two docs with mirrored
    * ranks across systems) break by doc id. */
  def reciprocalRankFusion(
      rankings: Seq[(String, DataFrame)],
      k: Int = 10,
      kRrf: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(rankings.map(_._1).distinct.size == rankings.size,
      "system names must be distinct")
    val tagged = rankings.map { case (sys, df) =>
      // rnk normalized to int so inputs with long ranks union cleanly
      df.select(col("query_id"), col("doc_id"), col("rnk").cast("int").as("rnk"),
        lit(sys).as("system"))
    }.reduce(_ unionByName _)
    val fused = tagged.groupBy("query_id", "doc_id")
      .agg(sort_array(collect_list(struct(col("system"), col("rnk")))).as("rs"))
      .withColumn("score", aggregate(col("rs"), lit(0.0),
        (acc, r) => acc + lit(1.0) / (lit(kRrf) + r.getField("rnk"))))
      .withColumn("n_systems", size(col("rs")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    fused.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("doc_id"),
        col("score"), col("n_systems"))
  }

  /** Per-document top-`k` TF-IDF keywords — the metadata-enrichment pass
    * that tags every document with its most distinctive terms (dedup
    * explanations, cluster labeling, faceted corpus browsing). Smoothed
    * sklearn-style idf: `ln((N+1)/(df+1)) + 1`, score = tf * idf.
    *
    * Scale shape: ONE corpus scan — the (doc, term) tf aggregation
    * (map-side combined, so a term repeated 10⁶ times in one page crosses
    * the wire once) is PINNED by an eager localCheckpoint and both
    * consumers (the scoring join and the df aggregation) read that one
    * materialization; N broadcasts as a one-row frame. (ReuseExchange
    * cannot serve the two branches here — see the inline note — so
    * without the pin the corpus is scanned and tokenized twice.) The
    * per-doc top-k window gets the map-side WindowGroupLimit (rank <= k
    * pushed partial). Text never shuffles — only (id, term, count) rows.
    *
    * Gate policy: the output is (doc_id, rnk, term, tf, df) — exact
    * integers; the ln-bearing score only ORDERS (doc-local, term
    * tiebreak), where an engine ulp cannot flip genuinely different
    * scores, and identical (tf, df) pairs score identically in every
    * engine — same contract as [[bm25TopK]]. `emitScore` adds the raw
    * double for callers (excluded from cross-engine gates). */
  def tfidfTopTerms(
      docs: DataFrame,
      k: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text",
      emitScore: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    // The tf table feeds BOTH the scoring join and the df aggregation.
    // ReuseExchange can NOT serve them from one exchange here: the df
    // branch never reads the count, so column pruning rewrites its partial
    // aggregate to a countless distinct — the subplans stop being
    // byte-identical and Spark silently re-scans and re-shuffles the whole
    // corpus (found by the PlansSpec pin). The eager localCheckpoint pins
    // the aggregated postings once instead — the Dedup capped-ngram
    // discipline: both consumers read ONE materialization whose rows are
    // (id, term, tf), already collapsed map-side, never the raw corpus.
    Pins.scope { pin =>
      val tf = pin(docs.select(col(idCol).as("id"),
          explode(TextFunctions.tokens(col(textCol))).as("term"))
        .groupBy("id", "term").agg(count(lit(1)).as("tf")))
      val dfs = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val stats = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfs, Seq("term"))
        .crossJoin(broadcast(stats))
        .withColumn("score",
          col("tf").cast("double") *
            (log((col("n_docs").cast("double") + 1.0) / (col("df") + 1.0)) + 1.0))
      val w = Window.partitionBy("id").orderBy(col("score").desc, col("term").asc)
      val ranked = scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
      val out = Seq(col("id").as(idCol), col("rnk"), col("term"), col("tf"),
        col("df")) ++ (if (emitScore) Seq(col("score")) else Nil)
      ranked.select(out: _*)
    }
  }

  /** ROUGE-N overlap between a CANDIDATE and a REFERENCE text column per
    * row (Lin 2004) — the n-gram eval a summarization/distillation
    * pipeline scores at corpus scale, and the pairwise member of the
    * n-gram family ([[graft.operators.Dedup]] owns the corpus-wide ones):
    * `match_n = Σ_g min(c_cand(g), c_ref(g))` over n-gram TYPES, plus the
    * candidate/reference occurrence totals and the derived
    * precision = match/cand_n, recall = match/ref_n,
    * f1 = 2pr/(p+r). The three counts are EXACT integers (the hashable
    * contract); the ratios are single IEEE divisions of those integers —
    * deterministic on any engine. Rows whose side has fewer than n tokens
    * (or null text) score (0, 0, 0) with zero ratios — define-away, not
    * null, so downstream threshold cuts need no null policy.
    *
    * PRECONDITION: `idCol` must be unique in `pairs` (one candidate/
    * reference pair per id — the per-doc contract shared with the other
    * id-keyed scorers). Duplicate ids would pool gram counts across the
    * duplicates while the un-deduplicated id spine repeats the merged
    * score once per input row — silently wrong, not an error.
    *
    * Scale shape: two tokenize scans of the pair table collapse map-side
    * to (id, gram, count) partial aggs; the clipped-count match is ONE
    * (id, gram)-keyed inner join (only SHARED gram types meet — the
    * others influence nothing but the totals, which ride the same
    * partial aggs); then id-keyed integer rollups joined back onto the
    * id spine. Text never shuffles; everything keyed on the
    * high-cardinality (id, gram). */
  def rougeN(
      pairs: DataFrame,
      n: Int = 2,
      idCol: String = "doc_id",
      candCol: String = "cand",
      refCol: String = "text"): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    def grams(c: Column, out: String): DataFrame = pairs
      .select(col(idCol).as("__id"),
        explode(TextFunctions.shinglesNative(c, n)).as("__g"))
      .groupBy(col("__id"), col("__g"))
      .agg(count(lit(1)).cast("long").as(out))
    val cg = grams(col(candCol), "__cc")
    val rg = grams(col(refCol), "__rc")
    val matched = cg.join(rg, Seq("__id", "__g"))
      .groupBy("__id")
      .agg(sum(least(col("__cc"), col("__rc"))).cast("long").as("__m"))
    val candTot = cg.groupBy("__id").agg(sum(col("__cc")).cast("long").as("__cn"))
    val refTot = rg.groupBy("__id").agg(sum(col("__rc")).cast("long").as("__rn"))
    val joined = pairs.select(col(idCol))
      .join(candTot, col(idCol) === candTot("__id"), "left").drop("__id")
      .join(refTot, col(idCol) === refTot("__id"), "left").drop("__id")
      .join(matched, col(idCol) === matched("__id"), "left").drop("__id")
      .select(col(idCol),
        coalesce(col("__m"), lit(0L)).as("match_n"),
        coalesce(col("__cn"), lit(0L)).as("cand_n"),
        coalesce(col("__rn"), lit(0L)).as("ref_n"))
    val p = when(col("cand_n") > 0,
      col("match_n").cast("double") / col("cand_n").cast("double"))
      .otherwise(lit(0.0))
    val r = when(col("ref_n") > 0,
      col("match_n").cast("double") / col("ref_n").cast("double"))
      .otherwise(lit(0.0))
    joined
      .withColumn("precision", p)
      .withColumn("recall", r)
      .withColumn("f1",
        when(col("precision") + col("recall") > 0.0,
          lit(2.0) * col("precision") * col("recall") /
            (col("precision") + col("recall"))).otherwise(lit(0.0)))
  }
}
