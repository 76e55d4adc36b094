package graft.operators

import graft.functions.TextFunctions
import graft.ops.Pins
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tokenizer-training primitives: the BPE (byte-pair-encoding) inner loop
  * re-expressed as Catalyst plans. No reference analog (the reference's only
  * text op is splitintowords, Operators.java:165-167); this is part of the
  * LLM-data-pipeline surface — a tokenizer is trained on exactly the corpora
  * this library curates.
  *
  * The scale trick every real BPE trainer uses: pair statistics are computed
  * over the DISTINCT-WORD frequency table, not the raw corpus. 100 TB of
  * text collapses to a vocab-sized (word, count) table in one shuffle with
  * map-side partial aggregation; every subsequent merge round runs over that
  * tiny table. Text volume is paid ONCE.
  */
object Tokenizer {

  /** Whitespace word-frequency table: one row per distinct word with its
    * corpus count. The single corpus-sized shuffle in BPE training; empty
    * tokens (empty/whitespace-only docs split to [""]) are dropped. */
  def wordFrequencies(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("wf"))

  /** Adjacent-symbol pair counts weighted by word frequency — the argmax
    * candidate table of one BPE merge round, here over the initial
    * character alphabet. Deterministic total order (n desc, pair asc) so
    * LIMIT is engine-portable. Single-character words contribute no pairs.
    *
    * (End-of-word markers and byte fallback are orthogonal encoding choices
    * layered on the same pair-count core; this computes the core.) */
  def bpePairCounts(docs: DataFrame, textCol: String = "text",
      topK: Int = 200): DataFrame = {
    val words = wordFrequencies(docs, textCol).filter(length(col("w")) >= 2)
    words
      .select(explode(transform(sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"), col("wf"))
      .groupBy("pair").agg(sum(col("wf")).cast("long").as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(topK)
  }

  /** Split a word into its codepoint symbols — the starting state of BPE
    * symbol sequences. Explicit substr enumeration (not `split(w, "")`,
    * whose empty-trailing-element behavior is regex-engine lore); the word
    * must be non-empty (sequence(1, 0) would run DESCENDING). */
  def charSymbols(word: Column): Column =
    transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1)))

  /** One BPE merge applied to a symbol sequence: scan left to right,
    * fusing each adjacent (a, b) into `a+b`, leftmost-first and
    * non-overlapping ("a a a" + merge(a,a) -> ["aa","a"]) — the classic
    * greedy semantics. Pure per-row higher-order fold: zero shuffles,
    * O(|word|²) immutable-array appends per word (words are short; the
    * vocab table this runs over is tiny next to the corpus). */
  def applyMerge(symbols: Column, a: String, b: String): Column =
    aggregate(symbols, array().cast("array<string>"),
      (acc, s) =>
        // try_element_at: ANSI-safe on the empty initial accumulator (null
        // comparison falls through to the append branch)
        when(try_element_at(acc, lit(-1)) === lit(a) && s === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(s))))

  /** Pair counts over an explicit (symbols, wf) vocab table — the
    * mid-training form, after some merges have already been applied. */
  def pairCountsFromSymbols(vocab: DataFrame,
      symbolsCol: String = "symbols", wfCol: String = "wf"): DataFrame =
    vocab.filter(size(col(symbolsCol)) >= 2)
      .select(explode(transform(sequence(lit(1), size(col(symbolsCol)) - 1),
        i => struct(element_at(col(symbolsCol), i).as("a"),
          element_at(col(symbolsCol), i + 1).as("b")))).as("p"), col(wfCol))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col(wfCol)).cast("long").as("n"))

  /** Full BPE training loop: `numMerges` rounds of (count pairs -> argmax
    * -> apply merge), returning the ordered merge list. Each round's pair
    * aggregation is distributed over the vocab table; only the single
    * argmax ROW crosses to the driver per round (ties resolve (n desc, a
    * asc, b asc) — deterministic across engines and partitionings). The
    * vocab is localCheckpoint-pinned every few rounds so the iterated plan
    * stays constant-size (same discipline as Dedup.clusters). */
  def trainBpe(docs: DataFrame, numMerges: Int, textCol: String = "text",
      pinEvery: Int = 4): Seq[(String, String, Long)] = {
    require(numMerges >= 0, s"numMerges must be >= 0: $numMerges")
    Pins.scope { pin =>
      var vocab = pin(wordFrequencies(docs, textCol)
        .select(charSymbols(col("w")).as("symbols"), col("wf")))
      val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      var i = 0
      while (i < numMerges) {
        val top = pairCountsFromSymbols(vocab)
          .orderBy(col("n").desc, col("a").asc, col("b").asc)
          .limit(1).collect()
        if (top.isEmpty) { i = numMerges } // alphabet exhausted: stop early
        else {
          val r = top.head
          val (a, b) = (r.getString(0), r.getString(1))
          merges += ((a, b, r.getLong(2)))
          vocab = vocab.select(applyMerge(col("symbols"), a, b).as("symbols"),
            col("wf"))
          i += 1
          if (i % pinEvery == 0) { vocab = pin(vocab); pin.retain(vocab) }
        }
      }
      merges.toSeq
    }
  }

  /** Per-document SUBTOKEN COUNTS under an ordered learned merge list —
    * the encode-side readout of [[trainBpe]] ("how many BPE tokens is
    * this corpus under my tokenizer", the budget every packing/mixture
    * planner consumes). BPE encodes per WORD, so the corpus pays the
    * merge fold exactly once per DISTINCT word: the word table folds
    * `merges` in order (each step the greedy left-to-right
    * [[applyMerge]]), collapses to (word, n_subtokens), and ONE
    * word-keyed join + doc-keyed partial agg scores every document —
    * documents never re-encode, text never shuffles (the tokenRarity
    * postings discipline). */
  def tokenCountsUnderMerges(
      docs: DataFrame,
      merges: Seq[(String, String)],
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val words = docs.select(col(idCol),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 1)
    val encoded = merges.foldLeft(
        words.select(col("w")).distinct()
          .withColumn("symbols", charSymbols(col("w")))) {
        case (v, (a, b)) => v.withColumn("symbols",
          applyMerge(col("symbols"), a, b))
      }
      .select(col("w"), size(col("symbols")).cast("long").as("n_sub"))
    words.join(encoded, Seq("w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sub")).cast("long").as("n_subtokens"))
  }

  // -------------------------------------------------------------------------
  // Unigram-LM (SentencePiece-style) training: the OTHER real-world
  // tokenizer family next to BPE. Same scale discipline: the corpus
  // collapses to the distinct-word frequency table ONCE; every EM round
  // runs over that table against the broadcast piece vocabulary (the
  // artifact being trained — driver-sized by definition, like a codebook).
  // Determinism: piece scores are INTEGER fixed-point log-probs
  // (round(ln(cnt/total)·10⁶)), so Viterbi compares exact integers and
  // ties resolve structurally (highest score, then the longest final
  // piece) — the segmentation is a pure function of (word, vocab) that a
  // SQL oracle replays move for move.
  // -------------------------------------------------------------------------

  /** Seed piece inventory: every substring of length ≤ `maxPieceLen` of
    * every distinct word, counted PER OCCURRENCE (overlaps count) and
    * weighted by word frequency. Single-character pieces always survive
    * (the coverage floor Viterbi needs for reachability); longer pieces
    * need `minSeedCount`. Substring generation is scan-local over the
    * vocab table; one piece-keyed partial agg. */
  def unigramSeed(
      docs: DataFrame,
      maxPieceLen: Int = 4,
      minSeedCount: Long = 2,
      textCol: String = "text"): DataFrame =
    unigramSeedFromWords(wordFrequencies(docs, textCol), maxPieceLen, minSeedCount)

  private def unigramSeedFromWords(
      words: DataFrame,
      maxPieceLen: Int,
      minSeedCount: Long): DataFrame = {
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1: $maxPieceLen")
    require(minSeedCount >= 1, s"minSeedCount must be >= 1: $minSeedCount")
    val subs = words.select(col("wf"), explode(flatten(
      transform(sequence(lit(1), length(col("w"))), i =>
        transform(sequence(lit(1),
          least(lit(maxPieceLen), length(col("w")) - i + 1)),
          l => col("w").substr(i, l))))).as("piece"))
    subs.groupBy("piece").agg(sum(col("wf")).cast("long").as("cnt"))
      .where(length(col("piece")) === 1 || col("cnt") >= minSeedCount)
  }

  /** Integer-Viterbi segmentation of one word under a piece->score map:
    * maximize the sum of piece scores; ties prefer the longest final
    * piece at each position (in the forward loop: ascending start index
    * with strict improvement keeps the SMALLEST start). Single-character
    * coverage is the caller's contract (unigramSeed guarantees it). */
  private[graft] def segmentViterbi(
      w: String,
      score: collection.Map[String, Long],
      maxPieceLen: Int): List[String] = {
    val L = w.length
    if (L == 0) return Nil
    val NEG = Long.MinValue / 4
    val best = Array.fill(L + 1)(NEG)
    val back = Array.fill(L + 1)(-1)
    best(0) = 0L
    var j = 1
    while (j <= L) {
      var i = math.max(0, j - maxPieceLen)
      while (i < j) {
        if (best(i) > NEG) {
          score.get(w.substring(i, j)) match {
            case Some(s) =>
              val cand = best(i) + s
              if (cand > best(j)) { best(j) = cand; back(j) = i }
            case None => ()
          }
        }
        i += 1
      }
      j += 1
    }
    require(back(L) >= 0, s"unigram vocab cannot segment '$w' (missing char coverage)")
    var out = List.empty[String]
    var k = L
    while (k > 0) { val i = back(k); out = w.substring(i, k) :: out; k = i }
    out
  }

  /** The integer score table for a piece inventory: round(ln(cnt/total)·10⁶)
    * per piece — computed driver-side from the (vocab-sized) collected
    * counts with the exact float steps a SQL replica takes (one divide,
    * one ln, one multiply, one round). The round is HALF_UP (ties away
    * from zero), matching SQL round() in Spark and DuckDB — log-probs are
    * always negative, where `math.round` would break an exact-.5 tie
    * toward +∞ (-2.5 → -2) and desync the Viterbi scores from the
    * oracle's (-2.5 → -3). */
  private def unigramScores(pieces: Array[(String, Long)]): Map[String, Long] = {
    val total = pieces.map(_._2).sum.toDouble
    pieces.map { case (p, c) =>
      p -> BigDecimal(math.log(c.toDouble / total) * 1e6)
        .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
    }.toMap
  }

  /** SentencePiece-style unigram-LM EM: seed inventory → `rounds` of
    * (integer-Viterbi E-step over the distinct-word table, piece-count
    * M-step, prune). Pruning drops multi-character pieces that no
    * segmentation used; single characters persist with a count floor of 1
    * (coverage). Returns the final (piece, cnt) inventory.
    *
    * Scale shape: the corpus-sized shuffle happens once
    * ([[wordFrequencies]]); each round is a scan of the VOCAB table
    * against the broadcast score map (every segmentation is per-word
    * local) plus one piece-keyed partial agg; the piece inventory — the
    * tokenizer itself, ≤ 10⁵ rows — crosses the driver per round, the
    * [[trainBpe]] metadata discipline scaled from one argmax row to the
    * artifact being trained. `maxInventory` is the fail-fast guard on
    * that driver traffic (the [[graft.operators.Dedup.fuzzyPairs]]
    * maxBlockSize discipline): a pathological (maxPieceLen, minSeedCount,
    * corpus) combination that would seed millions of pieces aborts with a
    * sizing message instead of OOMing the driver mid-collect — the limit
    * bounds what the collect can pull before the check runs. */
  def unigramTrain(
      docs: DataFrame,
      rounds: Int = 2,
      maxPieceLen: Int = 4,
      minSeedCount: Long = 2,
      textCol: String = "text",
      maxInventory: Int = 200000): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0: $rounds")
    require(maxInventory >= 1, s"maxInventory must be >= 1: $maxInventory")
    val spark = docs.sparkSession
    import spark.implicits._
    Pins.scope { pin =>
      val words = pin(wordFrequencies(docs, textCol))
      var pieces: Array[(String, Long)] =
        unigramSeedFromWords(words, maxPieceLen, minSeedCount)
          .limit(maxInventory + 1)
          .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      require(pieces.length <= maxInventory,
        s"unigram seed inventory exceeds maxInventory=$maxInventory pieces — " +
          s"raise minSeedCount (=$minSeedCount), lower maxPieceLen " +
          s"(=$maxPieceLen), or raise maxInventory for this corpus")
      for (_ <- 1 to rounds) {
        val bc = spark.sparkContext.broadcast(unigramScores(pieces))
        val maxL = maxPieceLen
        val used = words.as[(String, Long)]
          .flatMap { case (w, wf) =>
            segmentViterbi(w, bc.value, maxL).map(p => (p, wf))
          }
          .groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
          .collect().toMap
        pieces = pieces.flatMap { case (p, _) =>
          val c = used.getOrElse(p, 0L)
          if (p.length == 1) Some(p -> math.max(c, 1L))
          else if (c > 0L) Some(p -> c) else None
        }.sortBy(_._1)
      }
      pieces.toSeq.toDF("piece", "cnt")
    }
  }

  // -------------------------------------------------------------------------
  // WordPiece (BERT-style) encode: the THIRD real-world tokenizer family.
  // Unlike BPE (ordered merges) and unigram-LM (Viterbi over scores),
  // WordPiece inference is GREEDY LONGEST-MATCH-FIRST over a fixed vocab,
  // with word-start pieces distinguished from continuation ("##") pieces.
  // Greedy matching is memoryless — the piece chosen at a position depends
  // only on (word, position), never on the path — which is what makes the
  // segmentation a pure function of (word, vocab) that a SQL oracle can
  // replay from a static longest-match table. Same scale discipline as the
  // other two: the corpus collapses to the distinct-word table once; the
  // vocab (the artifact) is driver-sized by definition.
  // -------------------------------------------------------------------------

  /** WordPiece vocab census: every substring of every distinct word,
    * counted per occurrence weighted by word frequency, ROLE-SPLIT into
    * word-start pieces (offset 1) vs continuation pieces (offset > 1) —
    * BERT's "##" distinction, carried as a boolean instead of a marker
    * prefix so piece strings stay raw. Single-character pieces always
    * survive IN THEIR OBSERVED ROLE (the coverage floor greedy matching
    * needs: any position can always consume one character); longer pieces
    * need `minCount`. One piece-keyed partial agg over the vocab table. */
  def wordpieceVocab(
      docs: DataFrame,
      maxPieceLen: Int = 4,
      minCount: Long = 2,
      textCol: String = "text"): DataFrame = {
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1: $maxPieceLen")
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    val words = wordFrequencies(docs, textCol)
    val subs = words.select(col("wf"), explode(flatten(
      transform(sequence(lit(1), length(col("w"))), i =>
        transform(sequence(lit(1),
          least(lit(maxPieceLen), length(col("w")) - i + 1)),
          l => struct(col("w").substr(i, l).as("piece"),
            (i > lit(1)).as("is_cont")))))).as("s"))
    subs.groupBy(col("s.piece").as("piece"), col("s.is_cont").as("is_cont"))
      .agg(sum(col("wf")).cast("long").as("cnt"))
      .where(length(col("piece")) === 1 || col("cnt") >= minCount)
  }

  /** WordPiece-objective merge training: like [[trainBpe]] but each round
    * merges the pair maximizing the LIKELIHOOD score
    * ln c(ab) − ln c(a) − ln c(b) (the WordPiece objective up to the
    * per-round constant ln N, which cannot change the argmax) instead of
    * the raw pair count — rare-symbol pairs that always co-occur win over
    * frequent-but-independent ones. Scores quantize to round(·10⁶)
    * integers before comparison (the [[unigramTrain]] discipline: the ln
    * inputs are exact integers, so both engines compute the same double
    * and the same rounded score; ties resolve (score desc, a, b)).
    *
    * Scale shape: identical to [[trainBpe]] — the corpus collapses to the
    * distinct-word table once; each round is two vocab-sized partial aggs
    * (pair counts + symbol counts), a 3-way model-table join, and ONE
    * argmax row to the driver. */
  def trainWordpieceMerges(
      docs: DataFrame,
      numMerges: Int,
      textCol: String = "text",
      pinEvery: Int = 4): Seq[(String, String, Long, Long)] = {
    require(numMerges >= 0, s"numMerges must be >= 0: $numMerges")
    Pins.scope { pin =>
      var vocab = pin(wordFrequencies(docs, textCol)
        .select(charSymbols(col("w")).as("symbols"), col("wf")))
      val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long, Long)]
      var i = 0
      while (i < numMerges) {
        val cs = vocab.select(explode(col("symbols")).as("sym"), col("wf"))
          .groupBy("sym").agg(sum(col("wf")).cast("long").as("c1"))
        val top = pairCountsFromSymbols(vocab)
          .join(cs.select(col("sym").as("a"), col("c1").as("na")), Seq("a"))
          .join(cs.select(col("sym").as("b"), col("c1").as("nb")), Seq("b"))
          .withColumn("score_q", round((log(col("n").cast("double"))
            - log(col("na").cast("double")) - log(col("nb").cast("double")))
            * lit(1e6)).cast("long"))
          .orderBy(col("score_q").desc, col("a").asc, col("b").asc)
          .limit(1).select("a", "b", "n", "score_q").collect()
        if (top.isEmpty) { i = numMerges } // alphabet exhausted: stop early
        else {
          val r = top.head
          val (a, b) = (r.getString(0), r.getString(1))
          merges += ((a, b, r.getLong(2), r.getLong(3)))
          vocab = vocab.select(applyMerge(col("symbols"), a, b).as("symbols"),
            col("wf"))
          i += 1
          if (i % pinEvery == 0) { vocab = pin(vocab); pin.retain(vocab) }
        }
      }
      merges.toSeq
    }
  }

  /** Greedy longest-match-first segmentation of one word: at each
    * position take the LONGEST vocab piece whose role matches (word-start
    * at offset 0, continuation past it). Continuation pieces render with
    * the conventional "##" prefix. The census contract ([[wordpieceVocab]]
    * keeps every single character in its observed role) guarantees
    * progress; a foreign vocab that cannot cover the word fails fast. */
  private[graft] def segmentWordpiece(
      w: String,
      startPieces: collection.Set[String],
      contPieces: collection.Set[String],
      maxPieceLen: Int): List[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var pos = 0
    while (pos < w.length) {
      val inWord = pos > 0
      val vocab = if (inWord) contPieces else startPieces
      var len = math.min(maxPieceLen, w.length - pos)
      while (len > 0 && !vocab.contains(w.substring(pos, pos + len))) len -= 1
      require(len > 0,
        s"wordpiece vocab cannot segment '$w' at offset $pos (missing char coverage)")
      val piece = w.substring(pos, pos + len)
      out += (if (inWord) "##" + piece else piece)
      pos += len
    }
    out.toList
  }

  /** Per-document subtoken counts under a WordPiece vocab — the
    * encode-side readout for the greedy family ([[tokenCountsUnderMerges]]
    * / [[tokenCountsUnderUnigram]]'s sibling): each DISTINCT word segments
    * once, then one word-keyed join + doc-keyed partial agg scores the
    * corpus; documents never re-segment, text never shuffles. `vocab` is
    * the (piece, is_cont, cnt) frame [[wordpieceVocab]] returns;
    * `maxInventory` is the driver-traffic fail-fast guard (the
    * [[unigramTrain]] discipline — the vocab IS the tokenizer, so a
    * million-piece collect signals a sizing bug, not a big corpus). */
  def tokenCountsUnderWordpiece(
      docs: DataFrame,
      vocab: DataFrame,
      maxPieceLen: Int = 4,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxInventory: Int = 200000): DataFrame = {
    require(maxInventory >= 1, s"maxInventory must be >= 1: $maxInventory")
    val spark = docs.sparkSession
    import spark.implicits._
    val inv = vocab.select(col("piece"), col("is_cont"))
      .limit(maxInventory + 1)
      .collect().map(r => (r.getString(0), r.getBoolean(1)))
    require(inv.length <= maxInventory,
      s"wordpiece vocab exceeds maxInventory=$maxInventory pieces — raise " +
        s"minCount / lower maxPieceLen in wordpieceVocab, or raise maxInventory")
    val bcStart = spark.sparkContext.broadcast(
      inv.collect { case (p, false) => p }.toSet)
    val bcCont = spark.sparkContext.broadcast(
      inv.collect { case (p, true) => p }.toSet)
    val maxL = maxPieceLen
    val words = docs.select(col(idCol),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 1)
    val encoded = words.select(col("w")).distinct().as[String]
      .map(w => (w,
        segmentWordpiece(w, bcStart.value, bcCont.value, maxL).length.toLong))
      .toDF("w", "n_sub")
    words.join(encoded, Seq("w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sub")).cast("long").as("n_subtokens"))
  }

  /** Per-document subtoken counts under a TRAINED unigram inventory — the
    * encode-side readout ([[tokenCountsUnderMerges]]'s sibling for the
    * unigram family): each DISTINCT word segments once by integer
    * Viterbi, then one word-keyed join + doc-keyed partial agg scores the
    * corpus. `pieces` is the (piece, cnt) frame [[unigramTrain]]
    * returns. */
  def tokenCountsUnderUnigram(
      docs: DataFrame,
      pieces: DataFrame,
      maxPieceLen: Int = 4,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val inv = pieces.select(col("piece"), col("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val bc = spark.sparkContext.broadcast(unigramScores(inv))
    val maxL = maxPieceLen
    val words = docs.select(col(idCol),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 1)
    val encoded = words.select(col("w")).distinct().as[String]
      .map(w => (w, segmentViterbi(w, bc.value, maxL).length.toLong))
      .toDF("w", "n_sub")
    words.join(encoded, Seq("w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sub")).cast("long").as("n_subtokens"))
  }
}