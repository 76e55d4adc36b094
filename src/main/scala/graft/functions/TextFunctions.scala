package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpr
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, word n-gram shingles, quality scoring, language-ID heuristic,
  * fingerprinting. All pure Catalyst built-ins / higher-order functions —
  * codegen'd, no UDFs, fully distributed (no driver-side state).
  *
  * These generalize the reference's TRANSFORM:splitintowords
  * (Operators.java:165-167) from "the only generator op" into a text-pipeline
  * toolbox (SURVEY.md §7.2 step 7).
  */
object TextFunctions {

  /** Whitespace tokenization — same `\s+` split as the reference's
    * splitintowords (Operators.java:166). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Word n-gram shingles (default n=3), the unit for MinHash / Jaccard
    * near-dup detection. Empty array when the document has fewer than n
    * tokens. */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = tokens(text)
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Distinct shingle set (Jaccard operates on sets). Native single-pass
    * expression ([[WordShingles]]) — set-identical to
    * `array_distinct(shingles(text, n))`, ~50s faster on first evaluation
    * (the HOF chain pays heavy interpreter warmup). */
  def shingleSet(text: Column, n: Int = 3): Column = {
    import org.apache.spark.sql.GraftExpr
    GraftExpr.column(WordShingles(GraftExpr.expression(text), n, distinctOut = true))
  }

  /** BM25 per-(doc, query) scoring fold — native form of the scoreMatched
    * aggregate HOF; see [[Bm25Fold]] for the exact fold/tf-lookup/null
    * contract it replicates. Returns struct<s: double, h: long>. */
  def bm25Fold(qtfs: Column, qarr: Column, norm: Column, k1p1: Double): Column = {
    import org.apache.spark.sql.GraftExpr
    GraftExpr.column(Bm25Fold(GraftExpr.expression(qtfs),
      GraftExpr.expression(qarr), GraftExpr.expression(norm), k1p1))
  }

  /** Occurrence-preserving shingles via the same native expression —
    * element-identical to [[shingles]] (which stays as the composed
    * reference implementation); use this on hot paths that count
    * occurrences (n-gram frequency tables, repetition stats). */
  def shinglesNative(text: Column, n: Int = 3): Column = {
    import org.apache.spark.sql.GraftExpr
    GraftExpr.column(WordShingles(GraftExpr.expression(text), n, distinctOut = false))
  }

  /** All L-token window md5s of a token array — native form of the
    * spanWindows HOF; see [[SpanWindowHashes]] for the exact
    * join/hash/null contract it replicates. */
  def spanWindowHashes(tokens: Column, windowTokens: Int): Column = {
    import org.apache.spark.sql.GraftExpr
    GraftExpr.column(SpanWindowHashes(GraftExpr.expression(tokens), windowTokens))
  }

  /** Exact Jaccard similarity of two string arrays (treated as sets). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - size(array_intersect(a, b))).cast("double")
  }

  /** Tiny per-language stopword lists for the heuristic language ID.
    * Ordered: ties resolve to the earlier language. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "los", "y", "que", "en", "un"),
    "de" -> Seq("der", "die", "das", "und", "ein", "zu", "ist", "nicht"),
    "fr" -> Seq("le", "les", "des", "et", "une", "est", "dans", "pour"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  /** N-gram-free stopword-hit language ID: score(lang) = |tokens ∩ stoplist|,
    * argmax wins (ties -> listed order), zero hits -> "und". Deterministic and
    * expressible in ANSI SQL for oracle checking. */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val scores = stopwords.map { case (lang, words) =>
      lang -> size(array_intersect(toks, array(words.map(lit): _*)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Per-language character-trigram profiles (Cavnar-Trenkle style): the
    * distinct 3-grams of each marker word padded with spaces (" the " ->
    * " th", "the", "he ") — the classic n-gram language-ID signal, word
    * boundaries included. One definition feeds BOTH the Spark expression
    * and the generated DuckDB oracle SQL. */
  val trigramProfiles: Seq[(String, Seq[String])] = stopwords.map {
    case (lang, words) =>
      lang -> words.flatMap(w => s" $w ".sliding(3)).distinct
  }

  /** Character n-grams of the lowercased, trimmed text (1-char step, code
    * points) — native one-pass expression (see [[CharNgrams]]). */
  def charNgrams(text: Column, n: Int = 3): Column =
    GraftExpr.column(CharNgrams(GraftExpr.expression(lower(trim(text))), n))

  /** Character-n-gram language ID (the Cavnar-Trenkle heuristic): score(lang)
    * = number of the text's trigram OCCURRENCES that hit the language's
    * profile (multiset — repetition is signal), argmax wins (ties -> listed
    * order), zero hits -> "und". Complements the word-level [[langId]]:
    * n-grams survive inflection and partial words. The built-in profiles are
    * space-padded word trigrams, so they need space-delimited text (which is
    * what the synthetic corpus provides, zh included); classifying
    * UNSEGMENTED CJK requires profiles mined from unsegmented corpus text —
    * swap [[trigramProfiles]] accordingly. Fused native expression — see
    * [[NgramLangId]]. */
  def langIdNgram(text: Column): Column =
    GraftExpr.column(NgramLangId(
      GraftExpr.expression(lower(trim(text))), 3, trigramProfiles))

  /** Multiset stopword count against the English list (repeated stopwords
    * count each time — a ratio signal, unlike the set-intersect in langId). */
  def stopwordCount(text: Column, words: Seq[String] = stopwords.head._2): Column =
    size(filter(tokens(text), t => t.isin(words: _*)))

  /** Readability signals (Flesch–Kincaid grade): sentence count as
    * terminal-punctuation runs (`[.!?]+`), word count as whitespace
    * tokens, syllable count by the standard vowel-group heuristic
    * (`[aeiouy]+` runs, case-folded) — each a single codegen'd
    * regexp/split pass, zero shuffles, and each reproducible as the
    * IDENTICAL RE2 pattern in the oracle engine. The grade is
    *   0.39·(words/sentences) + 11.8·(syllables/words) − 15.59
    * with both denominators floored at 1 (a fragment with no terminal
    * punctuation reads as one sentence — the convention real scorers
    * use — and an empty doc must not divide by zero); the float result
    * is rounded to 12 decimals: integer-ratio divisions and one linear
    * combination are correctly-rounded IEEE ops both engines perform
    * identically, the round only clips hypothetical last-ulp drift. */
  def readabilitySignals(text: Column): Seq[(String, Column)] = {
    val words = tokenCount(text).cast("long")
    val sentences = size(regexp_extract_all(text, lit("[.!?]+"), lit(0))).cast("long")
    val syllables = size(regexp_extract_all(lower(text), lit("[aeiouy]+"), lit(0))).cast("long")
    val grade = round(
      lit(0.39) * (words.cast("double") / greatest(sentences, lit(1L)).cast("double")) +
        lit(11.8) * (syllables.cast("double") / greatest(words, lit(1L)).cast("double")) -
        lit(15.59), 12)
    Seq("n_words" -> words, "n_sentences" -> sentences,
      "n_syllables" -> syllables, "fk_grade" -> grade)
  }

  /** Stable content fingerprint (md5 of the raw text). For a
    * locality-sensitive fingerprint see [[graft.functions.Sketches.simhash64]]. */
  def fingerprint(text: Column): Column = md5(text)

  /** Canonical normalization for dedup preprocessing: lowercase, collapse
    * whitespace runs to single spaces, trim; with `stripPunct` every
    * non-letter/digit/space becomes a space first (so "don't" -> "don t",
    * matching the usual near-dup canon). Pure per-row codegen'd primitives,
    * RE2-compatible patterns — the DuckDB oracle computes the identical
    * string. Normalize BEFORE shingling/minhash so trivial formatting
    * differences stop defeating near-dup detection. */
  def normalizeText(text: Column, stripPunct: Boolean = false): Column = {
    val lowered = lower(text)
    val base =
      if (stripPunct) regexp_replace(lowered, "[^\\p{L}\\p{N}\\s]", " ")
      else lowered
    trim(regexp_replace(base, "\\s+", " "))
  }

  /** Unicode canonicalization ([[UnicodeNormalize]], UAX #15): run BEFORE
    * [[fingerprint]]/[[shingleSet]] so composed-vs-decomposed text stops
    * defeating exact and near dedup. NFC is the oracle-gated form (DuckDB
    * `nfc_normalize` computes the identical bytes); NFKC additionally folds
    * compatibility characters (ligatures, full-width forms) — the usual
    * choice for training-corpus canon. */
  def normalizeUnicode(text: Column, form: String = "NFC"): Column = {
    import org.apache.spark.sql.GraftExpr
    GraftExpr.column(UnicodeNormalize(GraftExpr.expression(text), form))
  }

  /** Deflate-compressed byte count ([[DeflateSize]]) — pair with
    * `octet_length` for the compression-ratio quality signal; see the
    * expression's scaladoc for the threshold semantics. */
  def deflateSize(text: Column, level: Int = 6): Column = {
    import org.apache.spark.sql.GraftExpr
    GraftExpr.column(DeflateSize(GraftExpr.expression(text), level))
  }

  /** Code-point diversity profile ([[CharProfile]]): struct(n_cp,
    * n_distinct, max_cnt, sum_sq, entropy_bits) in one pass — the integer
    * fields are the hash-gateable char-entropy quality signal (Rényi-2
    * entropy = log2(n_cp² / sum_sq)); entropy_bits is the Shannon
    * convenience, not gate-safe. */
  def charProfile(text: Column): Column = {
    import org.apache.spark.sql.GraftExpr
    GraftExpr.column(CharProfile(GraftExpr.expression(text)))
  }

  /** BPE-ish token estimate: one token per alphanumeric run plus one per
    * non-space punctuation character — the usual regex proxy for subword
    * tokenizers. Uses regexp_extract_all (RE2-compatible pattern, no
    * lookaround) so the DuckDB oracle computes the identical count. */
  def bpeTokenEstimate(text: Column): Column =
    size(regexp_extract_all(text, lit("[\\p{L}\\p{N}]+|[^\\p{L}\\p{N}\\s]"), lit(0)))

  /** Exact-integer quality counts (no ratios — division-free so the DuckDB
    * oracle hash-matches bit-for-bit; ratios are one division away for
    * consumers). */
  def qualityCounts(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    Seq(
      "n_chars" -> length(text).cast("long"),
      "n_tokens" -> size(toks).cast("long"),
      "sum_token_len" -> sumTokenLength(text).cast("long"),
      "n_stop" -> stopwordCount(text).cast("long"))
  }

  /** Σ length(token) — identically the count of non-whitespace chars (every
    * token char is a non-ws char of the original), so it compiles to one
    * codegen'd regexp_replace + length instead of the interpreted
    * `aggregate()` fold over the token array it replaces (the same
    * HOF-interprets trap as topBigramFraction's old fold; `\s` is the
    * same ASCII class `tokens`' split uses). */
  private def sumTokenLength(text: Column): Column =
    length(regexp_replace(text, "\\s", ""))

  /** PII redaction patterns, applied in order (email first — it contains
    * digit runs the later patterns would otherwise mangle). RE2-compatible
    * (no lookaround/backrefs) so Spark's codegen'd regexp_replace and the
    * DuckDB oracle (regexp_replace with the 'g' flag) rewrite identically.
    * The list is the policy surface: extend it per deployment. */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>",
    "\\b\\d{12,19}\\b" -> "<LONGNUM>",
    "\\b\\d{3}[-.]\\d{3,4}[-.]\\d{4}\\b" -> "<PHONE>")

  /** Scrub PII spans (emails, IPv4s, card-length digit runs, phone shapes)
    * to typed placeholder tokens — the standard pre-training scrub pass.
    * Pure per-row regexp_replace chain: codegen'd, scan-bound, zero
    * shuffles at any scale. */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (re, token)) =>
      regexp_replace(c, re, token)
    }

  /** Luhn mod-10 checksum of a digit string (ISO/IEC 7812) — doubling
    * every second digit from the RIGHT (subtracting 9 on overflow) and
    * summing. The validator the card-shaped `\d{12,19}` redaction
    * pattern lacks: a random 16-digit run passes the regexp but fails
    * Luhn 90% of the time, so checksum-gating digit runs before
    * redaction/flagging kills the false-positive mass. Pure integer HOF
    * over the string's own length — scan-local, engine-portable. Null on
    * non-digit input (cast failure → null sum), which [[luhnValid]]
    * treats as invalid. */
  def luhnChecksum(digits: Column): Column =
    GraftExpr.column(LuhnSum(GraftExpr.expression(digits)))

  /** The HOF formulation of [[luhnChecksum]], kept as the slow reference
    * its spec checks the native expression against (measured ~1 ms/row
    * interpreted — the bench's slowest scan before [[LuhnSum]]). Unlike
    * the native form it folds a null into the sum on non-digit chars via
    * the failed cast — same null result, different route. */
  private[graft] def luhnChecksumHof(digits: Column): Column = {
    val n = length(digits)
    when(n >= 1, aggregate(
      sequence(lit(1), n),
      lit(0),
      (acc, i) => {
        val d = digits.substr(i, lit(1)).cast("int")
        val dd = d * 2
        acc + when(pmod(n - i, lit(2)) === 1,
          when(dd > 9, dd - 9).otherwise(dd)).otherwise(d)
      }))
  }

  /** True iff the digit string carries a valid Luhn check digit; null
    * checksum (empty / non-digit input) is invalid. */
  def luhnValid(digits: Column): Column = {
    val s = luhnChecksum(digits)
    length(digits) >= 2 && s.isNotNull && pmod(s, lit(10)) === 0
  }

  /** The check digit that makes `base || digit` Luhn-valid — computed by
    * the standard append-zero trick (the zero occupies the undoubled
    * rightmost slot, putting every base digit in its final parity). */
  def luhnCheckDigit(base: Column): Column =
    pmod(lit(10) - pmod(luhnChecksum(concat(base, lit("0"))), lit(10)), lit(10))

  /** Jaro-Winkler similarity in [0, 1] ([[graft.functions.JaroWinkler]]):
    * the prefix-weighted name/title matcher, byte-based and bit-identical
    * to DuckDB's `jaro_winkler_similarity`. */
  def jaroWinkler(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftExpr
    GraftExpr.column(JaroWinkler(GraftExpr.expression(a), GraftExpr.expression(b)))
  }

  /** ISO 13616 IBAN mod-97 residue ([[graft.functions.Mod97Sum]]): rotate
    * the leading country+check block to the end, expand A–Z to 10–35,
    * reduce the decimal expansion mod 97 — 1 iff the check digits are
    * consistent. Null on the paper format (spaces), lowercase, other
    * non-alnum, or length < 5 — strict electronic format by contract. */
  def ibanMod97(iban: Column): Column =
    GraftExpr.column(Mod97Sum(GraftExpr.expression(iban)))

  /** True iff the IBAN's check digits verify (residue exactly 1); null
    * residue (malformed input) is invalid, not null. Checksum only —
    * join the ISO registry for country-length validation. */
  def ibanValid(iban: Column): Column =
    coalesce(ibanMod97(iban) === 1, lit(false))

  /** The two check digits completing `country || "00" || bban` into a
    * valid IBAN (ISO 13616 generation: 98 minus the residue of the
    * zero-check form), zero-padded to width 2. Null propagates from
    * malformed input. */
  def ibanCheckDigits(country: Column, bban: Column): Column =
    lpad((lit(98) - ibanMod97(concat(country, lit("00"), bban)))
      .cast("string"), 2, "0")

  /** Rule-based CODE detection score — the corpus-routing signal that
    * separates source code from prose before language-specific pipelines
    * (the Stack vs web-text split): an integer-weighted count of code
    * punctuation (braces ×3, semicolons ×3, equals ×2, parens ×1) and
    * keyword hits ("function", "return ", " var " ×5). Every count is a
    * length-difference over replace() — exact, portable, one codegen'd
    * scan expression, no regex engine in the hot path. Threshold as an
    * integer cross-product against the text length (score·1000 ≥
    * thr‰·n_chars), never a float division. */
  def codeScore(text: Column): Column = {
    def cnt(s: String): Column =
      length(text) - length(replace(text, lit(s), lit("")))
    // the removed length is always an exact multiple of the keyword
    // length, so the divide is exact; cast keeps the score INTEGER
    def cntKw(kw: String): Column = (cnt(kw) / kw.length).cast("int")
    (cnt("{") + cnt("}")) * 3 + cnt(";") * 3 + cnt("=") * 2 +
      cnt("(") + cnt(")") +
      (cntKw("function") + cntKw("return ") + cntKw(" var ")) * 5
  }

  /** Blocklist hit counting — the safety/toxicity-lexicon filter step:
    * n_hits = token occurrences whose LOWERCASE form is in the list
    * (whole-token match, so "class" never trips an embedded substring —
    * the classic substring-blocklist false positive). Keep decisions
    * compare integer cross-products (n_hits·den ≤ num·n_tokens), never a
    * float division. In-expression membership is right for lexicon-sized
    * lists (plan literals, one scan); a huge lexicon becomes a broadcast
    * anti/semi-join on the token postings instead — the
    * [[graft.operators.Dedup.dropExistingIn]] shape. */
  def blocklistHits(text: Column, blocklist: Seq[String]): Column = {
    require(blocklist.nonEmpty, "blocklistHits: empty blocklist")
    val lst = typedLit(blocklist.map(_.toLowerCase))
    size(filter(tokens(text), t => array_contains(lst, lower(t))))
  }

  /** URL shape (RE2-safe, case-insensitive scheme/host via inline (?i)):
    * http(s) scheme, host, optional port, optional path/query/fragment up
    * to whitespace or a quote/angle delimiter. Shared verbatim with the
    * oracle SQL. */
  private[graft] val urlPattern =
    "(?i)https?://[A-Za-z0-9.-]+(?::[0-9]+)?(?:/[^\\s\"'<>]*)?"

  /** All URLs in a document, in order — `array<string>`, raw form. */
  def extractUrls(text: Column): Column =
    regexp_extract_all(text, lit(urlPattern), lit(0))

  /** Canonical URL form for dedup/domain statistics: scheme+host+port
    * lowercase (path case preserved — it is significant), fragment
    * dropped, default ports (:80 http, :443 https) dropped, one trailing
    * slash dropped. Pure scan expression; every step states the SAME
    * lower/CASE/regexp logic a SQL replica can — group-substitution
    * replacements are avoided on purpose (Spark spells them $1, RE2 \\1,
    * so a shared chain could not use them). */
  def canonicalizeUrl(u: Column): Column = {
    val pre0 = lower(regexp_extract(u, "^([A-Za-z]+://[^/#?]*)", 1))
    val pre = when(pre0.startsWith("http://") && pre0.endsWith(":80"),
        pre0.substr(lit(1), length(pre0) - 3))
      .when(pre0.startsWith("https://") && pre0.endsWith(":443"),
        pre0.substr(lit(1), length(pre0) - 4))
      .otherwise(pre0)
    val rest = regexp_replace(regexp_replace(
      u.substr(length(pre0) + 1, length(u)), "#.*$", ""), "/$", "")
    concat(pre, rest)
  }

  /** The registrable host of a URL (lowercase, port stripped) — the key
    * for domain-level corpus statistics and per-domain caps. */
  def urlDomain(u: Column): Column =
    regexp_extract(lower(u), "^[a-z]+://([^/:#?]*)", 1)

  /** Markup-stripping steps shared VERBATIM with the oracle SQL — each is
    * (isRegex, pattern, replacement), applied in order. RE2-safe subset
    * (no backreferences, no lookaround), so Java regex and DuckDB RE2
    * agree; script/style/comment bodies go first (their content must not
    * survive as "text"), then remaining tags become spaces, then the five
    * standard entities decode (&amp; LAST so freshly decoded text cannot
    * double-decode), then whitespace collapses. */
  private[graft] val markupSteps: Seq[(Boolean, String, String)] = Seq(
    (true, "(?is)<script[^>]*>.*?</script>", " "),
    (true, "(?is)<style[^>]*>.*?</style>", " "),
    (true, "(?s)<!--.*?-->", " "),
    (true, "<[^>]+>", " "),
    (false, "&lt;", "<"),
    (false, "&gt;", ">"),
    (false, "&quot;", "\""),
    (false, "&#39;", "'"),
    (false, "&nbsp;", " "),
    (false, "&amp;", "&"),
    (true, "\\s+", " "))

  /** HTML/markup strip — the CommonCrawl-style text-extraction step:
    * drop script/style/comment bodies, flatten remaining tags to spaces,
    * decode the five standard entities, collapse whitespace, trim. A
    * fixed regexp_replace/replace chain (codegen'd, scan-bound, zero
    * shuffles at any scale); NOT an HTML parser by design — malformed
    * nesting degrades to extra whitespace, never to dropped prose. */
  def stripMarkup(text: Column): Column =
    trim(markupSteps.foldLeft(text) {
      case (c, (true, re, rep)) => regexp_replace(c, re, rep)
      case (c, (false, lit_, rep)) => replace(c, lit(lit_), lit(rep))
    })

  /** Fraction of token occurrences that are repeats of an earlier token:
    * `1 - distinct/total` — the cheap Gopher-style repetition signal
    * (templated/spun text scores high). Exact double (int/int division),
    * 0.0 for the empty document. */
  def duplicateTokenFraction(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) > 0,
      lit(1.0) - size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Share of bigram occurrences taken by the single most frequent bigram —
    * the other MassiveText repetition filter (a high value means one phrase
    * dominates the document). Native one-pass expression
    * ([[TopNgramFraction]]): no explode, no shuffle, scan-bound. The
    * sorted-run HOF fold this replaces evaluated interpreted at ~1.8 ms/doc
    * (and three times over when the CaseWhen referenced its accumulator) —
    * 350x slower than the fused loop. 0.0 when the document has fewer than
    * 2 tokens. */
  def topBigramFraction(text: Column): Column = {
    import org.apache.spark.sql.GraftExpr
    GraftExpr.column(TopNgramFraction(GraftExpr.expression(text), 2))
  }

  /** The HOF formulation of [[topBigramFraction]], kept as the slow
    * reference implementation its spec checks the native expression
    * against (same statistic via sort + run-length fold). */
  private[graft] def topBigramFractionHof(text: Column): Column = {
    val grams = sort_array(shingles(text, 2))
    val folded = aggregate(
      grams,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best"), lit(0L).as("total")),
      (acc, g) => {
        val run = when(g === acc.getField("prev"), acc.getField("run") + 1L).otherwise(lit(1L))
        struct(g.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"),
          (acc.getField("total") + 1L).as("total"))
      })
    when(folded.getField("total") > 0,
      folded.getField("best").cast("double") / folded.getField("total").cast("double"))
      .otherwise(lit(0.0))
  }

  /** Hashed bag-of-words LINEAR SCORE — the apply step of a
    * fastText-style text classifier (the model-based quality / language
    * filter the CCNet and LLaMA data pipelines run over every crawl
    * page): each token hashes to one of `weights.length` buckets by the
    * engine's portable md5 trick, and the margin is bias + the IN-ORDER
    * sum of bucket weights. The weight vector is the trained artifact
    * (driver-sized by definition — a hashed linear model IS an array);
    * training happens wherever the labels live.
    *
    * Determinism contract: token order is document order and every
    * addition is a correctly-rounded IEEE step, so margins are bit-exact
    * on any engine when the weights are bit-equal doubles — pass weights
    * as small-decimal values (e.g. fixed-point n/10⁶) so a SQL replica
    * can state them literally. Scale shape: pure per-row scan expression,
    * zero shuffles — an md5 + array lookup per token. */
  def hashedBowMargin(text: Column, weights: Seq[Double], bias: Double = 0.0): Column = {
    require(weights.nonEmpty, "need at least one bucket weight")
    hashedBowMarginDyn(text, array(weights.map(lit): _*), lit(bias))
  }

  /** [[hashedBowMargin]] with the weight vector as a COLUMN (any
    * array<double> expression — the SQL-callable form, `hashed_bow_margin`
    * in [[graft.GraftExtensions]]): bucket count = the array's size. */
  def hashedBowMarginDyn(text: Column, weights: Column, bias: Column): Column = {
    def bucket(t: Column): Column =
      pmod(conv(substring(md5(t), 1, 15), 16, 10).cast("long"),
        size(weights).cast("long"))
    val margin = aggregate(tokens(text), bias.cast("double"),
      (acc, t) => acc + element_at(weights, (bucket(t) + 1).cast("int")))
    // an empty weight array would make every bucket null (pmod by 0) and
    // every margin null — a margin>0 filter would then silently drop the
    // whole corpus; fail the row loudly instead (the Column-API overload
    // rejects it at build time)
    when(size(weights) > 0, margin)
      .otherwise(raise_error(lit(
        "hashed_bow_margin: weights array must be non-empty")))
  }
}
