package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column builders for the LLM-data pipeline: tokenization,
  * token counting (whitespace / regex / BPE-ish estimate), n-gram shingles,
  * language-ID heuristics, quality scoring, and mod-p document
  * fingerprinting (mod-p k-gram sampling, the winnowing family --
  * Schleimer/Wilkerson/Aiken, SIGMOD 2003).
  *
  * Lineage: the reference's only text op is a corpus-wide bag-of-words fit
  * with token pattern `\b\w+\b` (`/root/reference/serialize.py:220-231`);
  * we keep that token pattern and extend the surface for training-data
  * curation. Everything here is a pure per-row expression (no UDF, no
  * shuffle) so it stays inside whole-stage codegen and scales linearly.
  *
  * Determinism: every double is produced by a fixed-shape expression tree
  * (single divisions / ordered folds), never a multi-row double SUM, so
  * results are bit-identical across engines — see the DuckDB twins in
  * [[graft.queries.LlmOps]].
  */
object TextAnalysis {

  /** `\w+` tokens in order, with duplicates (multiset). */
  def tokens(text: Column): Column =
    regexp_extract_all(text, lit("\\w+"), lit(0))

  /** Whitespace-delimited token count. Empty/whitespace-only text counts
    * 0 (split('') returns [''], which would count 1 — an empty doc is not
    * a one-token doc); the q22 oracle twin carries the same guard. */
  def wsTokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(split(trim(text), "\\s+")).cast("long"))

  /** Distinct word n-gram shingles ("w1 w2 ... wn"), from an ordered
    * token array. TOTAL: a sub-n (or null) document yields the empty set.
    * Fused single-pass expression ([[graft.expressions.WordNgramsExpr]]):
    * the declarative transform/sequence/concat_ws chain allocated a
    * sequence array plus per-gram closure dispatches per row and ran
    * array_distinct as a second pass — the shingle pass is the front of
    * every dedup/set-join query, so it pays to be one loop. Values are
    * IDENTICAL (content and first-occurrence order; equality spec-gated
    * against the declarative chain in TextAnalysisSpec). */
  def wordNgrams(toks: Column, n: Int): Column =
    graft.expressions.Sketches.wordNgrams(toks, n)

  /** BPE-ish subword count estimate: sum over tokens of ceil(len/4),
    * as exact integer arithmetic ((len+3) div 4). */
  def bpeEstimate(toks: Column): Column =
    aggregate(toks, lit(0L), (acc, t) => acc + floor((length(t) + 3) / lit(4)))

  /** GPT-2-style pre-tokenizer pattern (Radford et al. 2019, public
    * gpt-2/src/encoder.py), restricted to the RE2-compatible subset — no
    * lookahead, ASCII classes instead of \p{L}/\p{N} — so Java regex
    * (Spark) and RE2 (DuckDB) extract IDENTICAL pre-token lists:
    * contraction suffixes, space-prefixed letter runs, digit runs,
    * punctuation runs, residual whitespace. This is the real BPE
    * pre-merge segmentation; [[bpeEstimate]] remains the cheap
    * chars/4 proxy. */
  val BpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s']+|\\s+"

  /** Pre-token segments of `text` under [[BpePattern]], in order. */
  def bpePreTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpePattern), lit(0))

  /** Pre-token count — the standard fast "token count" a curation
    * pipeline budgets by (whitespace counts undercount punctuation-heavy
    * text; this segmentation is what an actual BPE vocab sees). */
  def bpePreTokenCount(text: Column): Column =
    size(bpePreTokens(text)).cast("long")

  // ---- language ID (stopword-hit heuristic) ---------------------------
  // Tiny function-word lists; hit = token exactly equals a list entry.
  // Multiset counts (repeats count) — same as the oracle's list_filter.
  val StopEn = Seq("the", "a", "of", "and", "to", "in", "is")
  val StopDe = Seq("der", "die", "das", "und", "ist", "ein")
  val StopEs = Seq("el", "la", "de", "los", "es", "un")
  val StopFr = Seq("le", "les", "et", "est", "un", "une")

  def hits(toks: Column, words: Seq[String]): Column = {
    val set = array(words.map(lit): _*)
    size(filter(toks, t => array_contains(set, t))).cast("long")
  }

  /** Predicted language with deterministic tie-break order en>de>es>fr. */
  def predictedLang(en: Column, de: Column, es: Column, fr: Column): Column =
    when(en >= de && en >= es && en >= fr, "en")
      .when(de >= es && de >= fr, "de")
      .when(es >= fr, "es")
      .otherwise("fr")

  // ---- language ID (char-trigram profiles) -----------------------------
  // The stopword heuristic above fails on short text with no function
  // words; character-trigram profile overlap (Cavnar & Trenkle 1994,
  // "N-Gram-Based Text Categorization") is the standard fix. Profiles are
  // the most characteristic trigrams per language (boundary spaces
  // included), small enough to inline as literals — scoring stays one
  // codegen'd per-row expression, no lookup join.
  val TriEn = Seq(" th", "the", "he ", "ing", "ng ", " an", "and", "nd ",
    "ed ", " of", "of ", "ion", " to", "to ", " in", "is ", "at ", "ent",
    "ith", "wit")
  val TriDe = Seq("der", " de", "die", "ie ", "und", " un", "ein", " ei",
    "ich", "sch", "ch ", "ung", "das", "as ", "ten", "ine", "ber", "gen",
    "cht", "eit")
  val TriEs = Seq(" de", "de ", "os ", " la", "la ", " el", "el ", "ión",
    "ón ", "que", " qu", "ado", "nte", "con", " co", "los", "las", "ara",
    "par", "ien")
  val TriFr = Seq(" de", "de ", " le", "le ", "les", "des", "ent", "nt ",
    "que", " qu", "une", " un", "eur", "ais", "ait", "our", " pa", "par",
    "ur ", "men")

  /** Distinct char trigrams of lowercased text, padded with one boundary
    * space each side so word-initial/final trigrams (" th", "he ") exist.
    * Guarded for <3-char padded text: Spark's sequence(1, 0) is the
    * DESCENDING [1, 0] (it would yield bogus sub-3-char "trigrams"), while
    * the DuckDB twin's generate_series(1, 0) is empty — both engines must
    * produce the empty set. */
  def charTrigrams(text: Column): Column = {
    val t = concat(lit(" "), lower(text), lit(" "))
    when(length(t) >= 3,
      array_distinct(transform(sequence(lit(1), length(t) - 2),
        i => substring(t, i, lit(3)))))
      .otherwise(typedLit(Seq.empty[String]))
  }

  /** Number of profile trigrams present in the document's trigram set. */
  def trigramScore(tris: Column, profile: Seq[String]): Column =
    size(array_intersect(tris, array(profile.map(lit): _*))).cast("long")

  /** Boundary-padded lowercase text — stage THIS as a column before
    * [[trigramHits]] so the lower/concat runs once per row, not once per
    * profile probe. */
  def paddedLower(text: Column): Column = concat(lit(" "), lower(text), lit(" "))

  /** Same VALUE as `trigramScore(charTrigrams(text), profile)` without
    * materializing the trigram set: a profile trigram is in the document's
    * trigram set iff it occurs as a substring of the padded text, so the
    * score is 20 codegen'd `instr` probes instead of building and
    * intersecting a |text|-element array per row (~20x less per-row work;
    * oracle SQL twins keep the intersect formulation — values identical). */
  def trigramHits(padded: Column, profile: Seq[String]): Column =
    profile.map(p => when(instr(padded, p) > 0, 1L).otherwise(0L))
      .reduce(_ + _).cast("long")

  /** Trigram-profile language ID over en/de/es/fr — robust where
    * [[predictedLang]]'s stopword hits are absent (short text, titles).
    * Same deterministic tie-break order. */
  def predictedLangTrigram(text: Column): Column = {
    val tris = charTrigrams(text)
    // NULL text stays NULL: the zero-score path would otherwise win the
    // en-first tie-break and confidently label missing documents English
    when(text.isNull, lit(null).cast("string")).otherwise(predictedLang(
      trigramScore(tris, TriEn), trigramScore(tris, TriDe),
      trigramScore(tris, TriEs), trigramScore(tris, TriFr)))
  }

  // ---- quality scoring -------------------------------------------------
  /** NULL (not NaN/exception) when the denominator is zero — Spark's x/0
    * is NULL but DuckDB's float 0/0 is NaN, so ratios must be explicitly
    * guarded on BOTH sides for empty/token-less documents to keep oracle
    * parity. The SQL twins carry the matching CASE WHEN. */
  private def safeDiv(num: Column, den: Column): Column =
    when(den > 0, num.cast("double") / den.cast("double"))

  /** Ratio of ASCII-letter chars to all chars; NULL for empty text. */
  def alphaRatio(text: Column): Column =
    safeDiv(length(regexp_replace(text, "[^A-Za-z]", "")), length(text))

  /** Mean token length; NULL for token-less text. */
  def meanTokenLen(toks: Column): Column =
    safeDiv(aggregate(toks, lit(0L), (acc, t) => acc + length(t)), size(toks))

  /** Stopword ratio against the EN list; NULL for token-less text. */
  def stopRatio(toks: Column): Column =
    safeDiv(hits(toks, StopEn), size(toks))

  /** Composite quality score in [0,1]:
    * 0.4·alpha + 0.2·min(1, stop/0.1) + 0.4·min(1, n_tokens/50). */
  def qualityScore(text: Column, toks: Column): Column =
    lit(0.4) * alphaRatio(text) +
      lit(0.2) * least(lit(1.0), stopRatio(toks) / lit(0.1)) +
      lit(0.4) * least(lit(1.0), size(toks).cast("double") / lit(50.0))

  // ---- fused one-pass text metrics -------------------------------------
  /** All counts the quality gate and stopword language ID need, from ONE
    * walk of the text's UTF-8 bytes ([[graft.expressions
    * .QualityCountsExpr]]): the declarative forms above pay a regex pass
    * allocating the stripped copy (alphaRatio), a regex pass allocating
    * the token array (tokens), and per stop list an INTERPRETED
    * higher-order filter (hits — higher-order functions are
    * CodegenFallback). Struct fields: n_chars, alpha, n_toks,
    * tok_len_sum, stop_0..stop_3 = multiset hits against
    * StopEn/StopDe/StopEs/StopFr. The ratio/score helpers below keep the
    * EXACT cast/divide/least shapes of the declarative forms, so every
    * derived double is bit-identical (spec-gated per field in
    * TextAnalysisSpec); null text → null struct → the same null
    * propagation as the unfused forms. */
  def qualityCounts(text: Column): Column =
    graft.expressions.Sketches.qualityCounts(
      text, Seq(StopEn, StopDe, StopEs, StopFr))

  /** [[alphaRatio]] from a [[qualityCounts]] struct. */
  def alphaRatioOf(qc: Column): Column =
    safeDiv(qc.getField("alpha"), qc.getField("n_chars"))

  /** [[meanTokenLen]] from a [[qualityCounts]] struct. */
  def meanTokenLenOf(qc: Column): Column =
    safeDiv(qc.getField("tok_len_sum"), qc.getField("n_toks"))

  /** [[stopRatio]] from a [[qualityCounts]] struct. */
  def stopRatioOf(qc: Column): Column =
    safeDiv(qc.getField("stop_0"), qc.getField("n_toks"))

  /** [[qualityScore]] from a [[qualityCounts]] struct. */
  def qualityScoreOf(qc: Column): Column =
    lit(0.4) * alphaRatioOf(qc) +
      lit(0.2) * least(lit(1.0), stopRatioOf(qc) / lit(0.1)) +
      lit(0.4) * least(lit(1.0),
        qc.getField("n_toks").cast("double") / lit(50.0))

  /** The four [[hits]] counts (en, de, es, fr) from a [[qualityCounts]]
    * struct — same values and LongType as `hits(tokens(text), StopXx)`. */
  def stopHitsOf(qc: Column): (Column, Column, Column, Column) =
    (qc.getField("stop_0"), qc.getField("stop_1"),
      qc.getField("stop_2"), qc.getField("stop_3"))

  // ---- mod-p fingerprinting (winnowing-style content sampling) --------
  /** Distinct 60-bit hashes of every 8-char gram whose hash ≡ 0 (mod 16):
    * a content-defined ~1/16 sample of the document's k-gram space.
    * Two documents share fingerprints iff they share 8-char substrings —
    * the standard copy-detection sketch, as one per-row expression.
    * Fused single-pass expression ([[graft.expressions.FingerprintsExpr]]):
    * the declarative chain is a higher-order-function tree, which
    * Spark evaluates INTERPRETED (CodegenFallback) — per gram it allocated
    * a substring, a 32-char md5 hex string and a conv parse; the
    * fingerprint pass fronts five declared queries (q30/q64/q76/q283/q296),
    * so it pays to be one digest loop over the text's bytes. Values are
    * IDENTICAL (content and first-occurrence order; equality spec-gated
    * against the declarative chain in TextAnalysisSpec, which the DuckDB
    * oracle twins mirror). */
  def fingerprints(text: Column, k: Int = 8, modP: Int = 16): Column =
    graft.expressions.Sketches.fingerprints(text, k, modP)

  private def substring(c: Column, pos: Column, len: Column): Column =
    c.substr(pos, len)

  // ---- PII redaction (training-data scrubbing) ------------------------
  /** Ordered (pattern, replacement) pairs, applied first-to-last. The
    * patterns are restricted to the RE2-compatible subset (character
    * classes, bounded repeats, `\b`, non-capturing groups — no lookaround,
    * no backrefs) so Java (Spark) and RE2 (DuckDB) match IDENTICAL spans
    * and the redacted text hash-matches across engines (q111). Order
    * matters: SSN (ddd-dd-dddd) before phone (ddd-ddd-dddd) — the shapes
    * are disjoint, but a fixed order makes the output reproducible by
    * construction, not by accident. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b" -> "<IP>",
    "\\b\\d{3}-\\d{2}-\\d{4}\\b" -> "<SSN>",
    "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b" -> "<PHONE>")

  /** Redact all PII patterns, in order. A chain of codegen'd
    * regexp_replace calls — per-row, no UDF, no shuffle. */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (pat, rep)) =>
      regexp_replace(c, pat, rep)
    }

  /** Count of matches of one PII pattern (pre-redaction). */
  def piiCount(text: Column, pattern: String): Column =
    regexp_count(text, lit(pattern)).cast("long")

  // ---- markup stripping (HTML → text for web-scrape ingestion) --------
  /** Ordered (pattern, replacement) pairs. RE2-compatible subset (no
    * lookaround/backrefs) so Spark (java.util.regex) and DuckDB (RE2)
    * strip IDENTICAL spans — the q111 trick applied to HTML cleaning.
    * Order is load-bearing and is the SAFE order: script/style blocks
    * first, then all tags, then entity decoding, then whitespace
    * collapse. Decoding entities before tag removal would let encoded
    * markup (`&lt;script&gt;`) re-enter the tag stripper — the classic
    * sanitizer-ordering bug; this order cannot. Block contents are
    * matched as `[^<]*` (no dotall dependence): a script body containing
    * a bare `<` ends the block early — identically on both engines. */
  val MarkupStrip: Seq[(String, String)] = Seq(
    "<script[^>]*>[^<]*</script>" -> " ",
    "<style[^>]*>[^<]*</style>" -> " ",
    "<[^>]+>" -> " ",
    // &amp; decodes LAST within the entity chain: decoding it first
    // would turn a double-encoded &amp;lt; into &lt; and then into a
    // literal '<' — the entity-order variant of the sanitizer bug the
    // tag/entity ordering above already avoids
    "&lt;" -> "<", "&gt;" -> ">",
    "&quot;" -> "\"", "&#39;" -> "'", "&nbsp;" -> " ",
    "&amp;" -> "&",
    "[ \\t\\r\\n]+" -> " ")

  /** Strip markup from `html`, in [[MarkupStrip]] order, and trim. A
    * chain of codegen'd regexp_replace calls — per-row, no UDF, no
    * shuffle; at 100 TB this is a map stage fused into the scan. */
  def stripMarkup(html: Column): Column =
    trim(MarkupStrip.foldLeft(html) { case (c, (p, r)) =>
      regexp_replace(c, p, r)
    })
}
