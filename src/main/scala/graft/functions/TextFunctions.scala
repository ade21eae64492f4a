package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines —
  * beyond-reference extensions (SURVEY.md §2.C/§7.6). Everything is built
  * from codegen'd built-in expressions (no UDFs): these run inside
  * whole-stage codegen and scale linearly with executors.
  */
object TextFunctions {

  /** Pre-tokenization cleanup: strip HTML/XML tags, drop control chars,
    * collapse whitespace runs, trim — the standard scrub before any text
    * op in a crawl-derived corpus. Pure regexp_replace chain (codegen'd;
    * the patterns behave identically in Java regex and RE2, so the DuckDB
    * oracle matches byte-for-byte).
    */
  def cleanText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(text, "<[^>]*>", " "), // tags → space
        "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]", ""), // control chars (keep \t\n\r)
      "\\s+", " "))

  /** Whitespace tokenizer (empty tokens dropped, leading/trailing safe). */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => length(t) > 0)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish regex tokenizer: letter runs, digit runs, single non-space
    * symbols — the classic pre-tokenization split used by GPT-2-style BPE
    * vocabularies.
    */
  def regexTokens(text: Column): Column =
    regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))

  def regexTokenCount(text: Column): Column = size(regexTokens(text))

  /** Word n-gram shingles over the whitespace tokens: k consecutive tokens
    * joined by a single space; distinct set. Empty when the document has
    * fewer than k tokens.
    */
  def shingles(text: Column, k: Int): Column = {
    val ts = tokens(text)
    array_distinct(
      when(size(ts) >= k,
        transform(sequence(lit(0), size(ts) - k),
          i => concat_ws(" ", slice(ts, i + 1, lit(k)))))
        .otherwise(array().cast("array<string>")))
  }

  /** Consecutive token 2-grams WITH multiplicity (unlike [[shingles]],
    * which dedups): the input to repetition statistics, where how often a
    * bigram repeats is the signal. Empty below 2 tokens.
    */
  def bigramsOf(ts: Column): Column = ngramListOf(ts, 2)

  /** Consecutive token k-grams WITH multiplicity and position order (the
    * repetition-statistics input; [[shingles]] dedups instead). Empty
    * below k tokens.
    */
  def ngramListOf(ts: Column, k: Int): Column =
    when(size(ts) >= k,
      transform(sequence(lit(1), size(ts) - (k - 1)),
        i => concat_ws(" ", slice(ts, i, lit(k)))))
      .otherwise(array().cast("array<string>"))

  /** Per-language stopword marker sets for the n-gram language heuristic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "in", "to", "is", "that", "it", "was"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht", "mit", "auf", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "en", "por", "con"))

  /** #tokens belonging to the given marker set.
    *
    * This and the text-based functions below have an `…Of(ts)` form over a
    * MATERIALIZED tokens column: lambda HOFs are excluded from
    * subexpression elimination, so `langId(text)` tokenizes 4× and
    * `qualityScore(text)` ~6× per row. Queries that need several of these
    * per row should project `tokens(text)` once behind a persist barrier
    * (CacheScope) and use the `…Of` forms — the HOFs then traverse an
    * array attribute instead of re-splitting the string each time.
    */
  def markerCountOf(ts: Column, words: Seq[String]): Column =
    size(filter(ts, t => t.isin(words.map(lit): _*)))

  /** Stopword ratio (English markers by default) — a standard quality
    * heuristic: natural prose has 0.2-0.5, keyword salad near 0.
    */
  def stopwordRatioOf(ts: Column, lang: String = "en"): Column = {
    val n = size(ts)
    when(n > 0, markerCountOf(ts, stopwords(lang)).cast("double") / n)
      .otherwise(lit(0.0))
  }

  /** Language-ID via marker-word voting: the language whose stopword set
    * scores the most hits; ties break in fixed (en, de, fr, es) order;
    * zero hits everywhere → "und" (undetermined). An n-gram-frequency model
    * would slot in the same shape (argmax over per-language scores).
    */
  def langId(text: Column): Column = langIdOf(tokens(text))

  def langIdOf(ts: Column): Column = {
    val ordered = Seq("en", "de", "fr", "es")
    val scores = ordered.map(l => l -> markerCountOf(ts, stopwords(l)))
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldLeft(when(best <= 0, lit("und"))) { case (acc, (l, s)) =>
      acc.when(s === best, lit(l))
    }.otherwise(lit("und"))
  }

  /** Fraction of non-alphanumeric, non-space characters. */
  def punctRatio(text: Column): Column = {
    val n = length(text)
    when(n > 0,
      length(regexp_replace(text, "[A-Za-z0-9\\s]", "")).cast("double") / n)
      .otherwise(lit(0.0))
  }

  /** Mean token length in characters. */
  def meanTokenLen(text: Column): Column = meanTokenLenOf(tokens(text))

  def meanTokenLenOf(ts: Column): Column =
    when(size(ts) > 0,
      aggregate(ts, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(ts))
      .otherwise(lit(0.0))

  /** Composite quality score in [0,1]: rewards prose-like stopword ratio and
    * 3-8 char mean tokens, penalises punctuation soup and tiny documents.
    * Weights are heuristic; the value is the *shape* (a single codegen'd
    * expression, no UDF, trivially re-weighted).
    */
  def qualityScore(text: Column): Column =
    qualityScoreOf(tokens(text), text)

  /** `ts` must be `tokens(text)` of the same `text` (see the `…Of` note). */
  def qualityScoreOf(ts: Column, text: Column): Column = {
    val stop = stopwordRatioOf(ts)
    val stopTerm = least(stop * 4, lit(1.0)) // saturates at ratio 0.25
    val lenTerm = least(size(ts).cast("double") / 100, lit(1.0))
    val punct = punctRatio(text)
    val mtl = meanTokenLenOf(ts)
    val mtlTerm = when(mtl.between(3.0, 8.0), lit(1.0)).otherwise(lit(0.5))
    val q = stopTerm * 0.3 + lenTerm * 0.3 + (lit(1.0) - punct) * 0.2 + mtlTerm * 0.2
    // floor-based rounding: identical double math in every engine (Spark's
    // round() goes through BigDecimal's decimal repr and disagrees with
    // binary-double rounders exactly at .5 boundaries)
    floor(q * 10000 + 0.5) / 10000
  }

  /** Document fingerprint: md5 over the whitespace-normalised, lower-cased
    * text — the exact-dedup key. (A rolling/locality hash is the MinHash
    * path in graft.operators.Dedup.)
    */
  def fingerprint(text: Column): Column =
    md5(lower(concat_ws(" ", tokens(text))))

  /** Whitespace-normalised, lower-cased text — the canonical form both the
    * whole-document fingerprint and the winnow grams hash over.
    */
  def normalizedText(text: Column): Column =
    lower(concat_ws(" ", tokens(text)))

  /** Per-character k-gram rolling hashes of an ALREADY-normalised text
    * column: element i = xxhash64 of the k chars starting at i (same
    * k-gram → same hash, position-independent). Empty for texts shorter
    * than k.
    *
    * IMPORTANT: pass a plain (materialised) column, not an expression —
    * the transform lambda captures `norm` and re-evaluates it PER ELEMENT,
    * so a captured `lower(concat_ws(tokens(...)))` tree turns this O(n)
    * scan into O(n²) per document (measured 20-60s on 5000 docs). See
    * `Dedup.winnowFingerprints` for the persist-first call pattern; the
    * window-min selection there is likewise a DataFrame window function,
    * not a nested HOF, for the same reason.
    */
  def charGramHashes(norm: Column, k: Int): Column = {
    val nGrams = length(norm) - (k - 1)
    when(nGrams >= 1,
      transform(sequence(lit(1), nGrams), i => xxhash64(norm.substr(i, lit(k)))))
      .otherwise(array().cast("array<bigint>"))
  }
}
