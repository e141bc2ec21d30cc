package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, quality scoring, language-ID heuristics, document
  * fingerprints. All pure Column expressions (codegen'd, run inside
  * the scan stage — no shuffle, no UDFs), so they stream over 100 TB
  * of documents at scan speed.
  */
object TextFunctions {

  /** Whitespace tokens of a trimmed document. */
  def wsTokens(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(wsTokens(text))

  /** BPE-ish token count: letter runs, digit runs, single punctuation
    * marks — a cheap proxy for subword tokenizer counts. */
  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Distinct whitespace tokens. */
  def distinctTokens(text: Column): Column = array_distinct(wsTokens(text))

  /** Word n-grams WITHOUT dedup (one entry per occurrence) — the
    * repetition-analysis counterpart of [[shingles]]. `toks` should be
    * a projected token-array column, not an inline `wsTokens(text)`:
    * every reference to the argument expression re-evaluates it per
    * element, so an inline regex split turns O(tokens) references
    * into O(tokens) splits per row. Projecting the array first makes
    * it a bound attribute, evaluated once per row (CollapseProject
    * keeps multi-referenced non-cheap projections separate). */
  def allShinglesOfToks(toks: Column, n: Int): Column =
    filter(
      transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => when(i + (n - 1) < size(toks),
          concat_ws(" ", (0 until n).map(k => element_at(toks, i + k + 1)): _*))),
      c => c.isNotNull)

  /** Distinct word n-grams from a projected token-array column. */
  def shinglesOfToks(toks: Column, n: Int): Column =
    array_distinct(allShinglesOfToks(toks, n))

  /** Word n-gram shingles (n consecutive tokens joined by space). */
  def shingles(text: Column, n: Int): Column = {
    val toks = wsTokens(text)
    array_distinct(filter(
      transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => when(i + (n - 1) < size(toks),
          concat_ws(" ", (0 until n).map(k => element_at(toks, i + k + 1)): _*))),
      c => c.isNotNull))
  }

  /** Stopword ratio over whitespace tokens (literal list → broadcast-free). */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val toks = wsTokens(text)
    size(filter(toks, t => t.isin(stopwords.map(x => x: Any): _*))).cast("double") /
      greatest(size(toks), lit(1))
  }

  /** Punctuation character ratio. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[^A-Za-z0-9\\s]", "")))
      .cast("double") / greatest(length(text), lit(1))

  /** The three quality signals, each ∈ [0,1]: length band (50 tokens
    * saturate), low punctuation and stopword presence. */
  def qualitySignals(text: Column, stopwords: Seq[String]): Seq[Column] = Seq(
    least(tokenCount(text).cast("double") / 50.0, lit(1.0)),
    lit(1.0) - least(punctRatio(text) * 5.0, lit(1.0)),
    least(stopwordRatio(text, stopwords) * 10.0, lit(1.0)))

  /** Composite quality score ∈ [0,1], the 0.4/0.3/0.3 mix of
    * [[qualitySignals]] rounded to 4 places (the reference's quality
    * gates are ad-hoc per-pipeline; this packages the same signals). */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val Seq(lenScore, punctOk, stopOk) = qualitySignals(text, stopwords)
    round(lenScore * 0.4 + punctOk * 0.3 + stopOk * 0.3, 4)
  }

  /** [[qualityScore]] as an exact integer in 1e-4 units. */
  def qualityQ4(text: Column, stopwords: Seq[String]): Column =
    round(qualityScore(text, stopwords) * 1e4, 0).cast("long")

  /** Quality decile, [[qualityQ4]] div 1000 capped at 9 (x68's bins and
    * the streaming drift monitor's): pure integer, so no engine or
    * batch/stream replay can disagree on a bin edge. */
  def qualityBin(text: Column, stopwords: Seq[String]): Column =
    least(call_function("div", qualityQ4(text, stopwords), lit(1000L)), lit(9L))

  /** Marker-word language score: fraction of tokens in the marker set. */
  def markerScore(text: Column, markers: Seq[String]): Column = {
    val toks = wsTokens(lower(text))
    size(filter(toks, t => t.isin(markers.map(x => x: Any): _*))).cast("double") /
      greatest(size(toks), lit(1))
  }

  /** n-gram-heuristic language ID over marker lists; ties break by
    * list order (first wins). */
  def langId(text: Column, markerSets: Seq[(String, Seq[String])]): Column = {
    val scores = markerSets.map { case (lang, ms) => (lang, markerScore(text, ms)) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, sc), acc) =>
      when(sc === best && sc > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Document fingerprint: md5 of normalized text (exact-dup key) —
    * identical in DuckDB, stable across engines. */
  def fingerprint(text: Column): Column = md5(lower(trim(text)))

  /** Short 16-hex-char fingerprint for bucketing. */
  def fingerprintShort(text: Column): Column = substring(fingerprint(text), 1, 16)

  /** RE2-compatible PII patterns (linear-time — no backtracking
    * blowup on adversarial text; also valid DuckDB regexes so the
    * oracle replays them verbatim). */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\(\\d{2}\\) \\d{4,5}-\\d{4}"

  /** Scan-speed PII scrub: emails → [EMAIL], BR phones → [TELEFONE].
    * Pure codegen'd Column expression — composes unchanged onto
    * batch and streaming plans. */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, emailPattern, "[EMAIL]"),
      phonePattern, "[TELEFONE]")
}
