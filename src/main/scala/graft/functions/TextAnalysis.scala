package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, token statistics, quality scoring, language-ID
  * heuristics, document fingerprinting, shingling. All pure `Column`
  * builders (codegen'd, no UDFs) so they run inside whole-stage codegen
  * over 100 TB of text without SerDe cost.
  *
  * These generalize the reference's string cleaning (F3,
  * transformer_data.py:80-100) and keyword scans (P4,
  * transformer_data.py:343-371) into a reusable text stack.
  */
object TextAnalysis {

  /** Whitespace tokenizer; empties dropped (split on \s+ leaves a
    * leading "" for texts starting with whitespace). */
  def tokens(c: Column): Column =
    filter(split(c, "\\s+"), x => x =!= "")

  def tokenCount(c: Column): Column = size(tokens(c))

  /** Distinct-token ratio: a crude repetitiveness signal; 1.0 = no
    * repeated token. */
  def distinctTokenRatio(c: Column): Column = {
    val t = tokens(c)
    size(array_distinct(t)).cast(DoubleType) / size(t).cast(DoubleType)
  }

  /** English-ish stopword table for quality scoring. */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "on", "for")

  def stopwordRatio(c: Column): Column = {
    val t = tokens(c)
    size(filter(t, x => lower(x).isin(Stopwords: _*))).cast(DoubleType) /
      size(t).cast(DoubleType)
  }

  /** Composite quality score in [0,1]-ish: favors diverse, stopword-
    * bearing, moderately long documents. Deliberately simple — the
    * point is the *shape* (pure column math → scan-side, pushdown-safe). */
  def qualityScore(c: Column): Column =
    round(
      lit(0.4) * distinctTokenRatio(c) +
      lit(0.3) * least(stopwordRatio(c) * 5.0, lit(1.0)) +
      lit(0.3) * least(tokenCount(c).cast(DoubleType) / 100.0, lit(1.0)), 4)

  /** Language-ID marker regexes: count of marker-token hits per
    * language; argmax wins, ties → "en". N-gram-heuristic langid in the
    * fasttext tradition, reduced to three stopword families. */
  val LangMarkers: Seq[(String, String)] = Seq(
    "en" -> "(the|and|of|to|is)",
    "de" -> "(der|die|das|und|ist)",
    "es" -> "(el|la|los|de|es)")

  def langMarkerHits(c: Column, pattern: String): Column =
    size(regexp_extract_all(lower(c), lit(" " + pattern + " "), lit(0)))

  /** Argmax langid over the marker tables (first language wins ties,
    * in LangMarkers order). */
  def langId(c: Column): Column = {
    val scores = LangMarkers.map { case (lang, p) => lang -> langMarkerHits(c, p) }
    scores.tail.foldLeft((scores.head._2, lit(scores.head._1))) {
      case ((bestScore, bestLang), (lang, score)) =>
        (when(score > bestScore, score).otherwise(bestScore),
         when(score > bestScore, lit(lang)).otherwise(bestLang))
    }._2
  }

  /** Document fingerprint: md5 of the whitespace-normalized, lowercased
    * text — the exact-dedup key (cheap, collision-safe at 100 TB far
    * beyond any realistic corpus size). */
  def fingerprint(c: Column): Column =
    md5(lower(regexp_replace(trim(c), "\\s+", " ")))

  /** Word n-gram shingles (distinct), the MinHash input unit. Empty
    * array when the document has fewer than n tokens. */
  def shingles(c: Column, n: Int): Column = {
    val t = tokens(c)
    when(size(t) >= n,
      array_distinct(transform(
        sequence(lit(0), size(t) - lit(n)),
        i => array_join(slice(t, i + 1, lit(n)), " "))))
      .otherwise(array().cast(ArrayType(StringType)))
  }

  /** Stable 60-bit token hash shared with the DuckDB oracle: first 15
    * hex chars of md5, base-16 → long. (Spark's murmur3 `hash()` has no
    * DuckDB twin; md5 does.) */
  def tokenHash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** BPE-ish subword segmentation regex (GPT-2-style pre-tokenizer
    * shape, lookahead-free so Java regex and RE2 agree): contraction
    * suffixes, space-prefixed letter runs, digit runs, punctuation
    * runs. Counts approximate BPE pre-token counts — the unit LLM
    * data budgets are measured in. */
  val BpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s']+"

  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit(BpePattern), lit(0)))
}
