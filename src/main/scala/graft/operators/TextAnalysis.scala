package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. All pure
  * Column expressions (codegen'd, cross-engine replicable for oracles).
  */
object TextAnalysis {

  /** Marker stopwords per language for the n-gram-heuristic language ID.
    * Deliberately tiny and deterministic: score = number of marker-word
    * occurrences; argmax wins, 'und' (undetermined) when all zero. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of"),
    "de" -> Seq("der", "und", "die"),
    "fr" -> Seq("le", "et", "les"),
    "es" -> Seq("el", "y", "los"),
    "zh" -> Seq("de5", "shi4", "le5")) // pinyin-ish markers for synthetic data

  /** All marker words in a fixed global order; langScore indexes into one
    * shared [[graft.functions.WordCounts]] array per row. */
  private val allMarkers: Seq[String] =
    Seq("en", "de", "fr", "es", "zh").flatMap(langMarkers)

  /** Marker-hit counts for the whole bank in ONE codegen'd text scan.
    * The per-marker `size(filter(split(lower(text)),...))` formulation
    * this replaces evaluated 15 interpreted HOF lambdas (and 15 regex
    * splits) per row; identical token semantics, see WordCounts scaladoc.
    * Catalyst's subexpression elimination collapses the repeated calls
    * from the 5 langScore columns into a single evaluation. */
  private def markerCounts(text: Column): Column =
    graft.functions.WordCounts(text, allMarkers)

  def langScore(text: Column, lang: String): Column =
    langMarkers(lang).map(w => element_at(markerCounts(text), allMarkers.indexOf(w) + 1))
      .reduce(_ + _).cast(IntegerType)

  /** Heuristic language ID: argmax of marker scores (ties broken by the
    * fixed language order below; all-zero => 'und'). */
  def langId(text: Column): Column = {
    val langs = Seq("en", "de", "fr", "es", "zh")
    val scores = langs.map(l => langScore(text, l))
    val best = scores.reduce((a, b) => greatest(a, b))
    langs.zip(scores).foldRight(lit("und")) { case ((l, s), acc) =>
      when(s === best && best > 0, lit(l)).otherwise(acc)
    }
  }

  /** Quality signals: length, word count, mean word length, punctuation
    * ratio, stopword ratio, uppercase ratio — the usual pre-training
    * filters (C4/Gopher-style rules), as one struct column. */
  def qualitySignals(text: Column): Column = {
    val words = split(text, "\\s+")
    val nChars = length(text)
    val nWords = size(words)
    val nPunct = length(text) - length(regexp_replace(text, "[\\.,;:!\\?]", ""))
    val stop = Seq("the", "and", "of", "a", "to", "in")
    // one codegen'd scan for all 6 stopwords (was: interpreted
    // filter(transform(...)) HOFs), summed without HOFs — fixed length
    val stopCounts = graft.functions.WordCounts(text, stop)
    val nStop = stop.indices.map(i => element_at(stopCounts, i + 1)).reduce(_ + _)
    struct(
      nChars.as("n_chars"),
      nWords.as("n_words"),
      (nChars.cast(DoubleType) / nWords).as("mean_word_len"),
      (nPunct.cast(DoubleType) / nChars).as("punct_ratio"),
      (nStop.cast(DoubleType) / nWords).as("stopword_ratio"))
  }

  /** Composite quality score in [0,1] from the signals (clipped linear
    * rules: prefer 20-2000 words, some stopwords, low punctuation). */
  def qualityScore(text: Column): Column = {
    val s = qualitySignals(text)
    val lenOk = when(s("n_words").between(20, 2000), 1.0).otherwise(0.5)
    val stopOk = when(s("stopword_ratio") > 0.01, 1.0).otherwise(0.6)
    val punctOk = when(s("punct_ratio") < 0.1, 1.0).otherwise(0.7)
    round(lenOk * stopOk * punctOk, 4)
  }

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column = size(split(text, "\\s+"))

  /** BPE-ish token count: alpha runs, digit runs, and single
    * non-space symbols each count as one token (a cheap, deterministic
    * stand-in for a real BPE vocab — same regex both engines). */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Content-normalized fingerprint: md5 of the sorted distinct word
    * set — robust to word order / duplication, cross-engine replicable.
    * sort_array, not array_sort: identical on null-free input (split
    * never yields null elements) and carries no comparator lambda —
    * array_sort's default comparator is a LambdaFunction, interpreted
    * per comparison. */
  def bagOfWordsFingerprint(text: Column): Column =
    md5(array_join(sort_array(array_distinct(split(lower(text), "\\s+"))), " "))
}
