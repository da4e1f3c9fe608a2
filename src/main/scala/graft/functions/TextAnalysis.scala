package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** [EXT] Text-analysis operators for training-data pipelines: language
  * ID (marker-word heuristic), quality scoring (length/stopword/digit
  * ratios), token counting (whitespace + regex token classes), and
  * document fingerprinting (polynomial rolling hash).
  *
  * Everything is deterministic, built-in-function-only (codegen'd, no
  * UDFs), and arithmetic is written in the exact order the DuckDB
  * oracles use, so results match bit-for-bit.
  */
object TextAnalysis {

  /** Marker stopwords per language, priority order for ties. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "de", "y", "es"),
    "fr" -> Seq("le", "la", "et", "les", "est"))

  /** Predicted language: argmax of marker hits over distinct words,
    * fixed priority on ties, 'und' (undetermined) when no marker hits.
    */
  def langPred(textCol: Column): Column = {
    val words = split(textCol, " ")
    val scores = LangMarkers.map { case (lang, markers) =>
      lang -> size(array_intersect(words, array(markers.map(lit): _*)))
    }
    val allLangs = scores.map(_._1)
    scores.foldRight(lit("und"): Column) { case ((lang, score), elseCol) =>
      val geAll = allLangs.filter(_ != lang)
        .map(o => score >= scores.toMap.apply(o))
        .reduce(_ && _)
      when(geAll && score > 0, lit(lang)).otherwise(elseCol)
    }
  }

  /** English-ish stopword ratio over all word occurrences. */
  val QualityStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "is", "to", "in")

  def stopwordRatio(textCol: Column): Column = {
    val words = split(textCol, " ")
    val stops = array(QualityStopwords.map(lit): _*)
    size(filter(words, w => array_contains(stops, w))).cast("double") /
      size(words)
  }

  def digitRatio(textCol: Column): Column =
    length(regexp_replace(textCol, "[^0-9]", "")).cast("double") /
      length(textCol)

  /** Composite quality score in [0,1]: high stopword presence, a
    * not-too-short document, and few digits. Fixed evaluation order for
    * oracle parity. */
  def qualityScore(textCol: Column): Column = {
    val nWords = size(split(textCol, " "))
    round(
      lit(0.4) * stopwordRatio(textCol) +
        lit(0.3) * least(nWords.cast("double") / 100.0, lit(1.0)) +
        lit(0.3) * (lit(1.0) - digitRatio(textCol)), 6)
  }

  /** Whitespace token count. */
  def wsTokens(textCol: Column): Column = size(split(textCol, " "))

  /** BPE-ish token estimate: letter runs, digit runs, and single
    * non-alphanumeric marks each count as one token. */
  val TokenPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"
  def regexTokens(textCol: Column): Column =
    regexp_count(textCol, lit(TokenPattern))

  /** Polynomial rolling-hash fingerprint over code points:
    * fold(acc*31 + codepoint) mod 2147483647 — exact integer
    * arithmetic, identical in any engine with a left fold. Compiled
    * kernel ([[DedupKernels.rollingHash]]): the HOF form split every
    * row into single-char strings and folded them interpreted.
    * The session must be built with
    * [[graft.plans.GraftSparkExtensions]]. */
  val FpMod = 2147483647L
  def fingerprint(colName: String): Column =
    expr(s"graft_rolling_hash($colName)")
}
