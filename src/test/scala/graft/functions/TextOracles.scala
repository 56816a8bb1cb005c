package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The compositional Column forms that the native text expressions in
  * `org.apache.spark.sql.graft` replaced, kept as the oracles those
  * expressions are tested against. */
object TextOracles {

  /** [[TextOps.stopwordCount]]: ` w ` occurrences over the space-padded
    * normalized text, one `replace` count per word. */
  def stopwordCount(text: Column, stopwords: Seq[String]): Column = {
    val padded = concat(lit(" "), TextOps.normalize(text), lit(" "))
    stopwords.map(w => TextOps.occurrences(padded, s" $w "))
      .reduce(_ + _)
  }

  /** [[TextOps.languageId]]: a fold over the profiles keeping
    * (bestLang, bestScore), replaced only on a strictly greater score. */
  def languageId(text: Column,
      profiles: Seq[(String, Seq[String])] = TextOps.defaultProfiles)
      : Column = {
    val scored = profiles.map { case (lang, words) =>
      (lang, TextOps.languageScore(text, words)) }
    scored.tail.foldLeft(
      struct(lit(scored.head._1).as("lang"), scored.head._2.as("score"))) {
      case (acc, (lang, score)) =>
        when(score > acc.getField("score"),
          struct(lit(lang).as("lang"), score.as("score"))).otherwise(acc)
    }.getField("lang")
  }

  /** [[TextOps.tokenCount]]: the pieces of a regex split. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(split(trim(text), "\\s+")).cast("long"))

  /** The non-whitespace characters of `trim(text)`. */
  def nonWsChars(text: Column): Column =
    length(regexp_replace(trim(text), "\\s+", ""))

  /** [[TextOps.meanWordLen]]. */
  def meanWordLen(text: Column): Column =
    floor(nonWsChars(text).cast("double") * 100 / tokenCount(text))
      .cast("double") / 100
}
