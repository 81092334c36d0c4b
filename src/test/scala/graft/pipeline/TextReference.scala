package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The composed forms the native text kernels replaced, kept as the
  * references the specs compare the kernels with. */
object TextReference {

  /** Whitespace tokens by a regex edge trim and a regex split. Spark's
    * trim() removes only spaces, so the edges are trimmed with `\s`; an
    * empty or whitespace-only text gives no tokens, a null text null. */
  def regexTokens(text: Column): Column = {
    val t = regexp_replace(text, "^\\s+|\\s+$", "")
    when(length(t) > 0, split(t, "\\s+"))
      .otherwise(when(text.isNotNull, lit(Array.empty[String])))
  }

  /** Whitespace tokens as `filter(split(text, '\\s+'), t -> t <> '')`. */
  def filteredSplit(text: Column): Column = filter(split(text, "\\s+"), t => t =!= "")

  /** Word n-gram shingles (distinct) of a token array: each n-token window
    * joined by a space, or the whole array as one shingle when it has
    * fewer than n tokens. */
  def shinglesFromTokens(t: Column, n: Int): Column = {
    val wins = transform(sequence(lit(1), size(t) - (n - 1)),
      i => array_join(slice(t, i, lit(n)), " "))
    array_distinct(when(size(t) >= n, wins).otherwise(array(array_join(t, " "))))
  }

  /** The hashed-linear mills sum as an array-HOF fold over the tokens, with
    * the (length, first char, last char) key of the q_quality_classifier
    * oracle; `hashed_linear_mills` equals it on ASCII text. */
  def hofMills(text: Column, dims: Int): Column =
    aggregate(filteredSplit(text), lit(0L), (acc, t) => acc +
      (((length(t).cast("long") * 31 +
        ascii(substring(t, 1, 1)).cast("long") * 7 +
        ascii(substring(t, -1, 1)).cast("long")) % dims)
        * 2654435761L % 2147483648L) % 2001 - 1000)
}
