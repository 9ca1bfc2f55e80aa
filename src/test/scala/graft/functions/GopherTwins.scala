package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.operators.GopherRules

/** Declarative (HOF) twins of the Gopher gate — the executable
  * specification [[GopherKernel]] is parity-tested against. Every
  * statistic is the Spark-SQL expression it replaced: the token array
  * is [[TextFunctions.bind]]-bound once, the n-gram rules use
  * [[HofTwins.ngramCharFracHof]]. */
object GopherTwins {

  /** Quality family: word count, mean word length, alpha-word share,
    * distinct stopword presence; tri-state (null for null text). */
  def passQuality(t: Column, minWords: Long = 50L, maxWords: Long = 100000L): Column =
    TextFunctions.bind(TextFunctions.tokens(t), ts =>
      size(ts).cast("long").between(minWords, maxWords) &&
        TextFunctions.meanTokenLenOf(ts).between(3.0, 10.0) &&
        (size(filter(ts, w => w.rlike("[a-z]"))).cast("double") /
          size(ts).cast("double") >= 0.8) &&
        (size(filter(
          array(TextFunctions.stopwords.toMap.apply("en").map(lit): _*),
          sw => array_contains(ts, sw))).cast("long") >= 2L))

  /** Repetition family: the nine n-gram char-mass rules. */
  def passRepetition(t: Column): Column =
    (GopherRules.topNgramMax.map { case (n, thr) =>
      HofTwins.ngramCharFracHof(t, n, dup = false) <= thr } ++
      GopherRules.dupNgramMax.map { case (n, thr) =>
        HofTwins.ngramCharFracHof(t, n, dup = true) <= thr })
      .reduce(_ && _)

  /** The keep gate: false for null text. */
  def keep(t: Column, minWords: Long = 50L, maxWords: Long = 100000L): Column =
    coalesce(passQuality(t, minWords, maxWords) && passRepetition(t), lit(false))
}
