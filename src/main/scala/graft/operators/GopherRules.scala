package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{GopherKernel, GopherOut, TextFunctions}

/** The Gopher quality-filter rule battery ("Scaling Language Models:
  * Methods, Analysis & Insights from Training Gopher", Rae et al. 2021,
  * Table A1) — the canonical document-level pretraining filter:
  *
  *  - word count within [minWords, maxWords];
  *  - mean word length within [3, 10] (code points, like Spark's
  *    `length`);
  *  - ≥ 80% of words contain at least one `a-z` letter;
  *  - at least 2 distinct "required" stopwords present (the Gopher
  *    stopword-presence rule, with this library's English function-word
  *    list standing in for Gopher's {the, be, to, of, and, that, have,
  *    with});
  *  - top n-gram character fraction ≤ {0.20, 0.18, 0.16} for n = 2,3,4;
  *  - duplicated n-gram character fraction ≤ {0.15, …, 0.10} for
  *    n = 5..10.
  *
  * Gopher's remaining rules are line-based (bullet-start / ellipsis-end
  * ratios) or symbol-based (#, …); this corpus is single-line lowercase
  * [a-z ] text, so those rules are identically-true and deliberately
  * omitted rather than carried as dead columns.
  *
  * One pass for all statistics: every rule reads the same compiled
  * kernel ([[graft.functions.GopherKernel]]), which tokenizes each row
  * once and derives the quality statistics and all nine n-gram
  * fractions from that tokenization. The n-gram fractions are char-MASS
  * fractions (occurrences · gram length / doc length, the
  * NeMo-Curator/Dolma reading), with lengths in UTF-16 units; the mean
  * word length counts code points. The two agree on BMP text. The
  * DuckDB oracle restates every statistic from list primitives.
  *
  * Scale shape: a pure NARROW projection — no shuffle, no join, no
  * aggregate; the kernel runs inside whole-stage codegen, so the filter
  * streams through executors at scan speed however large the corpus.
  */
object GopherRules {

  /** (n, threshold) for the top-n-gram char-fraction rules. */
  val topNgramMax: Seq[(Int, Double)] = GopherKernel.topNgramMax

  /** (n, threshold) for the duplicated-n-gram char-fraction rules. */
  val dupNgramMax: Seq[(Int, Double)] = GopherKernel.dupNgramMax

  /** The quality-family verdict (word count / word shape / alpha words
    * / stopword presence) as a tri-state column (null for null text). */
  def passQuality(t: Column, minWords: Long = 50L,
      maxWords: Long = 100000L): Column =
    TextFunctions.gopher(t, GopherOut.Verdict(quality = true, repetition = false,
      minWords, maxWords))

  /** The repetition-family verdict (all 9 n-gram char-mass rules) as a
    * tri-state column (null for null text). */
  def passRepetition(t: Column): Column =
    TextFunctions.gopher(t, GopherOut.Verdict(quality = false, repetition = true,
      0L, 0L))

  /** The overall keep gate as a single boolean column (false for null
    * text) — the composable form pipeline filters use without carrying
    * the full report. One kernel call per row; a row stops at its first
    * failing rule. */
  def keep(t: Column, minWords: Long = 50L, maxWords: Long = 100000L): Column =
    coalesce(TextFunctions.gopher(t, GopherOut.Verdict(quality = true,
      repetition = true, minWords, maxWords)), lit(false))

  /** Per-document rule report: every statistic, the two rule-family
    * verdicts, and the overall keep flag. Null texts fail everything
    * (`keep = false`, stats null) — a null document is not trainable.
    *
    * @return (idCol, n_tokens, mean_tok_len, alpha_word_frac,
    *         stop_hits, top{2,3,4}gram_frac, dup{5..10}gram_frac,
    *         pass_quality, pass_repetition, keep)
    */
  def report(df: DataFrame, idCol: String, textCol: String,
      minWords: Long = 50L, maxWords: Long = 100000L): DataFrame = {
    // the kernel's struct is staged as a REAL projected column: a
    // multi-use non-cheap alias is not re-inlined by CollapseProject,
    // so the kernel runs once per row and every output column is a
    // field read
    val stCol = "__gr_stats"
    val st = col(stCol)
    val passQ = st.getField("pass_quality")
    val passR = st.getField("pass_repetition")
    val stats = GopherKernel.statsType.fieldNames
      .filterNot(n => n == "pass_quality" || n == "pass_repetition")
    df.select(col("*"),
      TextFunctions.gopher(col(textCol), GopherOut.Stats(minWords, maxWords)).as(stCol))
      .select(
        (col(idCol) +: stats.toSeq.map(n => st.getField(n).as(n))) ++
          Seq(
            coalesce(passQ, lit(false)).as("pass_quality"),
            coalesce(passR, lit(false)).as("pass_repetition"),
            coalesce(passQ && passR, lit(false)).as("keep")): _*)
  }
}
