package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** The Gopher quality-filter battery ("Scaling Language Models:
  * Methods, Analysis & Insights from Training Gopher", Rae et al. 2021,
  * Table A1) as data: the thresholds [[GopherKernel]] checks and the
  * row type it reports. [[graft.operators.GopherRules]] is the
  * user-facing operator over it.
  */
object GopherKernel {

  /** (n, max) for the top-n-gram char-mass rules. */
  val topNgramMax: Seq[(Int, Double)] =
    Seq(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)

  /** (n, max) for the duplicated-n-gram char-mass rules. */
  val dupNgramMax: Seq[(Int, Double)] =
    Seq(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11, 10 -> 0.10)

  /** Word-shape rules of the quality family: mean token length (code
    * points) in [MinMeanLen, MaxMeanLen], at least MinAlphaShare of the
    * tokens contain an `a-z` letter, at least MinStopHits distinct
    * English stopwords ([[TextFunctions.stopwords]]) occur as tokens. */
  final val MinMeanLen = 3.0
  final val MaxMeanLen = 10.0
  final val MinAlphaShare = 0.8
  final val MinStopHits = 2

  private val stops: Array[String] = TextFunctions.stopwords.toMap.apply("en").toArray
  private val maxStopLen: Int = stops.map(_.length).max

  // the nine repetition rules in report order: top 2..4, then dup 5..10
  private val ruleN: Array[Int] = (topNgramMax ++ dupNgramMax).map(_._1).toArray
  private val ruleDup: Array[Boolean] =
    (topNgramMax.map(_ => false) ++ dupNgramMax.map(_ => true)).toArray
  private val ruleMax: Array[Double] = (topNgramMax ++ dupNgramMax).map(_._2).toArray

  /** Row type of [[GopherOut.Stats]]: every statistic in report order,
    * then the two rule-family verdicts. */
  val statsType: StructType = StructType(
    Seq(StructField("n_tokens", LongType, nullable = false),
      StructField("mean_tok_len", DoubleType, nullable = false),
      StructField("alpha_word_frac", DoubleType, nullable = false),
      StructField("stop_hits", LongType, nullable = false)) ++
      topNgramMax.map { case (n, _) =>
        StructField(s"top${n}gram_frac", DoubleType, nullable = false) } ++
      dupNgramMax.map { case (n, _) =>
        StructField(s"dup${n}gram_frac", DoubleType, nullable = false) } ++
      Seq(StructField("pass_quality", BooleanType, nullable = false),
        StructField("pass_repetition", BooleanType, nullable = false)))
}

/** One pass of the Gopher battery over a document: the text is
  * tokenized once (`split(text, " ")` semantics: single-space
  * separators, empty tokens kept), and every statistic comes from that
  * one tokenization.
  *
  *  - Quality statistics (token count, mean token length, alpha-word
  *    share, distinct stopword hits) are gathered in the tokenizing
  *    scan. Token length is in code points, like Spark's `length`.
  *  - N-gram char-mass fractions read each gram's polynomial hash off
  *    prefix hashes of the text (P = 1e9+7, so `prefix · 31^len` fits
  *    in a long): a gram spanning [a, b) hashes to
  *    `pre(b) − pre(a) · 31^(b−a) mod P`, the same value as folding
  *    `acc·31 + unit` over the joined "w1 … wn" string. Grams key on
  *    `((hash·31 + len) mod P) · 2²⁰ + min(len, 2²⁰ − 1)`, the key the
  *    HOF twin and the DuckDB oracle use (so a hash collision, if one
  *    ever fired, merges identically in all three), and are counted in
  *    one primitive open-addressing table reused across n and rows.
  *    Gram and document lengths here are UTF-16 units; the two
  *    conventions agree on BMP text.
  *
  * A char-mass fraction is occurrences(g) · len(g) over the document
  * length: the most frequent gram's mass (`dup = false`, "fraction of
  * characters in the top n-gram") or the summed mass of grams occurring
  * at least twice (`dup = true`, "fraction of characters in duplicated
  * n-grams", all occurrences counted — the NeMo-Curator/Dolma reading).
  * It is NOT clamped to [0, 1]: overlapping occurrences each count their
  * full span, so "a a a a" under bigrams scores above 1. Treat it as a
  * repetition score; the thresholds sit at ≤ 0.2 where overlap inflation
  * is immaterial. 0.0 for an empty text or fewer than n tokens.
  *
  * Not thread-safe: generated code holds one kernel per task, and
  * scratch arrays grow to the longest document that task has seen.
  */
final class GopherKernel {
  import GopherKernel._
  import NativeText.P

  private[this] var s: String = ""
  private[this] var len = 0
  // token i spans [starts(i), starts(i + 1) - 1); starts(nTok) = len + 1
  private[this] var starts = new Array[Int](64)
  private[this] var nTok = 0
  private[this] var cpSum = 0L
  private[this] var alphaToks = 0
  private[this] var stopMask = 0
  // pre(i) = hash of s[0, i); pow(k) = 31^k mod P
  private[this] var pre = new Array[Long](256)
  private[this] var pow = Array(1L)
  private[this] var hashed = false
  // gram table: slot i is live for the current n iff stamp(i) == gen
  private[this] var keys = new Array[Long](64)
  private[this] var counts = new Array[Int](64)
  private[this] var lens = new Array[Int](64)
  private[this] var stamp = new Array[Int](64)
  private[this] var gen = 0
  private[this] var topMass = 0L
  private[this] var dupMass = 0L

  /** One n-gram char-mass fraction of `text`. */
  def frac(text: String, n: Int, dup: Boolean): Double = {
    scan(text)
    ngramFrac(n, dup)
  }

  /** The quality-family verdict (if `quality`) AND the repetition-family
    * verdict (if `repetition`); rules are checked in battery order and
    * the first failing one ends the row. */
  def verdict(text: String, quality: Boolean, repetition: Boolean,
      minWords: Long, maxWords: Long): Boolean = {
    scan(text)
    (!quality || passQuality(minWords, maxWords)) && (!repetition || passRepetition())
  }

  /** Every statistic and both family verdicts as a [[statsType]] row. */
  def stats(text: String, minWords: Long, maxWords: Long): InternalRow = {
    scan(text)
    val out = new Array[Any](statsType.length)
    out(0) = nTok.toLong
    out(1) = meanLen
    out(2) = alphaShare
    out(3) = Integer.bitCount(stopMask).toLong
    var passR = true
    var r = 0
    while (r < ruleN.length) {
      val f = ngramFrac(ruleN(r), ruleDup(r))
      out(4 + r) = f
      passR = passR && f <= ruleMax(r)
      r += 1
    }
    out(4 + r) = passQuality(minWords, maxWords)
    out(5 + r) = passR
    new GenericInternalRow(out)
  }

  private def meanLen: Double = cpSum.toDouble / nTok.toDouble
  private def alphaShare: Double = alphaToks.toDouble / nTok.toDouble

  private def passQuality(minWords: Long, maxWords: Long): Boolean = {
    val mean = meanLen
    nTok.toLong >= minWords && nTok.toLong <= maxWords &&
      mean >= MinMeanLen && mean <= MaxMeanLen &&
      alphaShare >= MinAlphaShare &&
      Integer.bitCount(stopMask) >= MinStopHits
  }

  private def passRepetition(): Boolean = {
    var r = 0
    while (r < ruleN.length) {
      if (!(ngramFrac(ruleN(r), ruleDup(r)) <= ruleMax(r))) return false
      r += 1
    }
    true
  }

  /** Tokenize `text` and gather the quality statistics. */
  private def scan(text: String): Unit = {
    s = text
    len = text.length
    hashed = false
    nTok = 0
    alphaToks = 0
    stopMask = 0
    var tokStart = 0
    var alpha = false
    var i = 0
    while (i <= len) {
      if (i == len || text.charAt(i) == ' ') {
        if (nTok + 2 > starts.length)
          starts = java.util.Arrays.copyOf(starts, starts.length * 2)
        starts(nTok) = tokStart
        nTok += 1
        if (alpha) alphaToks += 1
        val tl = i - tokStart
        if (tl <= maxStopLen) {
          var j = 0
          while (j < stops.length) {
            if (stops(j).length == tl && text.regionMatches(tokStart, stops(j), 0, tl))
              stopMask |= 1 << j
            j += 1
          }
        }
        tokStart = i + 1
        alpha = false
      } else {
        val c = text.charAt(i)
        if (c >= 'a' && c <= 'z') alpha = true
      }
      i += 1
    }
    starts(nTok) = len + 1
    // separators are single code points outside every token
    cpSum = text.codePointCount(0, len) - (nTok - 1)
  }

  private def hashPrefixes(): Unit = {
    if (pre.length <= len) pre = new Array[Long](math.max(len + 1, pre.length * 2))
    if (pow.length <= len) {
      var k = pow.length
      pow = java.util.Arrays.copyOf(pow, math.max(len + 1, pow.length * 2))
      while (k < pow.length) { pow(k) = pow(k - 1) * 31L % P; k += 1 }
    }
    var acc = 0L
    var i = 0
    while (i < len) {
      acc = (acc * 31L + s.charAt(i)) % P
      i += 1
      pre(i) = acc
    }
    hashed = true
  }

  private def ngramFrac(n: Int, dup: Boolean): Double =
    if (len == 0) 0.0
    else {
      countGrams(n)
      (if (dup) dupMass else topMass).toDouble / len.toDouble
    }

  /** Count the n-grams of the scanned text; sets [[topMass]] (largest
    * occurrences · length) and [[dupMass]] (summed mass of grams seen
    * at least twice). A gram's length is the one seen first under its
    * key. */
  private def countGrams(n: Int): Unit = {
    topMass = 0L
    dupMass = 0L
    val m = nTok - n + 1
    if (m <= 0) return
    if (!hashed) hashPrefixes()
    val cap = Integer.highestOneBit(math.max(m, 8)) * 4
    if (keys.length < cap) {
      keys = new Array[Long](cap)
      counts = new Array[Int](cap)
      lens = new Array[Int](cap)
      stamp = new Array[Int](cap)
      gen = 0
    }
    if (gen == Int.MaxValue) {
      java.util.Arrays.fill(stamp, 0)
      gen = 0
    }
    gen += 1
    val mask = cap - 1
    var i = 0
    while (i < m) {
      val a = starts(i)
      val gl = starts(i + n) - 1 - a
      var h = pre(a + gl) - pre(a) * pow(gl) % P
      if (h < 0) h += P
      val key = ((h * 31L + gl) % P) * (1L << 20) + math.min(gl, (1 << 20) - 1)
      val x = key * 0x9E3779B97F4A7C15L
      var slot = (x ^ (x >>> 32)).toInt & mask
      while (stamp(slot) == gen && keys(slot) != key) slot = (slot + 1) & mask
      val mass =
        if (stamp(slot) != gen) {
          stamp(slot) = gen
          keys(slot) = key
          counts(slot) = 1
          lens(slot) = gl
          gl.toLong
        } else {
          val c = counts(slot) + 1
          counts(slot) = c
          val l = lens(slot).toLong
          dupMass += (if (c == 2) 2L * l else l)
          c * l
        }
      if (mass > topMass) topMass = mass
      i += 1
    }
  }
}

/** What one row of [[GopherExpr]] yields. */
sealed trait GopherOut extends Serializable

object GopherOut {
  /** One n-gram char-mass fraction: the top n-gram's (`dup = false`) or
    * the duplicated n-grams' (`dup = true`). */
  final case class NgramFrac(n: Int, dup: Boolean) extends GopherOut {
    require(n >= 1, "n must be >= 1")
  }

  /** The quality-family verdict (token count in [minWords, maxWords]
    * plus the word-shape rules), if `quality`, AND the nine n-gram
    * rules, if `repetition`. */
  final case class Verdict(quality: Boolean, repetition: Boolean,
      minWords: Long, maxWords: Long) extends GopherOut

  /** Every statistic and both family verdicts, as a
    * [[GopherKernel.statsType]] struct. */
  final case class Stats(minWords: Long, maxWords: Long) extends GopherOut
}

/** The Gopher battery ([[GopherKernel]]) as one Catalyst expression over
  * a text column: null for null text, else what `out` selects. It
  * implements `doGenCode`, so a gate `Filter` or a report projection
  * fuses into whole-stage codegen; the generated class holds one
  * kernel (and its scratch) per task. */
case class GopherExpr(child: Expression, out: GopherOut) extends UnaryExpression {
  override def prettyName: String = "gopher"
  override def dataType: DataType = out match {
    case _: GopherOut.NgramFrac => DoubleType
    case _: GopherOut.Verdict => BooleanType
    case _: GopherOut.Stats => GopherKernel.statsType
  }
  override protected def nullSafeEval(input: Any): Any = {
    val k = new GopherKernel
    val text = input.toString
    out match {
      case GopherOut.NgramFrac(n, dup) => k.frac(text, n, dup)
      case GopherOut.Verdict(q, r, lo, hi) => k.verdict(text, q, r, lo, hi)
      case GopherOut.Stats(lo, hi) => k.stats(text, lo, hi)
    }
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[GopherKernel].getName
    val k = ctx.addMutableState(cls, "gopher", v => s"$v = new $cls();")
    val call: String => String = out match {
      case GopherOut.NgramFrac(n, dup) => c => s"$k.frac($c.toString(), $n, $dup)"
      case GopherOut.Verdict(q, r, lo, hi) =>
        c => s"$k.verdict($c.toString(), $q, $r, ${lo}L, ${hi}L)"
      case GopherOut.Stats(lo, hi) => c => s"$k.stats($c.toString(), ${lo}L, ${hi}L)"
    }
    defineCodeGen(ctx, ev, call)
  }
  override protected def withNewChildInternal(newChild: Expression): GopherExpr =
    copy(child = newChild)
}
