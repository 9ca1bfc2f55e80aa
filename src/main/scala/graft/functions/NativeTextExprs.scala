package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the text-fingerprinting hot path.
  *
  * These compute EXACTLY what the declarative higher-order-function
  * formulations in [[TextFunctions]] compute (same token split, same
  * per-UTF16-unit polynomial fold, same distinct-insertion order), but as
  * single compiled JVM loops per row. Spark evaluates HOF lambdas
  * interpreted (`CodegenFallback`), one virtual `eval` per expression
  * node per element — for a 100-token document, SimHash alone is ~25k
  * node evaluations. A native expression is one `eval` call running a
  * tight loop: the per-row constant factor drops by 1-2 orders of
  * magnitude, which at 100 TB is the difference between a dedup pass
  * that fits the cluster budget and one that doesn't.
  *
  * The reference hashes rows natively too (MurmurHash3 in
  * `/root/reference/arcon_util/src/lib.rs:1-12`); these expressions are
  * the Spark-idiomatic equivalent of that "hash in compiled code, not in
  * the query interpreter" stance. DuckDB-oracle parity is bit-exact:
  * integer-only arithmetic, ordered folds.
  *
  * All hot-path expressions implement `doGenCode` (a static call into
  * this object's forwarders), so projections using them stay INSIDE
  * whole-stage codegen instead of falling back to interpreted rows.
  */
object NativeText {
  /** Large prime modulus of every polynomial hash and the MinHash family
    * (fits products in i64: acc < P, acc*31 + 0x10FFFF < 2^63). */
  final val P: Long = 1000000007L

  /** Second fold (multiplier/modulus) for the LOW 31 bits of the 61-bit
    * simhash token hash: the mod-P fold alone is < 2^30, which left
    * signature bits 30-60 constant-zero — every Manku table drawn from
    * the dead region keyed the ENTIRE corpus into one bucket (the
    * banding scale-killer). M2/P2 fill bits 0..30; the mod-P fold fills
    * bits 31..60. Overflow-safe: acc < P2 < 2^31, acc*M2 < 2^51. */
  final val M2: Long = 1000003L
  final val P2: Long = 2147483647L // 2^31 - 1, prime

  /** `split(text, " ")` semantics: single-space separators, empty
    * segments kept (including leading/trailing). */
  def splitSpaces(s: String): Array[String] = s.split(" ", -1)

  /** Polynomial fold (acc*31 + UTF-16 unit) mod P — identical to the
    * `aggregate(split(s, ""), ...)` fold with `ascii` (which reads the
    * first UTF-16 unit; this corpus is BMP so units = codepoints). */
  def polyHash(s: String): Long = {
    var acc = 0L
    var i = 0
    while (i < s.length) {
      acc = (acc * 31L + s.charAt(i)) % P
      i += 1
    }
    acc
  }

  /** Distinct k-shingle hashes in first-occurrence order (the
    * `array_distinct` contract). The shingle hash folds the joined
    * "t1 t2 ... tk" string without materializing it. */
  def shingleHashes(s: String, k: Int): Array[Long] = {
    val toks = splitSpaces(s)
    if (toks.length < k) return Array.emptyLongArray
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i <= toks.length - k) {
      var acc = 0L
      var t = 0
      while (t < k) {
        if (t > 0) acc = (acc * 31L + ' ') % P
        val tok = toks(i + t)
        var c = 0
        while (c < tok.length) {
          acc = (acc * 31L + tok.charAt(c)) % P
          c += 1
        }
        t += 1
      }
      seen.add(acc)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    out
  }

  /** SimHash body shared by eval and generated code: single char scan,
    * token hashes accumulate inline at space boundaries (identical to
    * hashing `split(s, " ", -1)` segments; empty segments hash to 0 —
    * count but no bits). The 61-bit token hash packs the mod-P fold
    * into bits 31..60 and the M2/P2 fold into bits 0..30, so EVERY
    * signature bit carries signal (see [[M2]]). */
  def simHash(s: String): Long = {
    val len = s.length
    val counts = new Array[Int](61)
    var n = 0
    var acc1 = 0L
    var acc2 = 0L
    var i = 0
    while (i <= len) {
      if (i == len || s.charAt(i) == ' ') {
        n += 1
        val h = acc1 * (P2 + 1L) + acc2 // acc1·2^31 + acc2 < 2^62
        if (h != 0L) {
          var j = 0
          while (j < 61) {
            counts(j) += ((h >> j) & 1L).toInt
            j += 1
          }
        }
        acc1 = 0L
        acc2 = 0L
      } else {
        acc1 = (acc1 * 31L + s.charAt(i)) % P
        acc2 = (acc2 * M2 + s.charAt(i)) % P2
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 61) {
      if (2 * counts(j) > n) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** 61-bit average-hash (aHash) of a media byte stream — the
    * perceptual-hash primitive under image near-dup (dd15). The bytes
    * are average-pooled into 61 contiguous cells — the deterministic,
    * engine-replayable stand-in for a real decoder's grayscale
    * downscale grid (production swaps a real decode+8×8 pool in front;
    * the signature/banding contract is unchanged) — each cell =
    * floor(mean of its unsigned bytes) (empty cell = 0), and bit j is
    * set iff cell(j) > floor(mean of all cells). Pure integer math:
    * the DuckDB oracle replays it byte-for-byte over hex(blob). 61
    * bits, not 64, for the house signature packing ([[simHash]]): the
    * top bits stay clear so the signature survives signed-BIGINT
    * shifts in every engine. */
  def aHash61(b: Array[Byte]): Long = {
    val n = b.length
    val cells = new Array[Long](61)
    var total = 0L
    var j = 0
    while (j < 61) {
      val lo = (j.toLong * n / 61).toInt
      val hi = ((j + 1).toLong * n / 61).toInt
      var s = 0L
      var i = lo
      while (i < hi) { s += (b(i) & 0xff); i += 1 }
      cells(j) = if (hi > lo) s / (hi - lo) else 0L
      total += cells(j)
      j += 1
    }
    val mean = total / 61
    var sig = 0L
    j = 0
    while (j < 61) {
      if (cells(j) > mean) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** Set Jaccard |A∩B| / |A∪B| of two hash arrays. Duplicates inside
    * either input are deduplicated first (the `array_intersect` /
    * `array_distinct` semantics of the HOF twin), so the result is
    * correct for any input, not just pre-distinct ones. 0.0 when both
    * sides are empty. */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val aa = a.toLongArray()
    val bb = b.toLongArray()
    val setA = new java.util.HashSet[java.lang.Long](aa.length * 2)
    var i = 0
    while (i < aa.length) { setA.add(aa(i)); i += 1 }
    val seenB = new java.util.HashSet[java.lang.Long](bb.length * 2)
    var inter = 0
    var onlyB = 0
    var j = 0
    while (j < bb.length) {
      if (seenB.add(bb(j))) {
        if (setA.contains(bb(j))) inter += 1 else onlyB += 1
      }
      j += 1
    }
    val union = setA.size + onlyB
    if (union == 0) 0.0 else inter.toDouble / union.toDouble
  }

  /** Shingle hashes boxed for generated code. */
  def shingleArray(s: String, k: Int): GenericArrayData =
    new GenericArrayData(shingleHashes(s, k))

  /** Fraction of token-bigram occurrences held by the most frequent
    * bigram (Gopher-style repetition signal; "top 2-gram fraction").
    * Bigrams are compared by their polynomial hash — the same "w1 w2"
    * fold as [[shingleHashes]] with k=2, occurrences kept (no distinct).
    * 0.0 when the text has fewer than two tokens. */
  def topBigramFrac(s: String): Double = {
    val toks = splitSpaces(s)
    val n = toks.length - 1
    if (n <= 0) return 0.0
    val counts = new java.util.HashMap[java.lang.Long, Integer](n * 2)
    var max = 0
    var i = 0
    while (i < n) {
      var acc = 0L
      val t0 = toks(i)
      var c = 0
      while (c < t0.length) { acc = (acc * 31L + t0.charAt(c)) % P; c += 1 }
      acc = (acc * 31L + ' ') % P
      val t1 = toks(i + 1)
      c = 0
      while (c < t1.length) { acc = (acc * 31L + t1.charAt(c)) % P; c += 1 }
      val cnt = counts.merge(acc, 1, (a, b) => a + b)
      if (cnt > max) max = cnt
      i += 1
    }
    max.toDouble / n.toDouble
  }
}

/** `polyHash(text)` as one compiled loop, fused into WSCG. */
case class PolyHashExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    NativeText.polyHash(input.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NativeText.polyHash($c.toString())")
  override protected def withNewChildInternal(newChild: Expression): PolyHashExpr =
    copy(child = newChild)
}

/** Distinct k-shingle polynomial hashes (MinHash / Jaccard input).
  *
  * Deliberately CodegenFallback: this expression feeds join-side
  * projections (dd2/dd4), and whole-stage codegen evaluates stream-side
  * expressions LAZILY inside the join's match loop — fusing it would
  * recompute the shingles once per matched pair (~200×/row in dd4,
  * measured 2.4× slower end-to-end). The fallback keeps an interpreted
  * Project that materializes the array once per input row before the
  * join; the eval itself is still the native single-pass loop. */
case class ShingleHashesExpr(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    NativeText.shingleArray(input.asInstanceOf[UTF8String].toString, k)
  override protected def withNewChildInternal(newChild: Expression): ShingleHashesExpr =
    copy(child = newChild)
}

/** 61-bit SimHash: majority vote of each bit over all token hashes —
  * the single-char-scan body in [[NativeText.simHash]], fused into
  * WSCG. */
case class SimHashExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    NativeText.simHash(input.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NativeText.simHash($c.toString())")
  override protected def withNewChildInternal(newChild: Expression): SimHashExpr =
    copy(child = newChild)
}

/** binary media → 61-bit average-hash ([[NativeText.aHash61]]); one
  * compiled loop per row, inside whole-stage codegen. */
case class AHash61Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    NativeText.aHash61(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NativeText.aHash61($c)")
  override protected def withNewChildInternal(newChild: Expression): AHash61Expr =
    copy(child = newChild)
}

/** text → shingles → MinHash signature → per-band poly-fold keys, one
  * pass; null for texts with no shingles (empty docs never band-match —
  * same contract as `array_min` over an empty array). The library's one
  * Scala home of the MinHash family — signature element i is the min
  * over shingle hashes h of (h·(2i+1) + 7919i + 13) mod P — and of the
  * band-parameter check every MinHash operator relies on (the oracle
  * SQL's twin is `OracleSql.bandSql`). */
case class MinHashBandKeysExpr(child: Expression, k: Int, numHashes: Int, bands: Int)
    extends UnaryExpression with CodegenFallback {
  require(numHashes % bands == 0, "bands must divide numHashes")
  private val rows = numHashes / bands
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any = {
    val hs = NativeText.shingleHashes(input.asInstanceOf[UTF8String].toString, k)
    if (hs.isEmpty) return null
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var x = 0
    while (x < hs.length) {
      val h = hs(x)
      var i = 0
      while (i < numHashes) {
        val v = (h * (2L * i + 1L) + (7919L * i + 13L)) % NativeText.P
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      x += 1
    }
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = 0L
      var r = 0
      while (r < rows) {
        acc = (acc * 31L + mins(b * rows + r)) % NativeText.P
        r += 1
      }
      keys(b) = acc
      b += 1
    }
    new GenericArrayData(keys)
  }
  override protected def withNewChildInternal(newChild: Expression): MinHashBandKeysExpr =
    copy(child = newChild)
}

/** Top-bigram occurrence fraction ([[NativeText.topBigramFrac]]): one
  * compiled pass + hash-count per row, fused into WSCG (scan-side
  * scalar — no join-side lazy-eval hazard). The HOF twin is O(n²) per
  * row and exists only as the parity-test specification. */
case class TopBigramFracExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(input: Any): Any =
    NativeText.topBigramFrac(input.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NativeText.topBigramFrac($c.toString())")
  override protected def withNewChildInternal(newChild: Expression): TopBigramFracExpr =
    copy(child = newChild)
}

/** Set Jaccard |A∩B| / |A∪B| of two hash arrays (duplicate-safe — see
  * [[NativeText.jaccard]]). Fused into WSCG: it only ever runs per
  * candidate PAIR (post-join verify), so the codegen lazy-eval hazard
  * that keeps [[ShingleHashesExpr]] interpreted does not apply here. */
case class JaccardShinglesExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    NativeText.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.NativeText.jaccard($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): JaccardShinglesExpr =
    copy(left = newLeft, right = newRight)
}
