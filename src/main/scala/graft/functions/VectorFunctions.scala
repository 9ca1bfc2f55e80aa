package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns, built from codegen'd
  * higher-order functions (`zip_with`/`aggregate`) — no UDFs, no Python.
  *
  * Determinism contract: all reductions are ORDERED left folds in double
  * precision (`aggregate` folds the array left-to-right), so results are
  * bit-reproducible across partitionings, engines, and runs — unlike a
  * shuffle-order-dependent `sum()`. That is what makes the similarity
  * queries oracle-checkable, and at scale it costs nothing: the fold is a
  * tight per-row loop inside whole-stage codegen.
  */
object VectorFunctions {

  /** Elementwise products in double precision, in index order. */
  private def products(a: Column, b: Column): Column =
    zip_with(a, b, (x, y) => x.cast("double") * y.cast("double"))

  /** Ordered-fold dot product: fold(products, 0.0, +). */
  def dot(a: Column, b: Column): Column =
    aggregate(products(a, b), lit(0.0), (acc, v) => acc + v)

  /** L2 norm (IEEE sqrt of the ordered self-dot — bit-deterministic). */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  private def ncol(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(e)
  private def nexpr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)

  /** Cosine similarity = dot / (||a|| * ||b||). Native expression
    * ([[CosineExpr]]: the three ordered folds in one compiled loop). */
  def cosine(a: Column, b: Column): Column =
    ncol(CosineExpr(nexpr(a), nexpr(b)))

  /** Squared L2 distance, ordered fold. */
  def l2Sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double"); d * d
    }), lit(0.0), (acc, v) => acc + v)

  /** Scale a float vector by a constant (exact for powers of two). */
  def scale(a: Column, k: Float): Column =
    transform(a, x => (x * lit(k)).cast("float"))

  /** Sign-of-dot-product bit for one deterministic pseudo-random
    * hyperplane — the random-hyperplane LSH primitive. Hyperplane
    * component j of plane p derives from a QUADRATICALLY-mixed integer
    * sequence so any engine can reproduce it, with idx = p·dim + j + 1:
    *   c(p, j) = ((idx² mod 1000003)·427799 + idx·653 + 7919) mod 1000003
    *             / 1000003 − 0.5
    * (non-linear in idx on purpose — a linear form makes the planes
    * windows of one sequence and collapses signature entropy; see
    * [[graft.functions.NativeVector.lshSignature]]). */
  def hyperplaneBit(a: Column, plane: Int, dim: Int): Column = {
    val prods = (0 until dim).map { j =>
      val idx = plane.toLong * dim + j + 1
      val c = ((idx * idx % 1000003L * 427799L + idx * 653L + 7919L)
        % 1000003L).toDouble / 1000003.0 - 0.5
      element_at(a, j + 1).cast("double") * lit(c)
    }
    val d = prods.reduce(_ + _)
    when(d > 0, lit(1L)).otherwise(lit(0L))
  }

  /** Random-hyperplane LSH signature: `nPlanes` sign bits packed into a
    * long. Vectors with high cosine similarity collide with high
    * probability — the bucket key for ANN at scale (shuffle on the bucket,
    * compare only within buckets, never n²). Native expression
    * ([[LshSignatureExpr]]).
    */
  def lshSignature(a: Column, nPlanes: Int, dim: Int): Column =
    ncol(LshSignatureExpr(nexpr(a), nPlanes, dim))
}
