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

  private def ncol(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(e)
  private def nexpr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)

  /** Cosine similarity = dot / (||a|| * ||b||). Native expression
    * ([[CosineExpr]]: the three ordered folds in one compiled loop). */
  def cosine(a: Column, b: Column): Column =
    ncol(CosineExpr(nexpr(a), nexpr(b)))

  /** Scale a float vector by a constant (exact for powers of two). */
  def scale(a: Column, k: Float): Column =
    transform(a, x => (x * lit(k)).cast("float"))

  /** Random-hyperplane LSH signature: `nPlanes` sign bits packed into a
    * long. Vectors with high cosine similarity collide with high
    * probability — the bucket key for ANN at scale (shuffle on the bucket,
    * compare only within buckets, never n²). Native expression
    * ([[LshSignatureExpr]]).
    */
  def lshSignature(a: Column, nPlanes: Int, dim: Int): Column =
    ncol(LshSignatureExpr(nexpr(a), nPlanes, dim))
}
