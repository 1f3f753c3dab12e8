package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `lsh_buckets(array<float>, planes, tables, dim) → array<bigint>`: all
  * `tables` sign-signature LSH bucket ids in ONE pass over the vector.
  *
  * The composable formulation ([[graft.ops.Similarity.lshBucket]]'s
  * per-plane `aggregate(zip_with(vec, weights), 0.0, +)`) runs
  * planes × tables higher-order-function passes per row, each an
  * interpreted (CodegenFallback) lambda allocating an intermediate
  * products array — at corpus scale the bucket projection, not the join,
  * dominates d74/s30. This expression fuses every hyperplane projection
  * into one whole-stage-codegen loop with zero intermediates, the same
  * treatment [[CosineSimilarity]] gives the verify dot product and
  * [[SimHash60]] gives the d24 fingerprint.
  *
  * Bit-for-bit the HOF shape's math: hyperplane component (p, i) comes
  * from [[graft.ops.Similarity.planeMatrix]] (md5-derived, engine
  * portable — the oracle recomputes it); per plane the products
  * `(double) v[i] * w[i]` accumulate left-to-right from 0.0 (identical
  * IEEE addition order); table t's bucket sets bit p iff the projection
  * against matrix row t·planes+p is >= 0. A null vector element poisons
  * every projection to SQL NULL exactly like `zip_with`'s null product —
  * every sign test fails — so the row lands in bucket 0 of every table.
  * Callers keep the `requireDim` guard OUTSIDE this expression, so a
  * dim/data mismatch raises before evaluation with the caller's message;
  * the kernel [[LshExpressions.lshBucketsOf]] (which eval and the one-call
  * generated code share) raises on a mismatch too, never truncating.
  */
case class LshBuckets(child: Expression, planes: Int, tables: Int, dim: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lsh_buckets requires array<float>, got $other")
  }

  /** planeMatrix(planes·tables, dim) flattened row-major: w(p·dim + i). */
  @transient private lazy val flatMatrix: Array[Double] = {
    val m = graft.ops.Similarity.planeMatrix(planes * tables, dim)
    val out = new Array[Double](planes * tables * dim)
    var p = 0
    while (p < planes * tables) {
      System.arraycopy(m(p), 0, out, p * dim, dim); p += 1
    }
    out
  }

  override def nullSafeEval(input: Any): Any =
    LshExpressions.lshBucketsOf(input.asInstanceOf[ArrayData], flatMatrix, planes, tables, dim)

  // the flattened matrix rides along as a referenced object (one per
  // generated class, read-only)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mat = ctx.addReferenceObj("lshMat", flatMatrix, "double[]")
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.LshExpressions.lshBucketsOf($a, $mat, $planes, $tables, $dim)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshExpressions {
  /** The bucket kernel over the row-major `planes·tables × dim` matrix. */
  def lshBucketsOf(v: ArrayData, mat: Array[Double], planes: Int, tables: Int,
                   dim: Int): ArrayData = {
    val n = v.numElements()
    if (n != dim)
      throw new IllegalArgumentException(s"lsh_buckets: vector length $n != dim $dim")
    val out = new Array[Long](tables)
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) { hasNull = v.isNullAt(i); i += 1 }
    if (!hasNull) {
      var p = 0
      while (p < planes * tables) {
        var acc = 0.0
        val off = p * dim
        var j = 0
        while (j < n) { acc += v.getFloat(j).toDouble * mat(off + j); j += 1 }
        if (acc >= 0) out(p / planes) |= 1L << (p % planes)
        p += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** A Column invoking `lsh_buckets` ([[Registry.call]]). planes/tables/dim
    * ride as int literals and are folded into the expression at
    * resolution. */
  def lshBuckets(spark: org.apache.spark.sql.SparkSession, vec: Column,
                 planes: Int, tables: Int, dim: Int): Column =
    Registry.call(spark, "lsh_buckets",
      exprs => LshBuckets(exprs.head,
        exprs(1).eval().asInstanceOf[Int],
        exprs(2).eval().asInstanceOf[Int],
        exprs(3).eval().asInstanceOf[Int]),
      vec,
      org.apache.spark.sql.functions.lit(planes),
      org.apache.spark.sql.functions.lit(tables),
      org.apache.spark.sql.functions.lit(dim))
}
