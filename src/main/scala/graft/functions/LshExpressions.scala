package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `lsh_buckets(array<float>, planes, tables, dim) → array<bigint>`: all
  * `tables` sign-signature LSH bucket ids in ONE codegen'd pass over the
  * vector.
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
  * Callers keep the `requireDim` guard OUTSIDE this expression: a
  * dim/data mismatch must raise before evaluation, never silently
  * truncate (the expression itself reads min(len, dim) elements only as
  * defense in depth).
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

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(v.numElements(), dim)
    val out = new Array[Long](tables)
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) { hasNull = v.isNullAt(i); i += 1 }
    if (!hasNull) {
      val pt = planes * tables
      var p = 0
      while (p < pt) {
        var acc = 0.0
        val off = p * dim
        var j = 0
        while (j < n) { acc += v.getFloat(j).toDouble * flatMatrix(off + j); j += 1 }
        if (acc >= 0) out(p / planes) |= 1L << (p % planes)
        p += 1
      }
    }
    new GenericArrayData(out)
  }

  // janino: raw types, fully-qualified names; the flattened matrix rides
  // along as a referenced object (one per generated class, read-only)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val mat = ctx.addReferenceObj("lshMat", flatMatrix, "double[]")
      val n = ctx.freshName("n"); val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val out = ctx.freshName("out"); val hasNull = ctx.freshName("hasNull")
      val p = ctx.freshName("p"); val acc = ctx.freshName("acc"); val off = ctx.freshName("off")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $dim);
         |long[] $out = new long[$tables];
         |boolean $hasNull = false;
         |for (int $i = 0; $i < $n && !$hasNull; $i++) $hasNull = $a.isNullAt($i);
         |if (!$hasNull) {
         |  for (int $p = 0; $p < ${planes * tables}; $p++) {
         |    double $acc = 0.0;
         |    int $off = $p * $dim;
         |    for (int $j = 0; $j < $n; $j++) {
         |      $acc += ((double) $a.getFloat($j)) * $mat[$off + $j];
         |    }
         |    if ($acc >= 0) $out[$p / $planes] |= 1L << ($p % $planes);
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshExpressions {
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
