package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for the product-quantization distance table:
  * given a vector and an (m × k × subDim) codebook, emit the FLAT m·k
  * array of squared L2 distances `entry[s·k + c] = Σ_j (v[s·subDim+j] −
  * C[s][c][j])²` (j ascending, left-associated adds — the order the SQL
  * oracle's sequential `list_sum` reproduces).
  *
  * Why an expression and not composed built-ins: unrolling m·k·subDim
  * (= 1024 at the default geometry) squared-difference terms into the plan
  * produces a multi-hundred-KB whole-stage-codegen source whose JANINO
  * COMPILE dominates the query (measured ~10 s per fresh plan at sf0.1 —
  * the arithmetic itself is microseconds); and expression trees that large
  * can silently fall out of codegen entirely. Here the generated code is
  * one call into the kernel [[PqExpressions.pqDistTableOf]] (a triple loop
  * over a referenced `double[]`, which eval runs too) — compiles
  * instantly, and both PQ encoding (argmin per table row) and ADC lookups
  * downstream become small generic array ops.
  *
  * The codebook rides as a structurally-comparable `Seq[Double]`
  * constructor field (NOT an Array — case-class equality on arrays is
  * reference equality, which would break plan canonicalization and the
  * codegen cache). */
case class PqDistTable(child: Expression, codebook: Seq[Double], m: Int, kc: Int)
    extends UnaryExpression {

  private val subDim = codebook.length / (m * kc)
  @transient private lazy val cb: Array[Double] = codebook.toArray

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_dist_table requires array<float>, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    PqExpressions.pqDistTableOf(input.asInstanceOf[ArrayData], cb, m, kc, subDim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqcb", cb, "double[]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.PqExpressions.pqDistTableOf($v, $cbRef, $m, $kc, $subDim)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqExpressions {
  /** The distance-table kernel over the flat `m × kc × subDim` codebook. */
  def pqDistTableOf(v: ArrayData, cb: Array[Double], m: Int, kc: Int,
                    subDim: Int): ArrayData = {
    // guard the geometry explicitly: a short/long vector would otherwise
    // surface as an opaque ArrayIndexOutOfBoundsException from deep inside
    // the triple loop, with no hint which column was wrong
    if (v.numElements() != m * subDim)
      throw new IllegalArgumentException(
        s"pq_dist_table: vector length ${v.numElements()} != m*subDim = ${m * subDim}")
    val out = new Array[Double](m * kc)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < kc) {
        var d = 0.0
        val base = (s * kc + c) * subDim
        var j = 0
        while (j < subDim) {
          val x = v.getFloat(s * subDim + j).toDouble - cb(base + j)
          d += x * x
          j += 1
        }
        out(s * kc + c) = d
        c += 1
      }
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** A Column invoking `pq_dist_table` ([[Registry.call]]). The codebook
    * rides as an array<double> literal folded into the expression at
    * resolution — any codebook (md5-grid or trained) works. */
  def pqDistTable(spark: org.apache.spark.sql.SparkSession, vec: Column,
                  codebook: Array[Array[Array[Double]]]): Column =
    Registry.call(spark, "pq_dist_table",
      exprs => PqDistTable(exprs.head,
        exprs(1).eval().asInstanceOf[ArrayData].toDoubleArray().toSeq,
        exprs(2).eval().asInstanceOf[Int],
        exprs(3).eval().asInstanceOf[Int]),
      vec,
      org.apache.spark.sql.functions.lit(codebook.flatten.flatten),
      org.apache.spark.sql.functions.lit(codebook.length),
      org.apache.spark.sql.functions.lit(codebook(0).length))
}
