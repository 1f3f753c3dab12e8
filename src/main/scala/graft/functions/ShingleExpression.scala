package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass kernel for word n-gram shingles.
  *
  * Key observation: tokens are `split(text, " ")` and shingles re-join with
  * a single space, so shingle i IS the byte substring of the original text
  * between token boundary i and boundary i+n — including the
  * empty-token behavior of split (consecutive/trailing spaces), which falls
  * out of the boundary arithmetic for free. One scan collects the space
  * positions (0x20 is never a continuation byte in UTF-8, so byte scanning
  * is multibyte-safe), then each shingle wraps a (offset, length) view of
  * the same byte array — no per-shingle copies, no intermediate arrays.
  */
object ShingleKernel {
  def compute(text: UTF8String, n: Int): ArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    var spaces = 0
    var i = 0
    while (i < len) { if (bytes(i) == ' ') spaces += 1; i += 1 }
    val m = spaces + 2 - n // tokens = spaces + 1; shingles = tokens - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    // virtual boundaries: bounds(0) = -1, then each space, then len
    val bounds = new Array[Int](spaces + 2)
    bounds(0) = -1
    bounds(spaces + 1) = len
    var k = 1
    i = 0
    while (i < len) { if (bytes(i) == ' ') { bounds(k) = i; k += 1 }; i += 1 }
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      val start = bounds(j) + 1
      out(j) = UTF8String.fromBytes(bytes, start, bounds(j + n) - start)
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** Native word-shingle expression: semantically identical to the composable
  * `slice` + chained `zip_with(concat)` form, but those run through Spark's
  * higher-order functions, which are CodegenFallback — every element costs
  * an interpreted lambda round-trip, and each of the n-1 zip_with passes
  * allocates a full intermediate array. This is a single whole-stage-codegen
  * call into [[ShingleKernel.compute]]. */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n > 0, s"shingle width n=$n must be positive")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"word_shingles requires string, got $t")
  }

  override def nullSafeEval(text: Any): Any =
    ShingleKernel.compute(text.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ShingleKernel.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleExpression {
  /** A Column invoking `graft_word_shingles_<n>`, one function per n
    * ([[Registry.call]]). */
  def wordShingles(text: Column, n: Int): Column =
    wordShingles(SparkSession.active, text, n)

  /** Explicit-session form: registries are per-session, so a caller holding
    * a `newSession()` (scoped-conf streaming queries) must register there —
    * `SparkSession.active` still points at the parent. */
  def wordShingles(spark: SparkSession, text: Column, n: Int): Column =
    Registry.call(spark, s"graft_word_shingles_$n", exprs => WordShingles(exprs.head, n), text)
}
