package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `token_counts(array<string>) → map<string, bigint>`: per-row term
  * frequencies in one pass over the token array: eval and the generated
  * code both call the kernel [[TokenCountsExpression.tokenCountsOf]].
  *
  * This turns the corpus-level `explode + groupBy(doc, token)` TF shape —
  * whose hash aggregate induces a full corpus shuffle — into a narrow
  * per-row projection: `explode(token_counts(tokens))` emits exactly the
  * (token, tf) rows the aggregate would, with ZERO exchange, because term
  * frequency is a per-document statistic and never needed cross-row state
  * in the first place. The map is document-sized by construction (distinct
  * tokens of ONE document), so no row is ever corpus-driven.
  *
  * Null array → null map (explode then skips the row, matching the old
  * shape). Null ELEMENTS are skipped: MapData forbids null keys, and the
  * old shape dropped null tokens at its inner df-join anyway — final
  * pipeline output is identical. First-occurrence key order (LinkedHashMap)
  * keeps the emitted row order deterministic for a given array.
  */
case class TokenCounts(child: Expression) extends UnaryExpression {

  override def dataType: DataType =
    MapType(StringType, LongType, valueContainsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_counts requires array<string>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    TokenCountsExpression.tokenCountsOf(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.TokenCountsExpression.tokenCountsOf($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenCountsExpression {
  /** The term-frequency kernel: each distinct non-null token, in first-
    * occurrence order, to its count. Counts live in one-slot `long[]`
    * cells, so counting boxes nothing. */
  def tokenCountsOf(tokens: ArrayData): MapData = {
    val cells = new java.util.LinkedHashMap[UTF8String, Array[Long]]()
    var i = 0
    while (i < tokens.numElements()) {
      if (!tokens.isNullAt(i)) {
        val t = tokens.getUTF8String(i)
        var c = cells.get(t)
        if (c == null) { c = new Array[Long](1); cells.put(t, c) }
        c(0) += 1
      }
      i += 1
    }
    val keys = new Array[Any](cells.size)
    val counts = new Array[Long](cells.size)
    val it = cells.entrySet.iterator
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      keys(j) = e.getKey; counts(j) = e.getValue()(0); j += 1
    }
    new ArrayBasedMapData(new GenericArrayData(keys), UnsafeArrayData.fromPrimitiveArray(counts))
  }

  /** A Column invoking `token_counts` ([[Registry.call]]). */
  def tokenCounts(spark: org.apache.spark.sql.SparkSession, arr: Column): Column =
    Registry.call(spark, "token_counts", exprs => TokenCounts(exprs.head), arr)
}
