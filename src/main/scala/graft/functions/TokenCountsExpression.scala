package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `token_counts(array<string>) → map<string, bigint>`: per-row term
  * frequencies in one codegen'd pass over the token array.
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

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val m = new java.util.LinkedHashMap[UTF8String, java.lang.Long]()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i)
        val prev = m.get(t)
        m.put(t, if (prev == null) 1L else prev + 1L)
      }
      i += 1
    }
    val sz = m.size()
    val keys = new Array[Any](sz)
    val vals = new Array[Any](sz)
    val it = m.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      keys(j) = e.getKey
      vals(j) = e.getValue.longValue()
      j += 1
    }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
  }

  // janino: raw types only (no generics), fully-qualified class names
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val m = ctx.freshName("m"); val t = ctx.freshName("t")
      val prev = ctx.freshName("prev"); val sz = ctx.freshName("sz")
      val keys = ctx.freshName("keys"); val vals = ctx.freshName("vals")
      val it = ctx.freshName("it"); val e = ctx.freshName("e"); val j = ctx.freshName("j")
      s"""
         |int $n = $a.numElements();
         |java.util.LinkedHashMap $m = new java.util.LinkedHashMap();
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    UTF8String $t = $a.getUTF8String($i);
         |    Object $prev = $m.get($t);
         |    $m.put($t, $prev == null ? (Object) 1L : (Object) (((Long) $prev).longValue() + 1L));
         |  }
         |}
         |int $sz = $m.size();
         |Object[] $keys = new Object[$sz];
         |Object[] $vals = new Object[$sz];
         |java.util.Iterator $it = $m.entrySet().iterator();
         |int $j = 0;
         |while ($it.hasNext()) {
         |  java.util.Map.Entry $e = (java.util.Map.Entry) $it.next();
         |  $keys[$j] = $e.getKey();
         |  $vals[$j] = ((Long) $e.getValue()).longValue();
         |  $j++;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($keys),
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($vals));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenCountsExpression {
  /** A Column invoking `token_counts` ([[Registry.call]]). */
  def tokenCounts(spark: org.apache.spark.sql.SparkSession, arr: Column): Column =
    Registry.call(spark, "token_counts", exprs => TokenCounts(exprs.head), arr)
}
