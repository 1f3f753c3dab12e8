package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shannon entropy (bits per symbol) of a row's symbol distribution — the
  * classic gibberish / binary-junk / padding signal a pretraining text
  * pipeline scores every document with (random symbols → high, repeated
  * padding → near 0, natural language sits in a stable band; cf. the
  * CCNet/Gopher-family quality-rule stacks). Two alphabets, one formula:
  *
  *  - [[CharEntropy]]:  string → entropy over Unicode CODE POINTS
  *  - [[TokenEntropy]]: array<string> → entropy over exact token values
  *
  * entropy = (ln n − (Σ_v c_v·ln c_v)/n) / ln 2 over the per-value counts
  * c_v. Every input to the float chain is an INTEGER count, and the Σ is
  * taken in ascending symbol order (codepoint order / UTF-8 binary order —
  * the same order SQL's binary collation sorts), so any engine summing the
  * same ordered term list reproduces the double bit-for-bit; the DuckDB
  * oracle replays it as list_sum(list(c*ln(c) ORDER BY symbol)). Empty
  * input (n = 0) → NULL, never NaN — internally NaN is only the
  * eval-to-codegen "input empty" sentinel (true entropy is always finite).
  *
  * Per-row projection only: no exchange, no state — at 100 TB this is a
  * pure map over the scan, and the expression stays inside whole-stage
  * codegen (the generated code is one static call into the tight count
  * loop below, the [[PqExpressions]] precedent).
  */
object EntropyExpressions {

  // Both loops count by SORT + RUN-LENGTH, not a map: the per-row cost is
  // one primitive sort and a single pass — no boxing, no per-symbol
  // allocation — and the sorted order IS the ascending-symbol order the
  // Σ c·ln c parity contract requires.

  /** Codepoint entropy; NaN = "empty string" sentinel (mapped to NULL). */
  def charEntropyOf(s: UTF8String): Double = {
    val str = s.toString
    if (str.isEmpty) return Double.NaN
    val cps = new Array[Int](str.length) // ≥ codepoint count
    var i = 0; var n = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      cps(n) = cp; n += 1
      i += Character.charCount(cp)
    }
    java.util.Arrays.sort(cps, 0, n)
    var sum = 0.0; var run = 1L; var j = 1
    while (j <= n) {
      if (j < n && cps(j) == cps(j - 1)) run += 1L
      else { val c = run.toDouble; sum += c * Math.log(c); run = 1L }
      j += 1
    }
    (Math.log(n.toDouble) - sum / n.toDouble) / Math.log(2.0)
  }

  /** Token-value entropy; null elements are skipped (SQL aggregate
    * convention); NaN = "no non-null tokens" sentinel (mapped to NULL). */
  def tokenEntropyOf(arr: ArrayData): Double = {
    val len = arr.numElements()
    val toks = new Array[UTF8String](len)
    var i = 0; var n = 0
    while (i < len) {
      // views into the row buffer are fine: they only live through this
      // call, and the buffer is stable for the duration of one eval
      if (!arr.isNullAt(i)) { toks(n) = arr.getUTF8String(i); n += 1 }
      i += 1
    }
    if (n == 0) return Double.NaN
    // UTF8String.compareTo is unsigned byte order = SQL binary collation
    java.util.Arrays.sort(toks, 0, n,
      (a: UTF8String, b: UTF8String) => a.compareTo(b))
    var sum = 0.0; var run = 1L; var j = 1
    while (j <= n) {
      if (j < n && toks(j).equals(toks(j - 1))) run += 1L
      else { val c = run.toDouble; sum += c * Math.log(c); run = 1L }
      j += 1
    }
    (Math.log(n.toDouble) - sum / n.toDouble) / Math.log(2.0)
  }

  /** Columns invoking the two functions ([[Registry.call]]). */
  def charEntropy(spark: org.apache.spark.sql.SparkSession, text: Column): Column =
    Registry.call(spark, "char_entropy", exprs => CharEntropy(exprs.head), text)

  def tokenEntropy(spark: org.apache.spark.sql.SparkSession, tokens: Column): Column =
    Registry.call(spark, "token_entropy", exprs => TokenEntropy(exprs.head), tokens)
}

/** `char_entropy(string) → double`: Shannon entropy in bits/codepoint of
  * the string's codepoint distribution; NULL for the empty string. */
case class CharEntropy(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"char_entropy requires string, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val v = EntropyExpressions.charEntropyOf(input.asInstanceOf[UTF8String])
    if (java.lang.Double.isNaN(v)) null else java.lang.Double.valueOf(v)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val v = ctx.freshName("v")
      s"""
         |double $v = graft.functions.EntropyExpressions.charEntropyOf($s);
         |if (Double.isNaN($v)) { ${ev.isNull} = true; } else { ${ev.value} = $v; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `token_entropy(array<string>) → double`: Shannon entropy in bits/token
  * of the array's value distribution; null elements skipped; NULL when no
  * non-null element remains. */
case class TokenEntropy(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_entropy requires array<string>, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val v = EntropyExpressions.tokenEntropyOf(input.asInstanceOf[ArrayData])
    if (java.lang.Double.isNaN(v)) null else java.lang.Double.valueOf(v)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val v = ctx.freshName("v")
      s"""
         |double $v = graft.functions.EntropyExpressions.tokenEntropyOf($a);
         |if (Double.isNaN($v)) { ${ev.isNull} = true; } else { ${ev.value} = $v; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
