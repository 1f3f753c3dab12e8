package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `graft_phash60_<crop>(string) → bigint`: the 60-bit perceptual-hash
  * stand-in ([[graft.multimodal.Multimodal.pHash60]]'s math) as ONE
  * tight-loop codegen'd expression.
  *
  * The original Column form inlines 60 `ascii(substr(...))` sample terms
  * plus the sum and the 60-branch bit fold as one unrolled expression
  * tree — the multi-hundred-KB-codegen-source class the PqDistTable note
  * warns about: Janino compile is re-paid per fresh plan (generated
  * sources embed per-analysis expression ids, so the cache misses), and
  * m141 evaluates the tree once per FRAME per join side. This expression
  * runs the identical math in two 60-iteration loops.
  *
  * Bit-for-bit the column form's (and the SQL oracle's) math: sample i is
  * the first byte of the character at 0-based position
  * `(cropBytes−1)·i/59` (Spark's `ascii` takes the first byte of the
  * substring; identical to the code point on the ASCII payloads the
  * byte-level stand-in targets); fingerprint bit i set iff
  * `s_i · 60 > Σ s` — integer compare, no float division. Inputs shorter
  * than `cropBytes` CHARACTERS yield NULL (the column form's filter). */
case class PHash60Raw(child: Expression, cropBytes: Int) extends UnaryExpression {
  private val n = 60
  require(cropBytes >= n, s"cropBytes=$cropBytes must be >= $n")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_phash60 requires string, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    if (s.numChars() < cropBytes) null
    else {
      val smp = new Array[Long](n)
      var tot = 0L
      var i = 0
      while (i < n) {
        val pos = (cropBytes - 1) * i / (n - 1)
        val ch = s.substring(pos, pos + 1)
        val b = ch.getBytes
        val v = if (b.length > 0) b(0).toLong else 0L
        smp(i) = v; tot += v; i += 1
      }
      var fp = 0L; i = 0
      while (i < n) { if (smp(i) * n > tot) fp |= 1L << i; i += 1 }
      fp
    }
  }

  // janino: raw types, fully-qualified names
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val smp = ctx.freshName("smp"); val tot = ctx.freshName("tot")
      val i = ctx.freshName("i"); val pos = ctx.freshName("pos")
      val ch = ctx.freshName("ch"); val bs = ctx.freshName("bs")
      val fp = ctx.freshName("fp")
      s"""
         |if ($a.numChars() < $cropBytes) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $smp = new long[$n];
         |  long $tot = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    int $pos = ($cropBytes - 1) * $i / ${n - 1};
         |    UTF8String $ch = $a.substring($pos, $pos + 1);
         |    byte[] $bs = $ch.getBytes();
         |    long v = $bs.length > 0 ? (long) $bs[0] : 0L;
         |    $smp[$i] = v; $tot += v;
         |  }
         |  long $fp = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($smp[$i] * ${n}L > $tot) $fp |= (1L << $i);
         |  }
         |  ${ev.value} = $fp;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PHashExpression {
  /** A Column invoking `graft_phash60_<crop>`, one function per crop
    * ([[Registry.call]]). */
  def pHash60Native(spark: org.apache.spark.sql.SparkSession, text: Column,
                    cropBytes: Int): Column =
    Registry.call(spark, s"graft_phash60_$cropBytes",
      exprs => PHash60Raw(exprs.head, cropBytes), text)
}
