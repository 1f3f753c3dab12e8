package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `graft_phash60_<crop>(string) → bigint`: the 60-bit perceptual-hash
  * stand-in ([[graft.multimodal.Multimodal.pHash60]]'s math) as ONE
  * expression whose eval and generated code both call the kernel
  * [[PHashExpression.pHash60Of]] (as does
  * [[graft.multimodal.Multimodal.pHashBytesFallback]]).
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
  * the CODE POINT at 0-based character position `(cropBytes−1)·i/59`
  * (Spark's `ascii` decodes the one-character substring and returns its
  * code point, as DuckDB's does); fingerprint bit i set iff
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
    val fp = PHashExpression.pHash60Of(input.asInstanceOf[UTF8String], cropBytes)
    if (fp < 0) null else fp
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"""${ev.value} = graft.functions.PHashExpression.pHash60Of($t, $cropBytes);
         |${ev.isNull} = ${ev.value} < 0;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PHashExpression {
  /** The pHash kernel: the 60-bit fingerprint of `text`'s `cropBytes`-code-
    * point window, or -1 when `text` is shorter than that. A sample is the
    * code point `ascii(substr(text, pos + 1, 1))` returns: the byte itself
    * for ASCII, else the character's UTF-8 bytes decoded as Spark's
    * `toString` decodes them. One forward walk finds every sample. */
  def pHash60Of(text: UTF8String, cropBytes: Int): Long = {
    val n = 60
    if (text.numChars() < cropBytes) return -1L
    val smp = new Array[Long](n)
    var tot = 0L
    var off = 0; var ch = 0; var i = 0
    while (i < n) {
      val pos = (cropBytes - 1) * i / (n - 1)
      while (ch < pos) { off += UTF8String.numBytesForFirstByte(text.getByte(off)); ch += 1 }
      val b = text.getByte(off)
      val v =
        if (b >= 0) b.toLong
        else UTF8String.fromAddress(text.getBaseObject, text.getBaseOffset + off,
          math.min(UTF8String.numBytesForFirstByte(b), text.numBytes - off))
          .toString.codePointAt(0).toLong
      smp(i) = v; tot += v; i += 1
    }
    var fp = 0L; i = 0
    while (i < n) { if (smp(i) * n > tot) fp |= 1L << i; i += 1 }
    fp
  }

  /** A Column invoking `graft_phash60_<crop>`, one function per crop
    * ([[Registry.call]]). */
  def pHash60Native(spark: org.apache.spark.sql.SparkSession, text: Column,
                    cropBytes: Int): Column =
    Registry.call(spark, s"graft_phash60_$cropBytes",
      exprs => PHash60Raw(exprs.head, cropBytes), text)
}
