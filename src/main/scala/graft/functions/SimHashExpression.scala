package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `sim_hash60(array<string>) → bigint`: the full 60-bit SimHash fingerprint
  * in one pass over a document's token array: eval and the generated code
  * both call the kernel [[SimHashExpression.simHash60Of]].
  *
  * The fingerprint is a per-DOCUMENT statistic (per-bit majority vote over
  * the distinct tokens' hashes), so — like [[TokenCounts]] — it never
  * needed cross-row state: this replaces the explode + 60-sum hash-agg
  * corpus shuffle in the old `Dedup.simHash` with a plain projection.
  *
  * Bit-for-bit the same math as the aggregate shape (and the SQL oracle):
  * per distinct token, h = first 15 hex chars of md5(token) parsed base-16
  * (= the top 60 bits of the digest's first 8 big-endian bytes); vote
  * +1/−1 per bit of h; fingerprint bit b set iff vote > 0. Distinctness
  * via a per-row HashSet (order-independent — votes commute). Null tokens
  * are skipped (md5(null) voted nothing in the old shape); if NO token
  * contributes, the result is NULL so callers can reproduce the old
  * shape's "doc absent" semantics with one isNotNull filter.
  */
case class SimHash60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sim_hash60 requires array<string>, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val fp = SimHashExpression.simHash60Of(input.asInstanceOf[ArrayData])
    if (fp < 0) null else fp
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = graft.functions.SimHashExpression.simHash60Of($a);
         |${ev.isNull} = ${ev.value} < 0;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashExpression {
  /** One MD5 digest per thread: `digest()` resets it after each use. */
  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** The fingerprint kernel: the 60-bit SimHash of `tokens`' distinct
    * non-null values, or -1 when no token contributes. */
  def simHash60Of(tokens: ArrayData): Long = {
    val md = md5.get()
    val votes = new Array[Long](60)
    val seen = new java.util.HashSet[UTF8String]()
    var i = 0
    while (i < tokens.numElements()) {
      if (!tokens.isNullAt(i)) {
        val t = tokens.getUTF8String(i)
        if (seen.add(t)) {
          val d = md.digest(t.getBytes)
          val h = (((d(0) & 0xFFL) << 56) | ((d(1) & 0xFFL) << 48) |
            ((d(2) & 0xFFL) << 40) | ((d(3) & 0xFFL) << 32) |
            ((d(4) & 0xFFL) << 24) | ((d(5) & 0xFFL) << 16) |
            ((d(6) & 0xFFL) << 8) | (d(7) & 0xFFL)) >>> 4
          var b = 0
          while (b < 60) {
            votes(b) += (if (((h >> b) & 1L) == 1L) 1L else -1L); b += 1
          }
        }
      }
      i += 1
    }
    if (seen.isEmpty) return -1L
    var fp = 0L; var b = 0
    while (b < 60) { if (votes(b) > 0) fp |= 1L << b; b += 1 }
    fp
  }

  /** A Column invoking `sim_hash60` ([[Registry.call]]). */
  def simHash60(spark: org.apache.spark.sql.SparkSession, tokens: Column): Column =
    Registry.call(spark, "sim_hash60", exprs => SimHash60(exprs.head), tokens)
}
