package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `sim_hash60(array<string>) → bigint`: the full 60-bit SimHash fingerprint
  * in one codegen'd pass over a document's token array.
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
    val arr = input.asInstanceOf[ArrayData]
    val md = java.security.MessageDigest.getInstance("MD5")
    val votes = new Array[Long](60)
    val seen = new java.util.HashSet[UTF8String]()
    var contributed = false
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i)
        if (seen.add(t)) {
          contributed = true
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
    if (!contributed) null
    else {
      var fp = 0L; var b = 0
      while (b < 60) { if (votes(b) > 0) fp |= 1L << b; b += 1 }
      fp
    }
  }

  // janino: raw types, fully-qualified names; the MessageDigest is one
  // mutable instance per generated class (digest() resets it after use)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val md = ctx.addMutableState("java.security.MessageDigest", "simhashMd",
        v => s"""try { $v = java.security.MessageDigest.getInstance("MD5"); }
                |catch (java.security.NoSuchAlgorithmException e) { throw new RuntimeException(e); }
              """.stripMargin)
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val votes = ctx.freshName("votes"); val seen = ctx.freshName("seen")
      val contributed = ctx.freshName("contributed")
      val t = ctx.freshName("t"); val d = ctx.freshName("d")
      val h = ctx.freshName("h"); val b = ctx.freshName("b"); val fp = ctx.freshName("fp")
      s"""
         |int $n = $a.numElements();
         |long[] $votes = new long[60];
         |java.util.HashSet $seen = new java.util.HashSet();
         |boolean $contributed = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) continue;
         |  UTF8String $t = $a.getUTF8String($i);
         |  if (!$seen.add($t)) continue;
         |  $contributed = true;
         |  byte[] $d = $md.digest($t.getBytes());
         |  long $h = ((($d[0] & 0xFFL) << 56) | (($d[1] & 0xFFL) << 48) |
         |    (($d[2] & 0xFFL) << 40) | (($d[3] & 0xFFL) << 32) |
         |    (($d[4] & 0xFFL) << 24) | (($d[5] & 0xFFL) << 16) |
         |    (($d[6] & 0xFFL) << 8) | ($d[7] & 0xFFL)) >>> 4;
         |  for (int $b = 0; $b < 60; $b++) {
         |    $votes[$b] += ((($h >> $b) & 1L) == 1L) ? 1L : -1L;
         |  }
         |}
         |if (!$contributed) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $fp = 0L;
         |  for (int $b = 0; $b < 60; $b++) if ($votes[$b] > 0) $fp |= (1L << $b);
         |  ${ev.value} = $fp;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashExpression {
  /** A Column invoking `sim_hash60` ([[Registry.call]]). */
  def simHash60(spark: org.apache.spark.sql.SparkSession, tokens: Column): Column =
    Registry.call(spark, "sim_hash60", exprs => SimHash60(exprs.head), tokens)
}
