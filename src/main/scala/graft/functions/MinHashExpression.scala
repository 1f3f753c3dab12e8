package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `min_hash64(array<string>, k) → array<bigint>`: all `k` seeded MinHash
  * minima of a document's shingle set in ONE codegen'd pass — no explode,
  * no aggregate, no exchange.
  *
  * A MinHash signature is a per-DOCUMENT statistic (k seeded-hash minima
  * over the doc's shingles), so — like [[SimHash60]] — it never needed
  * cross-row state: this replaces `Dedup.minHashSignatures`' explode +
  * k-column min hash-aggregate (a corpus shuffle carrying one row per
  * (doc, shingle)) with a plain projection. minHashSignatures is kept as
  * the documented equivalence partner.
  *
  * Bit-for-bit the aggregate shape's math, using the same
  * [[org.apache.spark.sql.catalyst.expressions.XXH64]] primitives Spark's
  * `xxhash64` compiles to:
  *   h       = xxhash64(shingle)            = XXH64.hashUnsafeBytes(utf8, 42)
  *   base    = first fold of xxhash64(h, i) = XXH64.hashLong(h, 42)
  *   seed_i  = second fold                  = XXH64.hashInt(i, base)
  *   sig[i]  = min over shingles of seed_i
  * A null element contributes h = 42 (Spark's hash functions skip null
  * children, leaving the seed — explode emitted such rows); duplicates
  * can't move a minimum (callers array_distinct anyway). An empty or
  * all-absent array yields NULL so callers reproduce the old "no rows
  * exploded → doc absent" semantics with one isNotNull filter (minHashLsh
  * already drops empty shingle sets before this point).
  */
case class MinHash64(child: Expression, numHashes: Int, bands: Int = 0)
    extends UnaryExpression {

  require(bands == 0 || numHashes % bands == 0, "bands must divide numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"min_hash64 requires array<string>, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h =
        if (arr.isNullAt(i)) 42L
        else {
          val t = arr.getUTF8String(i)
          XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes, 42L)
        }
      val base = XXH64.hashLong(h, 42L)
      var j = 0
      while (j < numHashes) {
        val s = XXH64.hashInt(j, base)
        if (s < mins(j)) mins(j) = s
        j += 1
      }
      i += 1
    }
    if (bands == 0) new GenericArrayData(mins)
    else {
      val r = numHashes / bands
      val out = new Array[Long](bands)
      var b = 0
      while (b < bands) {
        var hash = 42L
        var j = 0
        while (j < r) { hash = XXH64.hashLong(mins(b * r + j), hash); j += 1 }
        out(b) = hash
        b += 1
      }
      new GenericArrayData(out)
    }
  }

  // janino: raw types, fully-qualified names
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val xxh = "org.apache.spark.sql.catalyst.expressions.XXH64"
      val n = ctx.freshName("n"); val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val mins = ctx.freshName("mins"); val t = ctx.freshName("t")
      val h = ctx.freshName("h"); val base = ctx.freshName("base"); val s = ctx.freshName("s")
      val result =
        if (bands == 0)
          s"${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);"
        else {
          val r = numHashes / bands
          val out = ctx.freshName("out"); val b = ctx.freshName("b")
          val bh = ctx.freshName("bh"); val k = ctx.freshName("k")
          s"""
             |long[] $out = new long[$bands];
             |for (int $b = 0; $b < $bands; $b++) {
             |  long $bh = 42L;
             |  for (int $k = 0; $k < $r; $k++) $bh = $xxh.hashLong($mins[$b * $r + $k], $bh);
             |  $out[$b] = $bh;
             |}
             |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
           """.stripMargin
        }
      s"""
         |int $n = $a.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $mins = new long[$numHashes];
         |  java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $h;
         |    if ($a.isNullAt($i)) {
         |      $h = 42L;
         |    } else {
         |      UTF8String $t = $a.getUTF8String($i);
         |      $h = $xxh.hashUnsafeBytes($t.getBaseObject(), $t.getBaseOffset(), $t.numBytes(), 42L);
         |    }
         |    long $base = $xxh.hashLong($h, 42L);
         |    for (int $j = 0; $j < $numHashes; $j++) {
         |      long $s = $xxh.hashInt($j, $base);
         |      if ($s < $mins[$j]) $mins[$j] = $s;
         |    }
         |  }
         |  $result
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashExpression {
  /** A Column invoking `min_hash64` ([[Registry.call]]). `bands = 0` returns the k raw
    * minima; `bands > 0` returns the banded signatures directly (ONE
    * output array — callers must keep the expression referenced exactly
    * once per projection: CollapseProject inlines multi-referenced
    * non-cheap aliases, re-evaluating the whole signature per reference;
    * that re-evaluation measured a 35× regression when the minima array
    * was split into per-hash columns with element_at). */
  def minHash64(spark: org.apache.spark.sql.SparkSession, shingles: Column,
                numHashes: Int, bands: Int = 0): Column =
    Registry.call(spark, "min_hash64",
      exprs => MinHash64(exprs.head,
        exprs(1).eval().asInstanceOf[Int],
        exprs(2).eval().asInstanceOf[Int]),
      shingles,
      org.apache.spark.sql.functions.lit(numHashes),
      org.apache.spark.sql.functions.lit(bands))
}
