package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `min_hash64(array<string>, k) → array<bigint>`: all `k` seeded MinHash
  * minima of a document's shingle set in ONE pass — no explode, no
  * aggregate, no exchange. Eval and the generated code both call the
  * kernel [[MinHashExpression.minHash64Of]].
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

  override def nullSafeEval(input: Any): Any =
    MinHashExpression.minHash64Of(input.asInstanceOf[ArrayData], numHashes, bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = graft.functions.MinHashExpression.minHash64Of($a, $numHashes, $bands);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashExpression {
  /** The signature kernel: the k minima (or `bands` banded hashes) of
    * `shingles`; null when the array is empty. */
  def minHash64Of(shingles: ArrayData, numHashes: Int, bands: Int): ArrayData = {
    val n = shingles.numElements()
    if (n == 0) return null
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h =
        if (shingles.isNullAt(i)) 42L
        else {
          val t = shingles.getUTF8String(i)
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
    if (bands == 0) return UnsafeArrayData.fromPrimitiveArray(mins)
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
    UnsafeArrayData.fromPrimitiveArray(out)
  }

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
