package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, LongType}

/** Bitset membership probe backed by a BROADCAST VARIABLE instead of a plan
  * Literal.
  *
  * [[graft.ops.Dedup.bloomMightContain]]'s literal form inlines the bitset
  * into the expression tree, which serializes it with every task — fine to
  * ~32 MB, ruinous at the ~1 GB a 100 TB history needs (10^10 keys want
  * ~10^10 bits). This expression instead references a
  * `Broadcast[Array[Long]]`: the bitset ships to each executor ONCE over the
  * broadcast machinery (torrent, disk-backed), and the generated code reads
  * it from a cached local field — the probe itself stays inside whole-stage
  * codegen, identical in cost to the literal form.
  *
  * The child is the array of bit POSITIONS (computed with the same codegen'd
  * builtins as the build side, so build and probe can never disagree on the
  * hash); the result is true iff every position's bit is set.
  */
case class BloomBitsetContains(child: Expression, words: Broadcast[Array[Long]])
    extends UnaryExpression {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bloom_bitset_contains requires array<bigint> positions, got $t")
  }

  override def nullSafeEval(positions: Any): Any =
    BloomExpressions.containsAll(positions.asInstanceOf[ArrayData], words.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the broadcast handle rides the references array; its value() is
    // resolved ONCE per task into a plain long[] field, so the per-row code
    // is one call over that array
    val bcRef = ctx.addReferenceObj("bloomBitsetBc", words)
    val w = ctx.addMutableState("long[]", "bloomBitsetWords",
      v => s"$v = (long[]) $bcRef.value();")
    defineCodeGen(ctx, ev, arr => s"graft.functions.BloomExpressions.containsAll($arr, $w)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BloomExpressions {

  /** The probe kernel: true iff every position's bit is set in `words`. */
  def containsAll(positions: ArrayData, words: Array[Long]): Boolean = {
    var i = 0
    while (i < positions.numElements()) {
      val p = positions.getLong(i)
      if (((words((p >>> 6).toInt) >>> (p & 63L)) & 1L) == 0L) return false
      i += 1
    }
    true
  }

  /** One Broadcast per distinct bitset ARRAY (identity-keyed): the
    * documented usage probes many arriving batches against one history
    * bitset, and a fresh broadcast per probe would re-ship a potentially
    * multi-GB bitset every batch and leak one broadcast's bookkeeping per
    * call. A WeakHashMap scopes each entry to the caller's array: while the
    * caller holds the bits (the reuse window) probes share one broadcast;
    * once the array is dropped the entry goes with it and Spark's
    * ContextCleaner reclaims the executor blocks (TorrentBroadcast holds
    * its driver-side value softly, so the value never pins the key).
    * [[release]] is the eager path for long-lived sessions. */
  private val broadcasts =
    new java.util.WeakHashMap[Array[Long], Broadcast[Array[Long]]]()

  private def name(bc: Broadcast[_]): String = s"graft_bloom_bitset_${bc.id}"

  /** Broadcast `words` (or reuse the live broadcast for this exact array)
    * and return a probe Column over `positions` (array<bigint> of bit
    * positions) through [[Registry.call]]; the function name embeds the
    * broadcast id, so concurrent probes over different bitsets never
    * clobber each other's builder and repeat probes of one bitset register
    * it once. */
  def bitsetContains(spark: SparkSession, positions: Column,
                     words: Array[Long]): Column = {
    val bc = broadcasts.synchronized {
      var b = broadcasts.get(words)
      if (b == null) { b = spark.sparkContext.broadcast(words); broadcasts.put(words, b) }
      b
    }
    Registry.call(spark, name(bc), exprs => BloomBitsetContains(exprs.head, bc), positions)
  }

  /** Eagerly reclaim the probe's executor memory for `words`: unregister
    * its temp function, drop it from the share cache, and unpersist the
    * backing broadcast (blocking until executors free their blocks). Call
    * after the last batch probed against a bitset in a long-lived session.
    *
    * Deliberately `unpersist`, NOT `destroy`: the broadcast is SHARED — any
    * caller holding the same array got the same Broadcast, and a destroy
    * here would fail their not-yet-executed (or mid-flight) plans at task
    * time with a destroyed-broadcast error. After unpersist, an outstanding
    * plan's tasks lazily re-fetch the value from the driver and keep
    * working; full teardown happens via ContextCleaner once no plan holds
    * the Broadcast object (the cache entry is gone, so nothing pins it).
    * No-op if `words` has no live probe. */
  def release(spark: SparkSession, words: Array[Long]): Unit = {
    val bc = broadcasts.synchronized(broadcasts.remove(words))
    if (bc != null) {
      spark.sessionState.functionRegistry.dropFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name(bc)))
      bc.unpersist(blocking = true)
    }
  }
}
