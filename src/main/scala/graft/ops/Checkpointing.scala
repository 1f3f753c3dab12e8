package graft.ops

import org.apache.spark.graft.Blocks
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}

/** Lineage truncation for iterative loops (connectedComponents, pageRank):
  * one shared implementation of the EAGER checkpoint discipline, so the
  * correctness-critical part cannot drift per call site.
  *
  * Why truncate at all: `Dataset.checkpoint`/`localCheckpoint` carry the
  * source plan's estimated Statistics into the new LogicalRDD, and
  * Catalyst's size-only join estimate is the PRODUCT of its children's
  * sizeInBytes — across rounds the carried estimate compounds (each CC
  * round cubes it) and by round ~14 the driver spends minutes per join
  * inside BigInteger.multiply just PLANNING. Rebuilding the frame from the
  * checkpointed RDD (df.rdd → createDataFrame) resets stats to the session
  * default every round.
  *
  * Why EAGER and SERIAL: a lazy `rdd.localCheckpoint()` materialized later
  * by a multi-threaded job deadlocked the driver intermittently
  * (doCheckpoint's RDDCheckpointData$-then-RDD-monitor lock order vs an
  * AQE broadcast-exchange thread's getCacheLocs RDD-monitor-then-class-
  * lock order — observed live in the round-11 verdict's jstack:
  * dag-scheduler-event-loop ⇄ broadcast-exchange-24, hung forever at 0%
  * CPU). The materializing job — one RDD-level `runJob` whose tasks also
  * fold their partition (a row count by default; connectedComponents'
  * label sum, so its convergence test needs no job of its own) — runs
  * while the calling driver thread is the RDD's ONLY referent, so
  * markCheckpointed completes before any concurrent planner thread can
  * touch the RDD. It is never a SQL aggregate over a lazily checkpointed
  * frame: that planner-owned job is the deadlock shape itself.
  * CheckpointingSpec pins the discipline: `isCheckpointed` must already be
  * true when eager() returns — deleting the materializing job fails that
  * spec deterministically, it does not just re-open an intermittent race.
  *
  * Why the unpersist rotation: every truncated round leaves cached blocks
  * behind (the local path's localCheckpoint blocks, the reliable path's
  * pre-checkpoint cache). Across up to maxIter rounds those label-map RDDs
  * would pile up in executor storage on a long-running job, so once a
  * round's materializing job returns, all OLDER rounds' blocks are unpersisted:
  * future plans reference only the newest checkpointed RDD (a
  * localCheckpointed RDD is never recomputed — blocks either exist or the
  * job has already failed — and the reliable path re-reads its checkpoint
  * files, not the cache). */
private[graft] object Checkpointing {

  /** Multi-consumer STAGE materialization for composed passes (p90/p91:
    * clean/pruned/bal each feed two heavy consumers — one plan would
    * recompute the shared prefix per consumer). Dataset-level and EAGER by
    * default in both tiers, so the r11 lazy-RDD deadlock shape cannot
    * occur here. Local tier (executor-local blocks, 2× faster) by
    * default; set `-Dgraft.stage.reliableCheckpoint=1` AND a SparkContext
    * checkpoint dir to write real checkpoint files instead — on a cluster
    * with executor churn a lost block otherwise forces recomputing the
    * whole shared prefix, exactly what the stage checkpoint exists to
    * avoid. (Stats carried by Dataset.checkpoint are fine here: the
    * compounding-estimate blowup documented below is per-ROUND in
    * iterative loops; a composed pass checkpoints each stage once.)
    *
    * Reliable-tier file RETENTION: stage() cannot delete its own files —
    * only the caller knows when the composed pass's last consumer has run
    * (the Truncator can rotate eagerly because each round provably
    * supersedes the last; stages have no such order). Cleanup is instead
    * delegated to Spark's ContextCleaner: [[graft.core.Engine.builder]]
    * sets `spark.cleaner.referenceTracking.cleanCheckpoints=true`, so a
    * stage's files are deleted when its RDD is garbage-collected — i.e.
    * once no live frame references the stage. Sessions built outside the
    * Engine factory without that conf retain stage files until context
    * stop (Spark's default). */
  def stage(df: DataFrame): DataFrame =
    if (System.getProperty("graft.stage.reliableCheckpoint", "0") == "1") {
      require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "graft.stage.reliableCheckpoint=1 requires sparkContext.setCheckpointDir")
      df.checkpoint()
    } else df.localCheckpoint()

  /** Per-loop truncator. `reliable = true` writes real checkpoint files
    * (caller must have set the SparkContext checkpoint dir) so an
    * executor-churn cluster can re-read them instead of recomputing; the
    * local tier keeps blocks on executors (2× faster, recompute-on-loss
    * unavailable). Not thread-safe — one instance per driver-side loop,
    * which is also the deadlock discipline's own requirement (the loop
    * thread must be the RDD's only referent at eager() time). */
  final class Truncator(reliable: Boolean) {
    private val pendingUnpersist = scala.collection.mutable.ArrayBuffer[RDD[_]]()

    /** Checkpoint + materialize `rdd` eagerly in this thread; rotate out
      * the previous round's blocks. Returns the same RDD, now
      * checkpointed. */
    def eager[T](rdd: RDD[T]): RDD[T] = { eagerFold(rdd)(rowCount); rdd }

    /** [[eager]] whose materializing job also folds each partition;
      * returns the exact sum of the per-partition folds. With `rotate`
      * off the RDD stays out of the rotation until [[release]]. */
    private def eagerFold[T](rdd: RDD[T], rotate: Boolean = true)(fold: Iterator[T] => BigInt): BigInt = {
      if (reliable) { rdd.cache(); rdd.checkpoint() }
      else rdd.localCheckpoint()
      // EAGER: materialize serially, no concurrent planner yet
      val total = rdd.sparkContext.runJob(rdd, fold).sum
      if (rotate) {
        pendingUnpersist += rdd
        // newest is live; older are unreachable
        while (pendingUnpersist.length > 1) release(pendingUnpersist.remove(0))
      }
      total
    }

    /** Free a checkpointed RDD no future plan reads: its blocks and, in
      * the reliable tier, its checkpoint FILES. Spark never cleans those
      * unprompted (cleanCheckpoints defaults off), so a long maxIter loop
      * would otherwise leave one node-sized file set per round on the
      * checkpoint store until context stop. A retired round is safe to
      * free: the newest round's materializing job has returned, its own
      * files are complete, and each round's plan is rebuilt over the
      * newest RDD only. */
    def release(rdd: RDD[_]): Unit = {
      rdd.getCheckpointFile.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(rdd.sparkContext.hadoopConfiguration).delete(p, true)
      }
      // not rdd.unpersist: it WARNs for every locally checkpointed RDD
      Blocks.drop(rdd)
    }

    /** Truncate a DataFrame's lineage AND its carried Statistics: eager
      * checkpoint of its row RDD, then a fresh frame over that RDD (stats
      * reset to the session default — see object scaladoc). */
    def truncate(df: DataFrame): DataFrame = truncateFold(df)(rowCount)._1

    /** [[truncate]] that also returns the sum of `fold` over the
      * checkpointed rows' partitions, computed by the same materializing
      * job (no second plan over the new frame). */
    def truncateFold(df: DataFrame)(fold: Iterator[Row] => BigInt): (DataFrame, BigInt) =
      checkpoint(df, rotate = true)(fold) match { case (out, total, _) => (out, total) }

    /** [[truncate]] for a relation every round reads (an iterative loop's
      * edge list), so it is kept out of the rotation: it lives until the
      * caller passes the returned RDD to [[release]]. Also returns the
      * row count, from the same materializing job. */
    def hold(df: DataFrame): (DataFrame, Long, RDD[Row]) = {
      val (out, rows, rdd) = checkpoint(df, rotate = false)(rowCount)
      (out, rows.toLong, rdd)
    }

    private def checkpoint(df: DataFrame, rotate: Boolean)(
        fold: Iterator[Row] => BigInt): (DataFrame, BigInt, RDD[Row]) = {
      val rdd: RDD[Row] = df.rdd
      val total = eagerFold(rdd, rotate)(fold)
      (df.sparkSession.createDataFrame(rdd, df.schema), total, rdd)
    }
  }

  private def rowCount[T](rows: Iterator[T]): BigInt = BigInt(rows.size)
}
