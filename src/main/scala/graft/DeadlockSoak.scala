package graft

import org.apache.spark.sql.functions._

/** Dev tool: repeated-run soak for the ITERATIVE family's checkpoint
  * discipline — the round-11 verdict caught an intermittent driver
  * DEADLOCK (lazy `rdd.localCheckpoint()` materialized later by a
  * multi-threaded job: `RDD.doCheckpoint`'s RDDCheckpointData$-then-RDD-
  * monitor lock order vs an AQE broadcast-exchange thread's
  * getCacheLocs RDD-monitor-then-class-lock order) that a SINGLE green
  * test run can miss. This main loops the two trigger shapes back to
  * back in one JVM:
  *   - long-path connectedComponents (the PropertySpec trigger: a
  *     [[longPath]] long enough to span two iterative-cache partitions, so the
  *     partition-local union-find seed leaves several pointer-jump rounds
  *     with broadcast-heavy hop joins), and
  *   - a pageRank iteration loop (pre-fix the WIDEST window: an explicit
  *     broadcast exchange every round).
  * A regression shows up as a hang (run under `timeout`); correctness is
  * asserted every iteration so a racy wrong answer can't pass silently.
  * Usage: `runMain graft.DeadlockSoak [iterations] [threads]` (defaults
  * 10 iterations; threads = SPARK_GRAFT_CPUS or the host's core count,
  * floored at 8 — a hardcoded 32 oversubscribed small CI hosts, making
  * the `timeout`-gated hang detection flaky: slow ≠ deadlocked; but a
  * 2-4 thread master exerts too little scheduler/broadcast-exchange
  * interleaving pressure to re-open the r11 race window, so a core-count
  * default on a small host would weaken the soak's detection power while
  * still "passing". 8 threads modestly oversubscribes a small host
  * (keeping the race window exercised) without the 32-thread timeout
  * flakiness; an explicit arg/env still overrides in either direction. */
object DeadlockSoak {
  /** Edges of a 20,000-node path, ids 0..19999 in path order (diameter
    * 19,999). Its symmetrized edge list is 39,998 rows — two
    * iterative-cache partitions of 32k rows — so the partition-local
    * union-find seed of connectedComponents leaves fragments and the loop
    * still runs several merge rounds. */
  val longPath: Seq[(Long, Long)] = (0L until 19999L).map(i => (i, i + 1))

  def main(args: Array[String]): Unit = {
    val iterations = args.headOption.map(_.toInt).getOrElse(10)
    val threads = args.lift(1).map(_.toInt)
      .orElse(sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt))
      // explicit choices honored above the 2-thread minimum a deadlock
      // needs (a 2-thread repro run stays 2); the DEFAULT floors at 8 so
      // small hosts keep enough scheduler/broadcast interleaving pressure
      // to exercise the r11 race window
      .map(_.max(2))
      .getOrElse(Runtime.getRuntime.availableProcessors.max(8))
    val spark = core.Engine.session(s"local[$threads]", threads)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val t0 = System.nanoTime()
    for (i <- 1 to iterations) {
      // long path over two edge partitions: the local seed cuts it into
      // fragments, and merging them takes several rounds, each with
      // broadcast-planned hop joins
      val cc = ops.Dedup.connectedComponents(longPath.toDF("a", "b"), "a", "b").collect()
      require(cc.length == 20000 && cc.forall(_.getLong(1) == 0L),
        s"soak iter $i: CC wrong (${cc.length} rows)")
      // pageRank on a small dense-ish graph: every round broadcasts the
      // rank relation — the widest pre-fix race window
      val prEdges = (0L until 200L).flatMap(k => Seq((k, (k + 1) % 200), (k, (k * 7) % 200)))
        .filter(e => e._1 != e._2).toDF("s", "d")
      val pr = ops.Graph.pageRank(prEdges, "s", "d", iters = 6)
      val total = pr.agg(sum(col("pr"))).head().getDouble(0)
      require(math.abs(total - 1.0) < 0.01, s"soak iter $i: PR mass $total")
      println(f"[soak] iter $i/$iterations ok (${(System.nanoTime() - t0) / 1e9}%.1f s cumulative)")
    }
    println(s"[soak] PASS: $iterations iterations, no hang, all correct")
    spark.stop()
  }
}
