package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** graft.Dev's timed rep: what it executes and how it counts. */
class DevSpec extends SparkSpec {

  test("Dev rep executes d129's full plan: the Levenshtein projection count() prunes stays") {
    val timer = new Dev.RepTimer(spark)
    try {
      val plan = timer.run("d129_pair_explain", sf("sf0.001")).qe.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), plan)
      assert(plan.toLowerCase.contains("levenshtein"), plan)
    } finally timer.close()
  }

  test("Dev reps of q01 report identical jobs, stages and tasks (job-group attribution, drained bus)") {
    // a slow listener ahead of the timer's on the shared queue delays its
    // events: counters read before the bus drains would come up short
    val lag = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(5)
    }
    spark.sparkContext.addSparkListener(lag)
    val timer = new Dev.RepTimer(spark)
    try {
      val Seq(a, b) = (1 to 2).map(_ => timer.run("q01_pricing_summary", sf("sf0.001")))
      assert(a.jobs > 0 && a.stages > 0 && a.tasks > 0, a.line)
      assert((a.jobs, a.stages, a.tasks) == ((b.jobs, b.stages, b.tasks)), s"${a.line}\n${b.line}")
    } finally {
      timer.close()
      spark.sparkContext.removeSparkListener(lag)
    }
  }

  test("Dev reps count the jobs a query starts while it is built: q01 none, q60 its JSON write") {
    val timer = new Dev.RepTimer(spark)
    try {
      val Seq(q01, q60) = Seq("q01_pricing_summary", "q60_json_roundtrip")
        .map(timer.run(_, sf("sf0.001")))
      assert(q01.buildJobs == 0 && q01.jobs > 0, q01.line)
      assert(q60.buildJobs == 1 && q60.jobs > 1, q60.line)
      assert(q01.line.contains("build_jobs=0"), q01.line)
    } finally timer.close()
  }

  test("warm reps of the corpus queries compile no class: the codegen cache holds graft's working set") {
    // the three perfbench corpus queries generate about 110 classes: at
    // Spark's default 100 entries (four LRU segments of 25) the warm round
    // recompiled 63 of them, and with the AQE-ordered stage id in each
    // class name a warm d22 rep still recompiled up to 12. s173 rides
    // along: AQE broadcast either side of its vote join, whichever shuffle
    // stage finished first, so a warm rep could recompile the join's class
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      core.Engine.CodegenCacheEntries.toString)
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") == "false")
    val names = Seq("d22_jaccard_pairs", "d130_cluster_split", "q68_stream_dedup",
      "s173_label_propagation")
    val timer = new Dev.RepTimer(spark)
    try {
      val Seq(cold, warm) = (1 to 2).map(_ => names.map(timer.run(_, sf("sf0.001"))))
      val lines = names.zip(cold.zip(warm))
        .map { case (n, (c, w)) => s"$n cold: ${c.line}\n$n warm: ${w.line}" }.mkString("\n")
      assert(warm.map(_.janinoCompiles).sum == 0, lines)
    } finally timer.close()
  }
}
