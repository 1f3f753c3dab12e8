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
}
