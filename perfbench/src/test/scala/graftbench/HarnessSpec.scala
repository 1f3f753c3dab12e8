package graftbench

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbench.Internals
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the harness's Spark side: what a timed query runs, how a
  * time-limit cancel counts, and when counters may be read.
  *
  *     cd perfbench && sbt test */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = graft.core.Engine.session("local[4]", 4)
  private val base = new java.io.File("data/sf0.01").getAbsolutePath

  override def afterAll(): Unit = spark.stop()

  private def runner(qs: (String, SparkSession => DataFrame)*)(limitS: Double = 60) =
    new Runner(spark, base, limitS, qs.toMap.map { case (k, f) => k -> ((s: SparkSession, _: String) => f(s)) })

  test("a timed query writes every output column (count() would not)") {
    val touched = spark.sparkContext.longAccumulator("touched")
    val touch = udf { (x: Long) => touched.add(1); x }
    val build = (s: SparkSession) => s.range(1000).select(col("id"), touch(col("id")).as("t"))
    val r = runner("touch" -> build)()
    assert(r.run("touch", 1).error.isEmpty)
    assert(touched.value == 1000)
    build(spark).count()
    assert(touched.value == 1000, "count() prunes the projection the timed action must run")
  }

  test("d129's timed plan keeps the Levenshtein projection") {
    val dir = Files.createTempDirectory("d129").toString
    spark.read.parquet(s"$base/documents.parquet").orderBy("doc_id").limit(40)
      .write.parquet(s"$dir/documents.parquet")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case end: SparkListenerSQLExecutionEnd =>
          Internals.queryExecution(end).foreach(qe => plans.add(qe.executedPlan.toString))
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(l)
    val r = new Runner(spark, dir, 60).run("d129_pair_explain", 1)
    Internals.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(l)
    assert(r.error.isEmpty, r.error)
    val write = plans.toArray.map(_.toString).toSeq.filter(_.contains("NoopWrite"))
    assert(write.nonEmpty && write.forall(_.toLowerCase.contains("levenshtein")), write.mkString("\n"))
    assert(!sys.props.contains("graft.bench.sharePrefix"), "the harness must not share query prefixes")
  }

  test("a query past its time limit is cancelled by job group and counts as failed") {
    val slow = (s: SparkSession) => {
      import s.implicits._
      s.range(8).repartition(4).map { x => Thread.sleep(30000); x }.toDF()
    }
    val r = runner("slow" -> slow, "fast" -> ((s: SparkSession) => s.range(10).toDF()))(limitS = 1)
    val t0 = System.nanoTime()
    val res = r.run("slow", 1)
    assert((System.nanoTime() - t0) / 1e9 < 20, "the cancel interrupts the running tasks")
    assert(res.failed && res.timedOut && res.error.get.startsWith("time limit"))
    val next = r.run("fast", 1)
    assert(!next.failed && !next.timedOut, "the next query runs in a fresh job group")
  }

  test("counters are read after the listener bus drains") {
    val t = new Trace
    // a slow listener ahead of the tracer on the shared queue delays its events
    val lag = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(20)
    }
    spark.sparkContext.addSparkListener(lag)
    spark.sparkContext.addSparkListener(t)
    val r = runner("p16" -> ((s: SparkSession) => s.range(0, 1600, 1, 16).toDF()),
      "p8" -> ((s: SparkSession) => s.range(0, 800, 1, 8).toDF()))()
    val a = r.run("p16", 1, Some(t))
    val b = r.run("p8", 1, Some(t))
    spark.sparkContext.removeSparkListener(lag)
    spark.sparkContext.removeSparkListener(t)
    assert(a.counters("execute")("tasks") == 16)
    assert(b.counters("execute")("tasks") == 8)
    assert(a.counters("execute")("jobs") == 1 && a.counters("build")("jobs") == 0)
  }
}
