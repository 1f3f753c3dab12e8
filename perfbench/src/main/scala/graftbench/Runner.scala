package graftbench

import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbench.Internals

object Materialize {
  /** The one timed action: every row and every column of `df` goes to the
    * `noop` sink, so Catalyst cannot prune output columns the way it does
    * for `count()`. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** Outcome of one query execution. `counters` is a snapshot of the traced
  * phases' work (`build`, `execute`), taken after the listener bus drained;
  * it is empty for an untraced run. */
final case class QueryResult(name: String, pass: Int, traced: Boolean,
                             buildS: Double, execS: Double, totalS: Double,
                             error: Option[String], timedOut: Boolean,
                             counters: Map[String, Map[String, Long]]) {
  def failed: Boolean = error.isDefined
}

/** Runs graft's queries one at a time (closed loop, one client):
  * the builder call `SparkEntry.queries(name)(spark, dir)` and then one
  * materializing action. Each query runs in its own job group, which a
  * watchdog cancels once the query is past `limitS`; a cancelled query is a
  * failure. Every query ends with `catalog.clearCache()`, as `Verify` does. */
final class Runner(spark: SparkSession, dir: String, limitS: Double,
                   queries: String => (SparkSession, String) => DataFrame = graft.SparkEntry.queries) {
  private val sc = spark.sparkContext
  private var seq = 0L
  private val watchdog: ScheduledExecutorService = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "graftbench-watchdog"); t.setDaemon(true); t
  }

  def shutdown(): Unit = watchdog.shutdownNow(): Unit

  /** Build `name` and hand it to `action`. With a `trace`, the query, its
    * build and its execute phase are spans, and the Spark work of each
    * phase is counted under it. */
  def run(name: String, pass: Int, trace: Option[Trace] = None,
          action: DataFrame => Unit = Materialize.noop): QueryResult = {
    val build = queries(name)
    seq += 1
    val group = s"graftbench-$seq"
    val timedOut = new AtomicBoolean(false)
    sc.setJobGroup(group, name, interruptOnCancel = true)
    // past the limit, cancel every job the group starts until the query returns
    val cancel = watchdog.scheduleAtFixedRate(() => {
      timedOut.set(true); sc.cancelJobGroup(group)
    }, (limitS * 1000).toLong, 200, TimeUnit.MILLISECONDS)
    val qSpan = trace.map(_.open(0, 0, "query", name))
    val phases = ArrayBuffer.empty[Span]
    def phase[T](kind: String)(body: => T): T = {
      val s = for (t <- trace; q <- qSpan) yield t.open(q.id, q.id, kind, name)
      s.foreach { x => phases += x; sc.setLocalProperty(Trace.SpanKey, x.id.toString) }
      try body
      finally {
        sc.setLocalProperty(Trace.SpanKey, null)
        for (t <- trace; x <- s) t.close(x)
      }
    }
    val t0 = System.nanoTime()
    var t1 = t0
    var t2 = t0
    val error =
      try {
        val df = phase("build")(build(spark, dir))
        t1 = System.nanoTime()
        for (t <- trace; b <- phases.headOption) t.addPlanning(b, df.queryExecution.tracker, "built DataFrame")
        phase("execute")(action(df))
        None
      } catch {
        case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}")
      } finally {
        t2 = System.nanoTime()
        cancel.cancel(false)
        sc.clearJobGroup()
        spark.catalog.clearCache()
      }
    if (t1 == t0) t1 = t2
    for (t <- trace; q <- qSpan) t.close(q)
    val counters = trace.map { t =>
      Internals.drain(sc)
      phases.map(s => s.kind -> t.countersOf(s)).toMap
    }.getOrElse(Map.empty[String, Map[String, Long]])
    // past the limit the query fails, whether or not a cancel reached it
    val failure = if (timedOut.get) Some(s"time limit ${limitS}s: ${error.getOrElse("finished late")}") else error
    QueryResult(name, pass, trace.isDefined, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t2 - t0) / 1e9,
      failure, timedOut.get, counters)
  }
}
