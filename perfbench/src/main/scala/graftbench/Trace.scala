package graftbench

import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graftbench.Internals
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One interval at a layer boundary. All spans of one query share `query`;
  * `parent` is the span that caused this one (0 for a query span). A query
  * has `build` and `execute` children; each of those has the Catalyst
  * `plan` spans and Spark `job` spans that ran inside it, and a job has its
  * `stage` spans. */
final case class Span(id: Long, parent: Long, query: Long, kind: String, name: String,
                      startMs: Double, var endMs: Double)

/** Work counted at one phase span (a query's `build` or `execute`). */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, taskWaitMs, taskGcMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, shuffleRecords, spillBytes = 0L
  var inputBytes, outputBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var batches, triggerMs, batchPlanningMs, addBatchMs, commitMs = 0L
  var stateRows, stateMemBytes = 0L

  def fields: Seq[(String, Long)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_ms" -> taskRunMs, "task_cpu_ns" -> taskCpuNs,
    "task_wait_ms" -> taskWaitMs, "task_gc_ms" -> taskGcMs,
    "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_records" -> shuffleRecords, "spill_bytes" -> spillBytes,
    "input_bytes" -> inputBytes, "output_bytes" -> outputBytes,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
    "planning_ms" -> planningMs,
    "batches" -> batches, "trigger_ms" -> triggerMs,
    "batch_planning_ms" -> batchPlanningMs, "add_batch_ms" -> addBatchMs,
    "commit_ms" -> commitMs, "state_rows" -> stateRows, "state_mem_bytes" -> stateMemBytes)
}

/** Harness-side tracer: spans opened around the calls into graft, plus a
  * `SparkListener` that hangs the Spark jobs and stages each phase started
  * under it and sums their task metrics into the phase's [[Counters]].
  *
  * Jobs are attributed by the [[Trace.SpanKey]] local property, which Spark
  * copies into every job the phase submits, including jobs of streaming
  * threads the phase starts (local properties are inherited by child
  * threads). Planning phases and streaming progress carry no properties and
  * are attributed by time; one query runs at a time, so time is exact.
  *
  * Streaming progress arrives as `StreamingQueryListener` events through
  * the context's bus: graft runs its streams on internal child sessions,
  * whose per-session listener registries the harness cannot reach.
  *
  * Counters are only complete after [[Internals.drain]]: the bus is
  * asynchronous. Spans stay in memory until the run writes them out. */
final class Trace extends SparkListener {
  import Trace._

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private var nextId = 0L
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private val phases = mutable.ArrayBuffer.empty[Span]
  private val phaseById = mutable.HashMap.empty[Long, Span]
  private val counters = mutable.HashMap.empty[Long, Counters]
  private val jobSpans = mutable.HashMap.empty[Int, Span]
  private val stageOwner = mutable.HashMap.empty[Int, (Long, Span)] // stage -> (phase id, job span)
  private val stageSubmit = mutable.HashMap.empty[Int, Long]

  private def add(parent: Long, query: Long, kind: String, name: String,
                  start: Double, end: Double): Span = {
    nextId += 1
    val s = Span(nextId, parent, query, kind, name, start, end)
    spanBuf += s
    s
  }

  /** Open a span now; a `build`/`execute` span also starts a counter set. */
  def open(parent: Long, query: Long, kind: String, name: String): Span = synchronized {
    val s = add(parent, if (query == 0) nextId + 1 else query, kind, name, nowMs, Double.NaN)
    if (kind == "build" || kind == "execute") {
      phases += s; phaseById(s.id) = s; counters(s.id) = new Counters
    }
    s
  }

  def close(s: Span): Unit = synchronized { s.endMs = nowMs }

  def spans: Seq[Span] = synchronized(spanBuf.toList)
  def countersOf(phase: Span): Map[String, Long] = synchronized(counters(phase.id).fields.toMap)

  private def phaseAt(tMs: Double): Option[Span] =
    phases.reverseIterator.find(p => p.startMs <= tMs && !(p.endMs < tMs))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    for {
      props <- Option(e.properties)
      id <- Option(props.getProperty(SpanKey))
      phase <- phaseById.get(id.toLong)
    } {
      counters(phase.id).jobs += 1
      val job = add(phase.id, phase.query, "job", s"job ${e.jobId}", e.time.toDouble, Double.NaN)
      jobSpans(e.jobId) = job
      e.stageInfos.foreach(si => stageOwner(si.stageId) = (phase.id, job))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpans.remove(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for ((phase, job) <- stageOwner.get(si.stageId); start <- si.submissionTime) {
      counters(phase).stages += 1
      add(job.id, job.query, "stage", s"stage ${si.stageId}", start.toDouble,
        si.completionTime.getOrElse(start).toDouble)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for ((phase, _) <- stageOwner.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counters(phase)
      c.tasks += 1
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.taskGcMs += m.jvmGCTime
      stageSubmit.get(e.stageId).foreach(s => c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s))
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd => onSqlEnd(end)
    case p: StreamingQueryListener.QueryProgressEvent => onProgress(p)
    case _ =>
  }

  private def onSqlEnd(end: SparkListenerSQLExecutionEnd): Unit = synchronized {
    for (qe <- Internals.queryExecution(end); ph = qe.tracker.phases if ph.nonEmpty)
      phaseAt(ph.values.map(_.startTimeMs).min.toDouble)
        .foreach(addPlanning(_, qe.tracker, s"sql ${end.executionId}"))
  }

  /** Count a query's Catalyst phases under `phase` and hang a `plan` span
    * there. The harness calls this for the DataFrame a builder returns: its
    * analysis ran inside the builder call, and the write that materializes
    * it plans a new execution, which [[onSqlEnd]] counts. */
  def addPlanning(phase: Span, tracker: QueryPlanningTracker, name: String): Unit = synchronized {
    val ph = tracker.phases
    if (ph.nonEmpty) {
      val c = counters(phase.id)
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      c.analysisMs += ms(QueryPlanningTracker.ANALYSIS)
      c.optimizationMs += ms(QueryPlanningTracker.OPTIMIZATION)
      c.planningMs += ms(QueryPlanningTracker.PLANNING)
      add(phase.id, phase.query, "plan", name,
        ph.values.map(_.startTimeMs).min.toDouble, ph.values.map(_.endTimeMs).max.toDouble)
    }
  }

  private def onProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val t = Instant.parse(p.timestamp).toEpochMilli.toDouble
    phaseAt(t).foreach { phase =>
      val c = counters(phase.id)
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      c.batches += 1
      c.triggerMs += d.getOrElse("triggerExecution", 0L)
      c.batchPlanningMs += d.getOrElse("queryPlanning", 0L)
      c.addBatchMs += d.getOrElse("addBatch", 0L)
      c.commitMs += d.getOrElse("commitOffsets", 0L) + d.getOrElse("walCommit", 0L)
      c.stateRows = math.max(c.stateRows, p.stateOperators.map(_.numRowsTotal).sum)
      c.stateMemBytes = math.max(c.stateMemBytes, p.stateOperators.map(_.memoryUsedBytes).sum)
    }
  }
}

object Trace {
  /** Local property naming the phase span a job belongs to. */
  val SpanKey = "graftbench.span"
}
