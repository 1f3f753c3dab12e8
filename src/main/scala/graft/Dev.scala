package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}

/** Developer CLI over `SparkEntry.queries`: one local session, four
  * subcommands.
  *
  * {{{
  * runMain graft.Dev plan <sfDir> [query...]       static explain("formatted"); all queries by default
  * runMain graft.Dev exec <sfDir> <query...>       3 timed reps with counters, then the final plan's exchanges
  * runMain graft.Dev scale <query> <dirA> <dirB>   min-of-4 wall per directory, and the ratio
  * runMain graft.Dev bpe-freeze <sfDir> [n]        train n (default 64) BPE merges, print them as a Scala literal
  * }}}
  *
  * `SPARK_GRAFT_CPUS` sizes the session (default 4), as in Verify and Bench.
  * Every timed rep goes through [[RepTimer.run]]. */
object Dev {
  /** One timed rep: wall time and the Spark work its jobs did (jobs run
    * while the query is built included; `buildJobs` counts those alone),
    * plus Janino compiles (codegen cache misses) and JVM JIT time spent
    * during it. `qe` is the executed query, for plan reads. */
  final case class Rep(wallS: Double, jobs: Long, buildJobs: Long, stages: Long, tasks: Long,
                       shuffleWriteBytes: Long, shuffleReadBytes: Long, inputBytes: Long,
                       janinoCompiles: Long, jitMs: Long, qe: QueryExecution) {
    def line: String =
      f"jobs=$jobs build_jobs=$buildJobs stages=$stages tasks=$tasks " +
        f"shuffleW=${shuffleWriteBytes / 1024}KB " +
        f"shuffleR=${shuffleReadBytes / 1024}KB input=${inputBytes / 1024}KB " +
        f"wall=$wallS%.3f s janino_compiles=$janinoCompiles jit_ms=$jitMs"
  }

  /** The local property that tags every job of a rep. The rep also runs in
    * a job group of the same name, but a streaming query moves its own jobs
    * into a group named by its run id; other local properties are inherited
    * by the stream thread unchanged. */
  private val RepKey = "graft.dev.rep"

  /** Set on the jobs a rep starts while its query is built, before the
    * query's own `toRdd`; a stream thread started by the builder inherits
    * it like [[RepKey]]. */
  private val BuildKey = "graft.dev.build"

  /** Runs timed reps of `SparkEntry.queries` on `spark`, each in its own job
    * group, counting the Spark work of that rep alone. */
  final class RepTimer(spark: SparkSession) {
    private val sc = spark.sparkContext
    private val seq = new AtomicLong
    private final class Counts {
      val jobs, buildJobs, stages, tasks, shufW, shufR, input = new AtomicLong
    }
    private val byRep = new ConcurrentHashMap[String, Counts]
    private val stageRep = new ConcurrentHashMap[Int, String]
    private def counts(rep: String) = byRep.computeIfAbsent(rep, _ => new Counts)
    private val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(RepKey))).foreach { rep =>
          counts(rep).jobs.incrementAndGet()
          if (e.properties.getProperty(BuildKey) != null) counts(rep).buildJobs.incrementAndGet()
          e.stageIds.foreach(stageRep.put(_, rep))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(stageRep.get(e.stageInfo.stageId)).foreach(counts(_).stages.incrementAndGet())
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageRep.get(e.stageId)).foreach { rep =>
          val c = counts(rep)
          c.tasks.incrementAndGet()
          Option(e.taskMetrics).foreach { m =>
            c.shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            c.shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
            c.input.addAndGet(m.inputMetrics.bytesRead)
          }
        }
    }
    sc.addSparkListener(listener)

    def close(): Unit = sc.removeSparkListener(listener)

    /** Build `name` over `dir` and execute the query's own QueryExecution
      * with `toRdd`, so every output column is computed (`count()` would
      * plan a pruned query of its own). Counters are read after the
      * listener bus has drained. */
    def run(name: String, dir: String): Rep = {
      val build = SparkEntry.queries(name)
      val rep = s"graft-dev-${seq.incrementAndGet()}"
      sc.setJobGroup(rep, name)
      sc.setLocalProperty(RepKey, rep)
      sc.setLocalProperty(BuildKey, "true")
      val (janino0, jit0) = (janinoCompiles, jitMs)
      val t0 = System.nanoTime()
      val (qe, wallS) =
        try {
          val qe = build(spark, dir).queryExecution
          sc.setLocalProperty(BuildKey, null)
          qe.toRdd.count()
          (qe, (System.nanoTime() - t0) / 1e9)
        } finally {
          sc.setLocalProperty(RepKey, null)
          sc.setLocalProperty(BuildKey, null)
          sc.clearJobGroup()
          spark.catalog.clearCache()
        }
      val (janino, jit) = (janinoCompiles - janino0, jitMs - jit0)
      ListenerBus.drain(sc)
      val c = counts(rep)
      Rep(wallS, c.jobs.get, c.buildJobs.get, c.stages.get, c.tasks.get, c.shufW.get,
        c.shufR.get, c.input.get, janino, jit, qe)
    }
  }

  /** Janino compiles so far in this JVM: each is a codegen cache miss. */
  private[graft] def janinoCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Nanoseconds spent in Janino compiles so far in this JVM. */
  private[graft] def janinoCompileNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  private[graft] def jitMs: Long = {
    val c = java.lang.management.ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else -1L
  }

  /** The exchanges of an executed plan (the final adaptive plan once it
    * has run), one line each with data size and rows; an exchange AQE
    * reused is printed as `REUSED`. */
  private def exchanges(plan: SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
    val out = ArrayBuffer.empty[String]
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    def kb(p: SparkPlan) = p.metrics.get("dataSize").map(_.value / 1024).getOrElse(-1L)
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case r: ReusedExchangeExec =>
          out += s"  REUSED -> ${r.child.getClass.getSimpleName} [${r.child.id}]"
        case e: ShuffleExchangeExec =>
          val rows = e.metrics.get("numOutputRows").map(_.value)
            .orElse(e.metrics.get("shuffleRecordsWritten").map(_.value)).getOrElse(-1L)
          out += f"  ShuffleExchange[${e.id}] ${kb(e)}%6d KB rows=$rows ${e.outputPartitioning}"
          e.children.foreach(walk)
        case b: BroadcastExchangeExec =>
          out += f"  BroadcastExchange[${b.id}] ${kb(b)}%6d KB"
          b.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }

  private val usage =
    "usage: Dev plan <sfDir> [query...] | exec <sfDir> <query...> | " +
      "scale <query> <dirA> <dirB> | bpe-freeze <sfDir> [n]"

  private def requireKnown(names: Seq[String]): Unit = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(", ")}")
  }

  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse("")
    val rest = args.drop(1).toSeq
    cmd match {
      case "plan" => require(rest.nonEmpty, usage); requireKnown(rest.tail)
      case "exec" => require(rest.length >= 2, usage); requireKnown(rest.tail)
      case "scale" => require(rest.length == 3, usage); requireKnown(rest.take(1))
      case "bpe-freeze" => require(rest.nonEmpty, usage)
      case _ => throw new IllegalArgumentException(usage)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = core.Engine.session(s"local[$cpus]", cpus.toInt)
    try cmd match {
      case "plan" =>
        val names = if (rest.length > 1) rest.tail else SparkEntry.queries.keys.toSeq.sorted
        names.foreach { n =>
          println(s"\n===== $n =====")
          try SparkEntry.queries(n)(spark, rest.head).explain("formatted")
          catch { case e: Exception => println(s"explain failed: $e") }
          spark.catalog.clearCache()
        }
      case "exec" =>
        val timer = new RepTimer(spark)
        rest.tail.foreach { n =>
          val reps = (1 to 3).map { i =>
            val r = timer.run(n, rest.head)
            println(s"[exec] $n rep $i: ${r.line}")
            r
          }
          println(s"[exch] $n (rep 3 final plan)")
          exchanges(reps.last.qe.executedPlan).foreach(println)
        }
        timer.close()
      case "scale" =>
        val (q, dirA, dirB) = (rest(0), rest(1), rest(2))
        val timer = new RepTimer(spark)
        def best(dir: String): Double = (1 to 4).map(_ => timer.run(q, dir).wallS).min
        val (a, b) = (best(dirA), best(dirB))
        println(f"[scale] $q $dirA=$a%.3f s $dirB=$b%.3f s ratio=${b / a}%.2f")
        timer.close()
      case "bpe-freeze" =>
        val dir = rest.head
        val n = rest.lift(1).map(_.toInt).getOrElse(64)
        val (merges, rounds) = ops.Bpe.trainBatched(core.Tables.documents(spark, dir), "text", n)
        println(s"// ${merges.length} merges in $rounds rounds from $dir")
        println(merges.map { case (a, b) => s"""("$a", "$b")""" }
          .grouped(4).map(_.mkString(", ")).mkString("Seq(\n  ", ",\n  ", ")"))
    } finally spark.stop()
  }
}
