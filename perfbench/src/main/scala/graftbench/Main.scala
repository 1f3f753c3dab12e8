package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbench.Internals

/** One benchmark run of one workload, in one JVM: session start, warm-up
  * passes, then timed passes over the workload's fixed query list for at
  * least `--seconds` and at least `MinPasses` untraced passes. The
  * session is `local[N]` with N the cores the process may run on. The
  * first warm-up pass writes every query's full output as parquet for the
  * caller to check. With `--trace 1` the first half of the timed passes
  * runs untraced and the second half traced, and the kernel probes run
  * after them. Writes a JSON report to `--out`; `perfbench/run.py` turns it
  * into metrics.
  *
  * Usage: graftbench.Main --data DIR --queries q1,q2 --seconds S --trace 0|1
  *   --out FILE --verify-dir DIR --warmup N --limit-s S */
object Main {
  /** Untraced timed passes a run makes however long they take, so that
    * `pass_s` is a median of at least three. */
  val MinPasses = 3

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val queries = o("queries").split(",").toSeq.filter(_.nonEmpty)
    val unknown = queries.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not in graft.SparkEntry.queries: ${unknown.mkString(", ")}")
    val (data, seconds, traced) = (o("data"), o("seconds").toDouble, o("trace") == "1")
    val cores = Runtime.getRuntime.availableProcessors

    val t0 = System.nanoTime()
    val spark = graft.core.Engine.session(s"local[$cores]", cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext
    val runner = new Runner(spark, data, o("limit-s").toDouble)

    val results = ArrayBuffer.empty[QueryResult]
    val passes = ArrayBuffer.empty[(Int, Boolean, Double)]
    def runPass(p: Int, trace: Option[Trace], verifyDir: Option[String] = None): (Double, Seq[QueryResult]) = {
      val s = System.nanoTime()
      val rs = queries.map { q =>
        verifyDir match {
          case Some(d) => runner.run(q, p, trace, df => df.coalesce(1).write.mode("overwrite").parquet(s"$d/$q"))
          case None => runner.run(q, p, trace)
        }
      }
      ((System.nanoTime() - s) / 1e9, rs)
    }

    // warm-up; its first pass also writes every query's full output for checking
    val warmup = o("warmup").toInt
    require(warmup >= 1, "at least one warm-up pass: it writes the outputs to check")
    val warm = (1 to warmup).map(p => runPass(-p, None, Some(o("verify-dir")).filter(_ => p == 1)))
    val setupEndMs = System.currentTimeMillis()

    // timed passes; a traced run times its first half untraced
    val trace = if (traced) Some(new Trace) else None
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var p = 0
    def timedPass(tr: Option[Trace]): Unit = {
      p += 1
      val (wall, rs) = runPass(p, tr)
      passes += ((p, tr.isDefined, wall)); results ++= rs
    }
    do timedPass(None) while (elapsed < (if (traced) seconds / 2 else seconds) || p < MinPasses)
    val jvm = trace.map { t =>
      sc.addSparkListener(t)
      val before = JvmCounters.read()
      val n0 = p
      do timedPass(trace) while (elapsed < seconds)
      Internals.drain(sc)
      sc.removeSparkListener(t)
      JvmCounters.read().perPass(before, p - n0)
    }
    val kernels = if (traced) Kernels.measure(spark, data) else Nil

    runner.shutdown()

    val report = Json.obj(
      "session_start_s" -> sessionS,
      "setup_end_epoch_ms" -> setupEndMs,
      "warmup_pass_s" -> warm.map(_._1),
      "warmup_errors" -> warm.drop(1).flatMap(_._2).filter(_.failed).map(r => s"${r.name}: ${r.error.get}"),
      "passes" -> passes.map { case (n, t, w) => Json.obj("pass" -> n, "traced" -> t, "wall_s" -> w) },
      "queries" -> results.map(queryJson),
      "verify" -> warm.head._2.map(r => Json.obj("name" -> r.name, "error" -> r.error.orNull)),
      "oracle_sql" -> Json.obj(queries.map(q => q -> graft.SparkEntry.oracleSql.get(q).orNull): _*),
      "jvm" -> jvm.map(j => Json.obj(j: _*)).orNull,
      "kernels" -> Json.obj(kernels: _*),
      "spans" -> trace.map(_.spans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
        "query" -> s.query, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs))).getOrElse(Nil),
      "peak_rss_mb" -> peakRssMb(),
      "cores" -> cores)
    Files.writeString(Paths.get(o("out")), Json.render(report))
    spark.stop()
  }

  private def queryJson(r: QueryResult): Json.Obj = Json.obj(
    "name" -> r.name, "pass" -> r.pass, "traced" -> r.traced,
    "build_s" -> r.buildS, "exec_s" -> r.execS, "total_s" -> r.totalS,
    "error" -> r.error.orNull, "timed_out" -> r.timedOut,
    "counters" -> Json.obj(r.counters.toSeq.map { case (k, c) => k -> Json.obj(c.toSeq: _*) }: _*))

  /** Process high-water resident set, from the kernel. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}

/** JVM-wide counters the traced passes move: JIT, GC and Spark codegen. */
final case class JvmCounters(jitMs: Long, gcMs: Long, codegenNs: Long, codegenClasses: Long) {
  def perPass(before: JvmCounters, passes: Int): Seq[(String, Any)] = {
    val n = math.max(passes, 1).toDouble
    Seq("jit_ms" -> (jitMs - before.jitMs) / n, "gc_ms" -> (gcMs - before.gcMs) / n,
      "codegen_compile_ms" -> (codegenNs - before.codegenNs) / 1e6 / n,
      "codegen_classes" -> (codegenClasses - before.codegenClasses) / n, "passes" -> passes)
  }
}

object JvmCounters {
  def read(): JvmCounters = JvmCounters(
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
    CodeGenerator.compileTime,
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
}

/** Throughput of graft's native kernels (`graft.functions`), each as a
  * projection-only `noop` write over a cached input built from the
  * workload's own corpus, so only the kernel and the scan of the cache are
  * timed. Rows per second, median of three runs. */
object Kernels {
  private val Copies = 20 // corpus copies: enough rows that the kernel, not job launch, dominates
  private val PairSide = 300

  def measure(spark: SparkSession, dir: String): Seq[(String, Any)] = {
    import graft.functions._
    import graft.functions.TextFunctions.{shingles, tokens}
    val docs = graft.core.Tables.table(spark, dir, "documents")
      .select(col("text"), explode(sequence(lit(1), lit(Copies))).as("copy"))
      .select(col("text"), tokens(col("text")).as("tok"),
        array_join(tokens(col("text")), " ").as("joined"),
        array_distinct(shingles(col("text"), 5)).as("sh"))
      .repartition(spark.sparkContext.defaultParallelism).cache()
    val emb = graft.core.Tables.table(spark, dir, "embeddings").select(col("vec_id"), col("embedding")).cache()
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val side = emb.orderBy("vec_id").limit(PairSide)
    val pairs = side.select(col("embedding").as("a")).crossJoin(side.select(col("embedding").as("b")))
      .repartition(spark.sparkContext.defaultParallelism).cache()
    val embRows = emb.select(col("embedding"), explode(sequence(lit(1), lit(Copies))).as("copy"))
      .repartition(spark.sparkContext.defaultParallelism).cache()
    val nDocs = docs.count().toDouble
    val nEmb = embRows.count().toDouble
    val nPairs = pairs.count().toDouble
    def rate(rows: Double, df: DataFrame): Double = {
      val ts = (1 to 3).map { _ =>
        val s = System.nanoTime(); Materialize.noop(df); (System.nanoTime() - s) / 1e9
      }.sorted
      rows / ts(1)
    }
    val out = Seq(
      "word_shingles_rows_per_s" -> rate(nDocs, docs.select(ShingleExpression.wordShingles(spark, col("joined"), 5))),
      "min_hash64_rows_per_s" -> rate(nDocs, docs.select(MinHashExpression.minHash64(spark, col("sh"), 64))),
      "sim_hash60_rows_per_s" -> rate(nDocs, docs.select(SimHashExpression.simHash60(spark, col("tok")))),
      "lsh_buckets_rows_per_s" -> rate(nEmb, embRows.select(LshExpressions.lshBuckets(spark, col("embedding"), 8, 4, dim))),
      "token_counts_rows_per_s" -> rate(nDocs, docs.select(TokenCountsExpression.tokenCounts(spark, col("tok")))),
      "cosine_pairs_per_s" -> rate(nPairs, pairs.select(VectorExpressions.cosineNative(spark, col("a"), col("b")))))
    spark.catalog.clearCache()
    out
  }
}

/** Minimal JSON rendering for the run report. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case Obj(fs) => fs.map { case (k, x) => s"${str(k)}: ${render(x)}" }.mkString("{", ", ", "}")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
