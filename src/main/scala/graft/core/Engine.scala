package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session factory + table catalog for the graft engine.
  *
  * The reference engine (agnes-rs/agnes, /root/reference/src/lib.rs:9-55) is a
  * single-node in-memory columnar library; graft re-expresses its capabilities
  * on Apache Spark. Everything here is plain public Spark API: the session is
  * tuned for deterministic, oracle-comparable output (UTC timezone, AQE on,
  * shuffle parallelism sized to cores rather than the 200 default).
  */
object Engine {

  /** Standard configs applied to any graft session. `nanosAsLong` is needed
    * because the driver test data writes `events.ts` as parquet
    * TIMESTAMP(NANOS), which Spark's vectorized reader otherwise rejects.
    */
  def builder(master: String = "local[32]", cpus: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // default-on, but explicit: AQE splits moderately skewed join partitions
      // at runtime; ScaleJoins.saltedJoin covers the pathological keys beyond it
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // reclaim checkpoint FILES when their RDD is garbage-collected:
      // Checkpointing.stage's reliable tier (p90/p91 composed passes) writes
      // one file set per stage and Spark never deletes them unprompted — a
      // long-lived session running composed passes repeatedly would grow the
      // checkpoint store unboundedly (the iterative Truncator rotates its own
      // files explicitly; this covers the stage tier, whose frames' lifetimes
      // only the consumer knows). Context-level conf: applies when this
      // builder creates the context.
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // Session-artifact isolation OFF (round 16 — the streaming-family
      // JIT fix): Spark 4's codegen cache is keyed by (classloader,
      // source), and with isolation on, every session UUID gets its own
      // artifact classloader which task threads adopt — a started
      // streaming query runs on a CLONED session, so each run re-Janino'd
      // every generated class (q94: 25 compiles/rep, 23 byte-identical
      // to the previous rep's; 6.80 s driver vs 2.77 s builder warm at
      // one HEAD — four rounds of incidents). graft adds no session
      // artifacts (addArtifact is a Spark Connect multi-tenancy surface),
      // so isolation buys nothing here and costs the whole codegen cache
      // per streaming run; with it off, a warm q94 rep compiles only its 2
      // fresh-lambda-id serde projections and a warm q68 rep compiles
      // nothing (`graft.Dev exec` at sf0.01). Must be set at session
      // creation — a runtime conf.set is documented to no-op.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // hold every class graft generates (see CodegenCacheEntries)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // Whole-stage class names without the codegen stage id. AQE numbers
      // a query's codegen stages in the order its query stages are
      // planned, which varies run to run, and the id in the class name is
      // the only part of the source it changes: with it, a warm d22 rep
      // recompiled 0–12 classes whose sources differed only in the id.
      // The id stays in the plan (`*(n)`).
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")

  /** Entries in Spark's codegen cache (default 100), sized so the cache
    * holds every class graft generates and a warm query compiles nothing.
    *
    * Measured: with a cache larger than the working set, a run's Janino
    * compiles are its distinct generated classes. Verify over the 181
    * driver queries compiles 1,955 at sf0.01; Bench (whose `count()`
    * prunes columns) compiles 1,519 at sf0.01 and 1,527 at sf0.1. At 100
    * entries a traced perfbench corpus pass (d22, d130, q68) recompiled
    * 121 classes, and one Verify sf0.01 run compiled 4,357. The cache is a
    * Guava LRU split into 4 segments that evict independently, so a
    * working set overflows a segment well before it reaches the whole
    * cache; hence over 2× the largest count. Re-count with
    * `runMain graft.Bench` at the scale in question (the artifact's
    * `janino_compiles`).
    *
    * A static conf: `CodeGenerator` builds its cache once per JVM from the
    * conf of the first session that generates code, so the value applies
    * only to JVMs whose sessions come from [[session]]. */
  val CodegenCacheEntries = 8192

  def session(master: String = "local[32]", cpus: Int = 32): SparkSession = {
    val s = builder(master, cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    tuneParallelism(s)
  }

  /** Key shuffle parallelism off the session's REAL width, not the builder's
    * `cpus` hint: `spark.sql.shuffle.partitions` (the AQE fallback floor)
    * tracks `defaultParallelism`, and
    * `coalescePartitions.initialPartitionNum` starts every shuffle 8× wider
    * so AQE can coalesce DOWN to the advisory byte size per stage. The
    * initial reducer count is the scale knob that must grow with cluster ×
    * data (a 1000-executor session gets ~8000 cores → 64k initial reducers
    * — partition-fitting at 100 TB); the FINAL count per stage is chosen at
    * runtime from observed bytes, so local plans keep their shapes (pinned
    * by PlanFingerprintSpec) and small stages still coalesce to a handful
    * of tasks. Both are runtime SQL confs, so this also repairs sessions
    * whose builder hint mis-stated the cluster (getOrCreate reuse). */
  def tuneParallelism(s: SparkSession): SparkSession = {
    val par = s.sparkContext.defaultParallelism
    s.conf.set("spark.sql.shuffle.partitions", par.toString)
    s.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      (par * 8L).toString)
    s
  }
}

/** Parallelism guard for CPU-heavy per-row operators (shingling, hashing,
  * feature extraction): a small input file arrives as one partition, which
  * would serialize the whole pipeline on one core. `widen` repartitions up to
  * the cluster's default parallelism — and leaves already-parallel inputs
  * (the 100 TB case) untouched, so it never shrinks a big scan.
  *
  * The partition count is read off the planned physical tree instead of
  * `df.rdd`: materializing the RDD would bolt a row-deserializing conversion
  * onto every widened query (and, under AQE, `.rdd` on a plan containing a
  * shuffle would eagerly EXECUTE the upstream stages). The physical plan is
  * cached on the Dataset, so the common wide case (returned unchanged) plans
  * exactly once.
  */
object Par {
  import org.apache.spark.sql.catalyst.plans.logical._
  import org.apache.spark.sql.execution.FileSourceScanExec
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

  def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // any operator that induces its own exchange (aggregate/join/sort/
    // distinct/repartition/window) already spreads the data across
    // spark.sql.shuffle.partitions — widen only ever touches scan-shaped
    // plans. (Checked on the LOGICAL plan: the pre-AQE physical tree has no
    // Exchange nodes yet — EnsureRequirements runs inside AQE — so a
    // physical ShuffleExchange probe would silently never fire.)
    val inducesExchange = df.queryExecution.optimizedPlan.exists {
      case _: Aggregate | _: Join | _: Distinct | _: RepartitionOperation |
           _: Window | _: Sort => true
      case _ => false
    }
    if (inducesExchange) return df
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan // AQE wraps the tree in a leaf
      case p => p
    }
    // the relevant width is the WIDEST leaf; file-split counts are computed
    // driver-side from the (cached) file listing / split planning — no job.
    val parts = plan.collectLeaves().map {
      case f: FileSourceScanExec => f.inputRDD.getNumPartitions
      case b: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase =>
        // v2 scans (parquet under v2, Delta/Iceberg connectors): split count
        // comes from the connector's driver-side partition planning
        b.inputRDD.getNumPartitions
      case r: org.apache.spark.sql.execution.RDDScanExec => r.inputRDDs().head.getNumPartitions
      case r: org.apache.spark.sql.execution.ExternalRDDScanExec[_] => r.rdd.getNumPartitions
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        // cached relation: layout is whatever was cached — don't re-shuffle it
        m.relation.cachedPlan.outputPartitioning.numPartitions.max(target)
      case _: org.apache.spark.sql.execution.LocalTableScanExec => 1 // driver-local literal
      case _ =>
        // unknown leaf: ASSUME WIDE. Widen's contract is "never shrink a big
        // scan"; a leaf we can't measure might be one, and skipping the
        // repartition merely costs an unknown narrow source its speedup —
        // the conservative direction. (Assuming narrow would round-robin
        // re-shuffle — and possibly SHRINK — a many-thousand-partition input.)
        target
    }.foldLeft(1)(math.max)
    if (parts < target) df.repartition(target) else df
  }

  /** Partition count for an ITERATIVE LOOP's cached relation:
    * `min(defaultParallelism, ceil(rows / rowsPerPart))`, floored at 1.
    * The CC/pageRank edge and node caches are built at this width by
    * [[edgeCache]]. A cached plan pins its output partitioning (AQE may not
    * coalesce it: `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`
    * defaults false), so a cache built by `repartition(col(key))` keeps the
    * 8× `initialPartitionNum` width (256 partitions of ~2k rows each for
    * d128's sf0.1 edge cache), and every per-round job of the loop then
    * schedules a task wave that wide over cached blocks measured in KB:
    * scheduling overhead in a healthy window, and the amplifier under host
    * contention (d128's 17× driver storms hit exactly these waves). The
    * rule follows the data: f(rows) grows linearly with it and the cap is
    * the session's own parallelism, so a 100 TB run keeps full-width
    * caches while sf0.01 fits one partition. */
  def iterCachePartitions(rows: Long, parallelism: Int,
                          rowsPerPartition: Long = 32768L): Int = {
    require(rowsPerPartition > 0, "rowsPerPartition must be positive")
    val byRows = (rows + rowsPerPartition - 1) / rowsPerPartition
    math.max(1L, math.min(parallelism.toLong, byRows)).toInt
  }

  /** An iterative loop's symmetric edge cache: one `(n, m)` row per
    * direction of every `src`–`dst` edge of `edges`, hash-partitioned on
    * `m` at [[iterCachePartitions]] of its row count, so the edge list
    * crosses the network once, at build, and no round shuffles it. The
    * edge lineage runs once: `truncator` checkpoints the `(a, b)` edge list
    * in one job that also counts it, outside its round rotation, and the
    * cache is built over that checkpoint at its final width, to be
    * materialized by its first consumer's job. Returns the cache, its
    * width and the call that frees the cache and the checkpoint, which
    * must live as long as the cache (a lost cache block is recomputed from
    * it). */
  private[graft] def edgeCache(edges: DataFrame, src: Column, dst: Column,
                               truncator: graft.ops.Checkpointing.Truncator): (DataFrame, Int, () => Unit) = {
    val (e, rows, held) = truncator.hold(edges.select(src.as("a"), dst.as("b")))
    val p = iterCachePartitions(2 * rows, edges.sparkSession.sparkContext.defaultParallelism)
    val sym = e.select(col("a").as("n"), col("b").as("m"))
      .union(e.select(col("b").as("n"), col("a").as("m")))
      .repartition(p, col("m")).cache()
    (sym, p, () => { sym.unpersist(); truncator.release(held) })
  }
}

/** Loaders for the driver-generated test tables (TESTDATA.md). One parquet
  * file per table; `events.ts` has arrived in different physical flavors
  * across driver generations (raw nanosecond longs; naive `timestamp[us]` =
  * TIMESTAMP_NTZ under Spark 4's parquet NTZ inference; tz-aware micros) and
  * is normalized here to ONE shape — a micros TIMESTAMP `ts` plus a raw
  * long `ts_ns` — so precise integer arithmetic (q17/q43 as-of and range
  * joins) and time functions (q18 date_trunc, e32's Timestamp encoder) both
  * work against any generation. The session timezone is pinned UTC
  * ([[Engine.builder]]), so the NTZ→TIMESTAMP cast reads naive wall-clock
  * values as the same UTC instants the oracle engine's `epoch()` assumes.
  */
object Tables {
  import scala.jdk.CollectionConverters._

  import org.apache.hadoop.fs.{FileStatus, Path}
  import org.apache.parquet.format.converter.ParquetMetadataConverter
  import org.apache.parquet.hadoop.Footer
  import org.apache.parquet.hadoop.util.HadoopInputFile
  import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
  import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

  /** Normalize an events-shaped frame (any `ts` flavor) to `ts_ns` long at
    * the original ts position + µs TIMESTAMP `ts` appended last. Pure
    * projection — streaming-safe, used by the file-stream queries too. */
  def normalizeEventTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType => // raw nanos: keep exact ns, floor-divide to µs for ts
      df.withColumnRenamed("ts", "ts_ns")
        .withColumn("ts", timestamp_micros(expr("ts_ns div 1000"))) // integer div: exact µs floor
    case TimestampNTZType | TimestampType => // µs timestamp: derive the ns long
      val cols = df.columns.map {
        case "ts" => (unix_micros(col("ts").cast(TimestampType)) * 1000L).as("ts_ns")
        case c => col(c)
      } :+ col("ts").cast(TimestampType).as("ts")
      df.select(cols.toIndexedSeq: _*)
    case other =>
      throw new IllegalArgumentException(s"events.ts has unsupported type $other")
  }

  /** The schema `spark.read.parquet(path)` infers, read from the parquet
    * footer on the driver. Spark's inference reads the same footer inside a
    * one-task job (`SchemaMergeUtils.mergeSchemasInParallel`), even with
    * `mergeSchema` off; this calls the two functions that task calls, with
    * the session's conf, so Spark's row metadata (nullability, decimals,
    * nested types), `nanosAsLong` and TIMESTAMP_NTZ inference all hold. A
    * directory is read through its first data file in path order, the file
    * Spark's inference reads when there is no summary file. */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val file = dataFiles(path, conf).minBy(_.getPath.toString)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** The rows of the parquet table at `path` (a file, or every data file
    * of a directory): the sum of its footers' row-group counts, read on
    * the driver, so it starts no Spark job. */
  def rowsOf(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    dataFiles(path, conf).iterator.map { f =>
      ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
        ParquetMetadataConverter.NO_FILTER).getBlocks.asScala.map(_.getRowCount).sum
    }.sum
  }

  /** The file at `path`, or the data files of the directory at `path`
    * (no `_`/`.`-prefixed names, as Spark's file index lists them). */
  private def dataFiles(path: String, conf: org.apache.hadoop.conf.Configuration): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    if (!st.isDirectory) Seq(st) else {
      val data = fs.listStatus(p).toSeq.filter { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      require(data.nonEmpty, s"no parquet data file in $path")
      data
    }
  }

  /** A driver table, read with its footer schema ([[schemaOf]]): building
    * the read starts no Spark job. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read.schema(schemaOf(spark, path)).parquet(path)
    if (name == "events") normalizeEventTs(df) else df
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
