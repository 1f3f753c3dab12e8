package graft

import graft.agg.Folds
import graft.core.Tables
import graft.io.{Csv, CsvDialect}
import graft.ops.{Checkpointing, Chunking, Dedup, Relational, Similarity}
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver contract: the full operator inventory (SURVEY.md §2) plus the
  * corpus-pipeline extensions, each as a runnable query with (where SQL can
  * express it) a DuckDB oracle on the same parquet tables.
  *
  * Numeric-parity convention: every SUM/AVG over double columns goes through
  * DECIMAL(18,2) (exact cents, order-independent) and back to double, so the
  * result is bit-identical between Spark and the oracle regardless of
  * aggregation order. Std-dev is derived from the exact decimal sums via the
  * sum-of-squares formula — the same formula the reference uses
  * (agnes src/stats.rs:139-161).
  */
object SparkEntry {

  // ---- helpers -------------------------------------------------------------
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** Long-lived scoped child sessions, ONE per (SparkContext, conf
    * profile) — round 16, the structural fix for the streaming-family
    * JIT incidents (q94 r13/r15, d22 r10, s131/q127 r14). Spark 4's
    * codegen cache is keyed by (classloader, generated source), and a
    * fresh `newSession()` carries a fresh session-artifact classloader —
    * so the per-run child sessions these queries used for conf scoping
    * invalidated the ENTIRE codegen cache on every run: a q94 rep
    * re-Janino'd all ~25 of its generated classes (probe: 25
    * compiles/rep, 23 byte-identical to the previous rep's) and re-paid
    * C2 on top, 6.80 s driver vs 2.77 s builder warm at the same HEAD.
    * Memoizing ONE child per conf profile keeps the classloader stable,
    * so rep 2+ hits the cache exactly like every batch query does, while
    * still isolating conf + temp catalog from the root session. Keyed by
    * SparkContext (not the root session object): any root over the same
    * context shares the child, and a restarted context naturally gets a
    * fresh one. */
  private val childSessions =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.SparkContext, String), SparkSession]
  private def childSession(s0: SparkSession, profile: String,
                           confs: (String, String)*): SparkSession = {
    // purge entries of STOPPED contexts first: a harness that restarts its
    // SparkContext would otherwise pin one dead (context, session) pair per
    // generation forever (r16 review)
    childSessions.keySet.removeIf(_._1.isStopped)
    childSessions.computeIfAbsent((s0.sparkContext, profile), _ => {
      val s = s0.newSession()
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      s
    })
  }

  /** Length:mtime fingerprint of one source parquet under `dir` — the s148
    * data-fingerprint rule, shared by every amortized-layout cache key so
    * a regenerated source file invalidates the derived layout instead of
    * serving it stale (r16 advice). */
  private def tableFingerprint(s: SparkSession, dir: String, table: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val st = p.getFileSystem(s.sparkContext.hadoopConfiguration).getFileStatus(p)
    s"${st.getLen}:${st.getModificationTime}"
  }

  /** One materialized roundtrip layout per (JVM, kind, dir, source
    * fingerprint): `build` runs on first request, later callers reuse the
    * path, and a JVM shutdown hook reclaims the directory — the
    * temp-layout discipline of the source-roundtrip queries (q154 XML,
    * q155 Derby, s158 index append). The key folds the SOURCE table's
    * length:mtime (r16 advice — the s148 rule): a long-lived JVM whose
    * parquet is regenerated under the same dir must rebuild the layout,
    * not serve the stale one and diverge from the fresh oracle. */
  private val roundtripDirs =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), String]
  private def roundtripDir(kind: String, dir: String, fp: String)(build: String => Unit): String =
    roundtripDirs.computeIfAbsent((kind, dir, fp), _ => {
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_$kind").toString
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(new java.io.File(tmp))
      }))
      build(tmp)
      tmp
    })

  /** The streaming queries' shared child: 8 shuffle partitions = 8
    * state-store instances — the keyspaces here are tiny (event types,
    * LSH buckets, ≤150 users), so 8 stores cut the per-micro-batch
    * checkpoint fsync count 4× without changing any result. */
  private def streamSession(s0: SparkSession): SparkSession =
    childSession(s0, "stream8", "spark.sql.shuffle.partitions" -> "8")

  /** Memory-sink hygiene for the SHARED stream session (r16 review): with
    * newSession()-per-run each run's sink view died with its session; the
    * memoized child retains them, so before (re)starting a fixed-name
    * memory sink we stop any still-active query of that name (an
    * interrupted prior run would otherwise fail every later .start() with
    * "already active") and drop the stale temp view (releasing the prior
    * rep's MemorySink rows). Callers must consume a run's result before
    * the NEXT invocation of the same query — true of every driver surface
    * (Bench counts, Verify writes, specs collect, each before moving on). */
  private def freshMemorySink(s: SparkSession, name: String): Unit = {
    s.streams.active.filter(q => q.name == name).foreach(_.stop())
    s.catalog.dropTempView(name): Unit
  }

  /** Simhash near-dup pair graph (d24 semantics), read by d128 and d130. */
  private def simhashPairGraph(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashPairs(Dedup.simHash(t(s, dir, "documents"), "doc_id", "text"),
      maxDist = 3)

  /** 3-gram Jaccard ≥ 0.8 pair graph (d22 semantics, but uncapped: no
    * maxShingleDf). Four consumers: d73 and d173 read it directly, d95
    * and d172 through [[jaccardCcGraph]]. Each builds its own lineage. */
  private def jaccardPairGraph(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.8)
      .select(col("id_a"), col("id_b"))

  /** The component map over [[jaccardPairGraph]] — the same CC d73
    * computes — read by d95 and d172. */
  private def jaccardCcGraph(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(jaccardPairGraph(s, dir), "id_a", "id_b")

  /** The p90/p91 composed-corpus pass through near-dup cluster dedup
    * (exact dedup → quality floor → boilerplate span prune → LSH pair
    * clusters → cluster resolution) — ONE definition, previously
    * duplicated verbatim in both query bodies. */
  private def composedDedupedBuild(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val keep = Dedup.exact(d, "doc_id", Seq("text")).select(col("doc_id"))
    val clean = d.join(keep, Seq("doc_id"), "left_semi")
      .withColumn("quality", TextFunctions.qualityScore(col("text"), stopwords))
      .filter(col("quality") >= 0.3)
      .transform(Checkpointing.stage) // consumed by repeatedSpans AND the prune anti-join
    // drop documents that are mostly cross-doc boilerplate; the span cap
    // bounds the hot-span aggregate however common a licence block is
    // (a no-op semantically until a span is shared by >10k docs, which
    // the oracle data cannot reach — the oracle omits it)
    val boiler = Dedup.repeatedSpans(clean, "doc_id", "text",
        spanChars = 50, stride = 25, maxSpanDf = 10000)
      .filter(col("repeat_frac") >= 0.5)
      .select(col("id").as("doc_id"))
    // boiler's size is data-dependent (could be most of a mirrored corpus)
    // — no forced broadcast, AQE picks the join strategy from real stats.
    // clean and pruned each feed TWO heavy consumers (spans + anti-join;
    // LSH pair generation + the cluster-resolution join-back): one plan
    // would recompute the shared prefix per consumer, so the multi-use
    // stages materialize once — measured p90 36.6 → 13.0 s on 10× sf0.1
    // (5.6 → 4.1 at sf0.1); the 10× ratio drops 6.5× → 3.1×.
    // Checkpointing.stage = executor-local blocks by default (the tier
    // d73's rounds use); a cluster with executor churn sets
    // -Dgraft.stage.reliableCheckpoint=1 + a checkpointDir for the
    // file-backed tier (see Checkpointing.stage's scaladoc).
    val pruned = clean.join(boiler, Seq("doc_id"), "left_anti")
      .transform(Checkpointing.stage)
    val pairs = Dedup.minHashLsh(pruned, "doc_id", "text",
        n = 3, numHashes = 64, bands = 16, verifyThreshold = 0.8)
      .select(col("id_a"), col("id_b"))
    Dedup.dedupByClusters(pruned, pairs, "doc_id")
  }

  /** Exact long cents of a 2-dp double. The true value is an integer k of
    * cents, the double is within ±ε of k/100, and floor(k + 0.5 ± ε) = k for
    * either sign — so this recovers k exactly with codegen'd double/long ops,
    * no per-row BigDecimal. (Spark's decimal sum BigDecimal-adds EVERY row:
    * measured 7× slower than a long sum at sf0.1.) */
  private def cents(c: Column): Column = floor(c * 100 + lit(0.5))

  /** Exact decimal sum of a 2-dp double column, back to double: a long sum
    * of cents, reconstructed in decimal once per GROUP (the /100 happens at
    * decimal scale ≥ 6, so the double cast sees the exact rational). Bit
    * identical to sum(cast(c as decimal(18,2))) for any |sum| < 10^36 cents. */
  private def dsum(c: Column): Column =
    (sum(cents(c)).cast("decimal(38,0)") / lit(100)).cast("double")

  /** Exact decimal sum of a product of two 2-dp columns. The per-row cents
    * product (|c²| < 2^53 for per-row values ≤ ~$949k, far beyond the data)
    * is split base-10^5 into three long part-sums — each fits a long out to
    * ~9·10^13 rows — and the exact cents² total is rebuilt in decimal once
    * per group. The splits are exact: (c2 - c2%10^10) and (c2%10^10 - c2%10^5)
    * are multiples of their divisor below 2^53, so the double divisions are
    * exact integers; truncated %'s make the three parts sum to c2 for either
    * sign. Decimal division keeps ≥ 6 fractional digits → /10^4 is exact
    * before the final double cast — bit identical to the decimal formulation. */
  private def dsum2(a: Column, b: Column): Column = {
    val c2   = cents(a) * cents(b)
    val lo   = c2 % 100000L
    val midr = c2 % 10000000000L
    val mid  = ((midr - lo).cast("double") / 100000.0).cast("long")
    val hi   = ((c2 - midr).cast("double") / 1.0e10).cast("long")
    ((sum(hi).cast("decimal(38,0)") * lit(10000000000L) +
      sum(mid).cast("decimal(38,0)") * lit(100000L) +
      sum(lo).cast("decimal(38,0)")) / lit(10000)).cast("double")
  }

  val stopwords: Seq[String] = Seq("the", "a")

  /** The frozen BPE tokenizer artifact: the first 48 merges trained by
    * `Bpe.trainBatched` on the sf0.01 corpus (`graft.Dev bpe-freeze`,
    * 64 merges). Training happens once (t97 covers it);
    * production encodes the full corpus with the PUBLISHED list — which is
    * why t102 applies a constant instead of retraining per run, exactly
    * like running a released tokenizer's merges file. */
  val frozenBpeMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"),
    ("s", "t"), ("m", "er"), ("a", "t"), ("l", "u"),
    ("a", "r"), ("p", "ar"), ("j", "o"), ("jo", "in"),
    ("a", "s"), ("as", "h"), ("h", "ash"), ("r", "ow"),
    ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
    ("c", "an"), ("s", "can"), ("c", "o"), ("c", "u"),
    ("co", "lu"), ("colu", "m"), ("colum", "n"), ("cu", "st"),
    ("cust", "o"), ("custo", "mer"), ("f", "i"), ("fi", "l"),
    ("fil", "t"), ("filt", "er"), ("a", "l"), ("al", "l"),
    ("m", "all"), ("s", "mall"), ("g", "e"), ("l", "ow"),
    ("mer", "ge"), ("s", "low"), ("c", "t"), ("ct", "or"),
    ("d", "er"), ("e", "ctor"), ("or", "der"), ("v", "ector"))

  /** Flagship query (driver smoke-checks rows > 0 on sf0.001). */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  // ---- queries -------------------------------------------------------------
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // §2.6 aggregation over multi-column key; §2.8 arithmetic expressions
    "q01_pricing_summary" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(dsum(col("l_quantity")), 2).as("sum_qty"),
          round(dsum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("double"), 2).as("sum_disc_price"),
          round(dsum(col("l_quantity")) / count(lit(1)), 6).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // §2.3 filter + §2.2 projection (predicates push to the parquet scan)
    "q02_filter_project" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_quantity") >= 45 && col("l_discount") >= 0.05 &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00")))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // §2.4 equi-join chain + aggregation; dims broadcast
    "q03_join_agg_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          round(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("double"), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    }),

    // §2.4 theta join (equi conjunct keeps it hash-joinable at scale)
    "q04_theta_join" -> ((s, dir) => {
      val sup = broadcast(t(s, dir, "supplier")); val c = t(s, dir, "customer")
      c.join(sup, c("c_nationkey") === sup("s_nationkey") && sup("s_acctbal") < c("c_acctbal"))
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_pairs"),
          round(dsum(col("c_acctbal") - col("s_acctbal")) / count(lit(1)), 6).as("avg_gap"))
        .orderBy(col("s_nationkey"))
    }),

    // §2.5 stable sort (NA-first) + limit
    "q05_sort_limit" -> ((s, dir) => {
      Relational.sortStable(t(s, dir, "customer"), Seq("c_acctbal"), Seq("c_custkey"))
        .select(col("c_custkey"), col("c_acctbal")).limit(100)
    }),

    // §2.6 unique_values
    "q06_unique" -> ((s, dir) => {
      Relational.unique(t(s, dir, "lineitem"), Seq("l_returnflag", "l_linestatus"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // §2.7 melt (wide→long via stack)
    "q07_melt" -> ((s, dir) => {
      Relational.melt(t(s, dir, "lineitem"),
          hold = Seq("l_orderkey", "l_linenumber"),
          meltCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
          nameCol = "metric", valueCol = "value")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"))
    }),

    // §2.2 merge / positional column-bind
    "q08_bind_columns" -> ((s, dir) => {
      val d = t(s, dir, "documents").orderBy(col("doc_id"))
      val l = d.select(col("doc_id"), col("lang"))
      val r = d.select(col("n_chars"), col("source"))
      Relational.bindColumns(l, r).orderBy(col("doc_id"))
    }),

    // §2.6 summary statistics (view_stats) — exact decimal sums + the
    // reference's sumsq-based variance formula (stats.rs:139-161)
    "q09_stats" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val aggs = cols.flatMap { cname =>
        val c = col(cname)
        Seq(count(c).as(s"${cname}__n"),
          round(min(c), 4).as(s"${cname}__min"),
          round(max(c), 4).as(s"${cname}__max"),
          round(dsum(c), 2).as(s"${cname}__sum"),
          dsum2(c, c).as(s"${cname}__sumsq"))
      }
      val wide = li.agg(aggs.head, aggs.tail: _*)
      val stacked = cols.map { c =>
        s"'$c', `${c}__n`, `${c}__min`, `${c}__max`, `${c}__sum`, `${c}__sumsq`"
      }.mkString(", ")
      wide.select(expr(s"stack(${cols.size}, $stacked) as (field, n, min, max, sum, sumsq)"))
        .withColumn("mean", round(col("sum") / col("n"), 6))
        .withColumn("stdev", round(sqrt(
          (col("sumsq") - col("sum") * col("sum") / col("n")) / (col("n") - 1)), 6))
        .select("field", "n", "min", "max", "sum", "mean", "stdev")
        .orderBy("field")
    }),

    // §2.10 custom user fold via Aggregator/udaf (arbitrary-fold aggregate)
    "q10_custom_fold" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(Folds.sumSqCol(col("l_quantity")), 2).as("sumsq_qty"))
        .orderBy(col("l_returnflag"))
    }),

    // §2.7 row append (union)
    "q11_union_append" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      Relational.union(o.filter(col("o_orderstatus") === "O"),
          o.filter(col("o_orderstatus") === "F"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(dsum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderpriority"))
    }),

    // window functions (beyond reference): per-group top-k
    "q12_window_topk" -> ((s, dir) => {
      Relational.topKPerGroup(t(s, dir, "orders"), Seq("o_custkey"),
          Seq(col("o_totalprice").desc, col("o_orderkey").asc), k = 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    }),

    // semi join (EXISTS)
    "q13_semi_join" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      Relational.semiJoin(c, o.select(col("o_custkey").as("c_custkey")), Seq("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment"))
    }),

    // anti join (NOT EXISTS)
    "q14_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      Relational.antiJoin(c, o.select(col("o_custkey").as("c_custkey")), Seq("c_custkey"))
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))
        .orderBy(col("c_nationkey"))
    }),

    // left outer join (beyond reference; FUTURE.md lists outer joins as future)
    "q15_outer_join" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          round(coalesce(dsum(col("o_totalprice")), lit(0.0)), 2).as("total"))
        .orderBy(col("c_custkey"))
    }),

    // grouping sets / rollup (beyond reference)
    "q16_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(dsum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // grouping sets / cube (beyond reference)
    "q33_cube" -> ((s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(dsum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    }),

    // as-of join (beyond reference): latest signup at-or-before each purchase,
    // per user — one window pass over a tagged union, no point lookups.
    "q17_asof_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val pur = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts_ns"))
      val sign = e.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts_ns").as("signup_ns"))
      graft.ops.ScaleJoins.asofJoin(pur, sign, "user_id", "ts_ns", "signup_ns",
          payloadCols = Seq("signup_ns"))
        // µs precision: the oracle engine truncates ns-parquet to µs on read
        .select(col("event_id"), expr("asof_signup_ns div 1000").as("last_signup_us"))
        .orderBy(col("event_id"))
    }),

    // tumbling-window aggregation over event time (batch form of the
    // streaming window op)
    "q18_window_hourly" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"),
          unix_timestamp(date_trunc("hour", col("ts"))).as("hour_start"))
        .agg(count(lit(1)).as("n"), round(dsum(col("value")), 2).as("total"))
        .orderBy(col("event_type"), col("hour_start"))
    }),

    // distinct aggregate (beyond reference)
    "q19_count_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // §2.1 CSV source: write a slice as CSV, reload through the sniffing
    // loader (dialect + schema), verify against the parquet-born oracle.
    "q20_csv_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_csv").toString
      val slice = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 100 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
      Csv.write(slice.coalesce(1), tmp)
      val schema = StructType(Seq(
        StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
        StructField("l_returnflag", StringType)))
      Csv.load(s, tmp, dialect = Some(CsvDialect(',', 0, header = true)), schema = Some(schema))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ---- corpus-pipeline extensions ---------------------------------------

    // exact dedup: canonical (min id) per distinct text
    "d21_dedup_exact" -> ((s, dir) => {
      Dedup.exact(t(s, dir, "documents"), "doc_id", Seq("text"))
        .select(col("doc_id"), col("n_dups")).orderBy(col("doc_id"))
    }),

    // n-gram Jaccard near-dup pairs (inverted shingle index) with the
    // boilerplate-shingle cap ON (the 100 TB operating default since r8):
    // shingles appearing in > 500 docs leave the pair NUMERATOR (set-size
    // denominators stay exact), bounding the per-shingle k² join fan-out a
    // boilerplate-heavy corpus otherwise makes quadratic. The oracle
    // encodes the same cap (inert at the sf0.01 gate — max shingle df
    // there is 7 — but semantically load-bearing on hot corpora)
    "d22_jaccard_pairs" -> ((s, dir) => {
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text", n = 3,
          threshold = 0.8, maxShingleDf = 500)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // MinHash + LSH candidates, exact-verified at the same threshold
    "d23_minhash_lsh" -> ((s, dir) => {
      Dedup.minHashLsh(t(s, dir, "documents"), "doc_id", "text",
          n = 3, numHashes = 64, bands = 16, verifyThreshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // incremental near-dup for a GROWING corpus: d23's semantics restricted
    // to pairs TOUCHING the newly-ingested batch (doc_id % 4 == 0), computed
    // without generating a single history-vs-history pair — the batch's
    // banded signatures probe the signature store, then the d23 verify tail.
    // Oracle = the exact-Jaccard ≥0.8 pair set touching the batch (d23's own
    // oracle row proves LSH collision recall is total at these knobs on this
    // corpus, so the touching subset is exact too)
    "d93_incremental_lsh" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.incrementalMinHashLsh(
          d.filter(col("doc_id") % 4 === 0), d.filter(col("doc_id") % 4 =!= 0),
          "doc_id", "text", n = 3, numHashes = 64, bands = 16,
          verifyThreshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SimHash near-dup pairs (banded Hamming buckets)
    "d24_simhash_pairs" -> ((s, dir) => {
      Dedup.simHashPairs(Dedup.simHash(t(s, dir, "documents"), "doc_id", "text"), maxDist = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // text quality metrics
    "t25_text_quality" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextFunctions.avgTokenLen(col("text")).as("avg_token_len"),
          TextFunctions.stopwordRatio(col("text"), stopwords).as("stopword_ratio"),
          TextFunctions.alphaRatio(col("text")).as("alpha_ratio"))
        .orderBy(col("doc_id"))
    }),

    // regex (BPE-ish) token counting
    "t26_token_regex" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.regexTokenCount(col("text")).cast("long").as("n_regex_tokens"))
        .orderBy(col("doc_id"))
    }),

    // canonical-form document fingerprint (md5 of sorted distinct tokens)
    "t27_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.canonicalFingerprint(col("text")).as("fingerprint"))
        .orderBy(col("doc_id"))
    }),

    // heuristic language ID (marker-token argmax)
    "t28_langid" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    }),

    // exact brute-force cosine top-k (ANN baseline)
    "s29_ann_brute" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 8), "vec_id", "embedding", k = 10)
        .orderBy(col("query_id"), col("neighbor_id"))
    }),

    // LSH-bucketed ANN (the scale path; approximate) — OR-amplified over 2
    // independent hyperplane tables, candidates deduped before the exact
    // rerank; md5-derived planes, so the oracle recomputes identical buckets
    "s30_ann_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshTopK(e, e.filter(col("vec_id") < 8), "vec_id", "embedding",
          k = 10, planes = 6, dim = 64, tables = 2)
        .orderBy(col("query_id"), col("neighbor_id"))
    }),

    // pivot: long→wide (inverse of melt; beyond reference)
    "q34_pivot" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val long = Relational.melt(li, Seq("l_orderkey", "l_linenumber"),
        Seq("l_quantity", "l_tax"), "metric", "value")
      long.groupBy(col("l_orderkey"), col("l_linenumber"))
        .pivot("metric", Seq("l_quantity", "l_tax"))
        .agg(min(col("value"))) // (orderkey, linenumber) is not unique in the data
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // semi-structured JSON extraction over the events props column
    "q35_json" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    }),

    // correlation/covariance from exact decimal sums (deterministic both engines)
    "q40_corr" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val agg = li.groupBy(col("l_returnflag")).agg(
        count(lit(1)).cast("double").as("n"),
        dsum(col("l_quantity")).as("sx"),
        dsum(col("l_extendedprice")).as("sy"),
        dsum2(col("l_quantity"), col("l_quantity")).as("sxx"),
        dsum2(col("l_extendedprice"), col("l_extendedprice")).as("syy"),
        dsum2(col("l_quantity"), col("l_extendedprice")).as("sxy"))
      agg.select(col("l_returnflag"),
          round(((col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - 1)), 4).as("covar"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
             sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6).as("corr"))
        .orderBy(col("l_returnflag"))
    }),

    // exact percentiles (continuous interpolation, matches quantile_cont)
    "q39_quantiles" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
          round(expr("percentile(l_quantity, 0.9)"), 4).as("p90_qty"),
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("median_price"))
        .orderBy(col("l_returnflag"))
    }),

    // deterministic exact-count stratified sampling (portable md5 order)
    "d37_stratified_sample" -> ((s, dir) => {
      graft.ops.Sampling.stratifiedExact(t(s, dir, "documents"), "lang", "doc_id", k = 20)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("lang"), col("doc_id"))
    }),

    // corpus term frequencies: top-5 tokens per language
    "t38_top_terms" -> ((s, dir) => {
      graft.ops.Sampling.topTerms(t(s, dir, "documents"), "lang", "text", n = 5)
        .orderBy(col("lang"), col("rank"))
    }),

    // IVF ANN (coarse k-means quantizer + nprobe cells; approximate)
    "s36_ann_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 8), "vec_id", "embedding",
          k = 10, nlist = 16, nprobe = 3)
        .orderBy(col("query_id"), col("neighbor_id"))
    }),

    // s36's ORACLE-CHECKED companion (round 17, r16 verdict #6): the IVF
    // machinery's EXHAUSTIVENESS invariant, graded s142-style — with
    // nprobe = nlist every cell is probed, so cell assignment + candidate
    // generation + rerank must reproduce the exact top-k EXACTLY
    // (recall 1.0, overlap = n_exact = min(k, corpus−1)) at any scale,
    // regardless of where the float k-means dropped the centroids. Every
    // output column is an SQL-replayable constant, so a vector lost by
    // the cell pipeline hash-mismatches the gate; s36 keeps the
    // approximate (nprobe < nlist) config as the rows-only row
    "s164_ivf_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 10)
      val approx = Similarity.ivfTopK(e, q, "vec_id", "embedding",
        k = 10, nlist = 16, nprobe = 16)
      Similarity.recallAtK(approx, exact)
        .orderBy(col("query_id"))
    }),

    // multimodal plumbing: binary payload + metadata → per-partition feature
    // extraction (decode step stubbed; see graft.multimodal.Multimodal)
    "m31_multimodal" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal.attachBinary(t(s, dir, "documents"), "doc_id", "text")
      graft.multimodal.Multimodal.extractFeatures(media, dim = 8)
        .select(col("media_id"),
          round(aggregate(transform(col("features"), x => x.cast("double") * x.cast("double")),
            lit(0.0), (a, v) => a + v), 4).as("feat_sumsq"))
        .orderBy(col("media_id"))
    }),

    // stateful sessionization (batch run of the streaming operator —
    // flatMapGroupsWithState; gap = 2h)
    "e32_sessionize" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[graft.streaming.Streams.Event]
      graft.streaming.Streams.sessionize(ev, gapMs = 2 * 3600 * 1000L).toDF()
        .select(col("user_id"),
          unix_millis(col("session_start")).as("start_ms"),
          unix_millis(col("session_end")).as("end_ms"),
          col("n_events"), round(col("total_value"), 2).as("total"))
        .orderBy(col("user_id"), col("start_ms"))
    }),

    // set ops: INTERSECT / EXCEPT with DISTINCT semantics (beyond reference)
    "q41_intersect_except" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val a = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      val b = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      def summarize(df: DataFrame, tag: String) =
        df.agg(count(lit(1)).as("n"), min(col("o_custkey")).as("min_ck"),
            max(col("o_custkey")).as("max_ck"))
          .select(lit(tag).as("tag"), col("n"), col("min_ck"), col("max_ck"))
      Relational.union(summarize(Relational.intersect(a, b), "both"),
          summarize(Relational.except(a, b), "only_o"))
        .orderBy(col("tag"))
    }),

    // explicit cross join (small × small)
    "q42_cross_join" -> ((s, dir) => {
      t(s, dir, "region").crossJoin(t(s, dir, "nation"))
        .select(col("r_name"), col("n_name"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // range join with an equi conjunct: clicks in the hour before each
    // purchase, per user — hash join on user_id, range predicate as filter
    // (the partitionable shape; never a cartesian).
    "q43_range_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val p = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_uid"), col("event_id"), expr("ts_ns div 1000").as("p_us"))
      val c = e.filter(col("event_type") === "click")
        .select(col("user_id").as("c_uid"), expr("ts_ns div 1000").as("c_us"))
      graft.ops.ScaleJoins.rangeJoinKeyed(p, c, "p_uid", "c_uid", "p_us", "c_us",
          loDelta = -3600000000L, hiDelta = 0L, joinType = "left")
        .groupBy(col("event_id")).agg(count(col("c_us")).as("n_clicks"))
        .orderBy(col("event_id"))
    }),

    // window lag/lead + running decimal sum per customer order history
    "q44_window_lag" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      val wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      o.select(col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_total"),
          lead(col("o_totalprice"), 1).over(w).as("next_total"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).over(wrun)
            .cast("double"), 2).as("run_total"))
        .orderBy(col("o_orderkey"))
    }),

    // string function library (beyond reference — agnes has none, §2.8)
    "q45_string_funcs" -> ((s, dir) => {
      t(s, dir, "part").select(col("p_partkey"),
          upper(col("p_name")).as("uname"),
          substring(col("p_name"), 1, 5).as("pre5"),
          concat_ws("-", col("p_brand"), col("p_type")).as("bt"),
          lpad(col("p_size").cast("string"), 3, "0").as("size3"),
          regexp_extract(col("p_brand"), "#(\\d+)", 1).as("brand_num"),
          regexp_replace(col("p_type"), "ECONOMY", "ECO").as("ptype2"),
          length(col("p_name")).cast("long").as("nlen"),
          element_at(split(col("p_name"), " "), 1).as("first_word"),
          reverse(col("p_brand")).as("rbrand"))
        .orderBy(col("p_partkey"))
    }),

    // date/time function library (beyond reference)
    "q46_date_funcs" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val d = to_date(col("o_orderdate"))
      o.select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          quarter(col("o_orderdate")).cast("long").as("q"),
          month(col("o_orderdate")).cast("long").as("m"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          (weekday(col("o_orderdate")) + 1).cast("long").as("iso_dw"),
          last_day(col("o_orderdate")).as("ld"),
          datediff(d, to_date(lit("1995-01-01"))).cast("long").as("dd"),
          to_date(date_trunc("month", col("o_orderdate"))).as("mstart"),
          date_add(d, 30).as("d30"))
        .orderBy(col("o_orderkey"))
    }),

    // skewness/kurtosis from exact decimal power sums — same derivation in
    // both engines, so the doubles are bit-identical (q40 pattern, one
    // moment higher)
    "q47_skew_kurt" -> ((s, dir) => {
      val qd = col("l_quantity").cast("decimal(6,2)")
      val sums = t(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
        count(lit(1)).cast("double").as("n"),
        sum(qd).cast("double").as("s1"),
        sum(qd * qd).cast("double").as("s2"),
        sum(qd * qd * qd).cast("double").as("s3"),
        sum((qd * qd) * (qd * qd)).cast("double").as("s4"))
      val m = sums.select(col("l_returnflag"),
        (col("s1") / col("n")).as("mean"),
        (col("s2") / col("n")).as("q2"),
        (col("s3") / col("n")).as("q3"),
        (col("s4") / col("n")).as("q4"))
      val mm = m.select(col("l_returnflag"), col("mean"),
        (col("q2") - col("mean") * col("mean")).as("m2"),
        (col("q3") - lit(3.0) * col("mean") * col("q2") +
          lit(2.0) * col("mean") * col("mean") * col("mean")).as("m3"),
        (col("q4") - lit(4.0) * col("mean") * col("q3") +
          lit(6.0) * col("mean") * col("mean") * col("q2") -
          lit(3.0) * col("mean") * col("mean") * col("mean") * col("mean")).as("m4"))
      mm.select(col("l_returnflag"),
          round(col("m3") / (col("m2") * sqrt(col("m2"))), 6).as("skew"),
          round(col("m4") / (col("m2") * col("m2")) - lit(3.0), 6).as("kurt"))
        .orderBy(col("l_returnflag"))
    }),

    // fixed-width histogram binning
    "q48_histogram" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(floor(col("l_extendedprice") / 5000).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"), round(dsum(col("l_extendedprice")), 2).as("total"))
        .orderBy(col("bucket"))
    }),

    // salted skew join — result identical to the plain join (oracle is the
    // plain join); the salt breaks a hot key across `salts` tasks
    "q49_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.ops.ScaleJoins.saltedJoin(li, o, "l_orderkey", salts = 8,
          saltCols = Seq("l_linenumber"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(dsum(col("l_extendedprice")), 2).as("total"))
        .orderBy(col("o_orderpriority"))
    }),

    // bucketed co-located join: both sides pre-bucketed on the key, join
    // plan has no shuffle Exchange (ScaleJoinsSpec asserts that). The table
    // writes are one-time setup per (JVM, sf dir) — bucketing trades a single
    // up-front layout write for every later join skipping its shuffle, so the
    // steady-state (and benched, via min-of-passes) cost is the join alone.
    "q50_bucketed_join" -> ((s, dir) => {
      // cache key = md5 of the full path PLUS a source-data fingerprint
      // (file length + mtime), so distinct dirs can't collide the way a
      // 32-bit hashCode can, and regenerated data under an unchanged path
      // triggers a fresh bucketed write instead of silently reusing stale
      // tables
      val sfx = {
        val fp = Seq("orders", "customer")
          .map(n => s"$n:${tableFingerprint(s, dir, n)}").mkString("|")
        val md = java.security.MessageDigest.getInstance("MD5")
        md.digest(s"$dir|$fp".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(12)
      }
      val (ordersT, custT) = (s"graft_b_orders_$sfx", s"graft_b_cust_$sfx")
      if (!s.catalog.tableExists(ordersT) || !s.catalog.tableExists(custT)) {
        graft.ops.ScaleJoins.writeBucketed(
          t(s, dir, "orders").select(col("o_custkey"), col("o_totalprice")),
          ordersT, "o_custkey", 8)
        graft.ops.ScaleJoins.writeBucketed(
          t(s, dir, "customer").select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
          custT, "o_custkey", 8)
      }
      graft.ops.ScaleJoins.bucketedJoin(s, ordersT, custT, "o_custkey")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(dsum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("c_mktsegment"))
    }),

    // arbitrary GROUPING SETS + grouping_id (rollup/cube generalization)
    "q51_grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("graft_li")
      s.sql("""SELECT l_returnflag, l_linestatus, CAST(grouping_id() AS BIGINT) AS gid,
              |  count(*) AS n,
              |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty
              |FROM graft_li GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
              |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
    }),

    // conditional aggregates: count_if, bool_and/bool_or, tie-proof max_by
    "q52_conditional_agg" -> ((s, dir) => {
      val tieKey = round(col("o_totalprice") * 100).cast("long") * 10000000L + col("o_orderkey")
      t(s, dir, "orders").groupBy(col("o_orderstatus")).agg(
          count_if(col("o_totalprice") > 100000).as("n_big"),
          bool_and(col("o_totalprice") > 0).as("all_pos"),
          bool_or(col("o_totalprice") > 400000).as("any_huge"),
          max_by(col("o_orderkey"), tieKey).as("top_order"))
        .orderBy(col("o_orderstatus"))
    }),

    // array aggregation + array functions (sorted distinct set as string)
    "q53_array_agg" -> ((s, dir) => {
      t(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
          concat_ws(",", sort_array(collect_set(col("l_linestatus")))).as("statuses"),
          size(collect_set(col("l_linestatus"))).cast("long").as("n_statuses"),
          array_contains(collect_set(col("l_linestatus")), "F").as("has_f"))
        .orderBy(col("l_returnflag"))
    }),

    // posexplode (UDTF-style lateral view) with 1-based position
    "q54_posexplode" -> ((s, dir) => {
      t(s, dir, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"), posexplode(TextFunctions.tokens(col("text"))).as(Seq("pos0", "tok")))
        .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("tok"))
        .orderBy(col("doc_id"), col("pos"))
    }),

    // ntile decile bucketing over a global order — the terasort-shape tile
    // (range sort + row-index machinery + NTILE's closed form), NOT
    // ntile().over(Window.orderBy(...)): the partitionless window form moves
    // the whole relation through ONE task (r13 verdict's only `weak` plan)
    "q55_ntile" -> ((s, dir) => {
      Relational.globalNtile(
          t(s, dir, "customer").select(col("c_acctbal"), col("c_custkey")),
          10, Seq(col("c_acctbal"), col("c_custkey")), "tile")
        .groupBy(col("tile"))
        .agg(count(lit(1)).as("n"), min(col("c_acctbal")).as("lo"), max(col("c_acctbal")).as("hi"))
        .orderBy(col("tile"))
    }),

    // first_value / last_value / nth_value with an explicit full frame
    "q56_first_last" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders").filter(col("o_custkey") < 200)
        .select(col("o_orderkey"),
          first(col("o_orderkey")).over(w).as("first_ok"),
          last(col("o_orderkey")).over(w).as("last_ok"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_ok"))
        .orderBy(col("o_orderkey"))
    }),

    // banded range join: orders matched to price-band intervals via the
    // binned equi-join (never a cartesian; see ScaleJoins.rangeJoinBinned)
    "q59_range_band" -> ((s, dir) => {
      import s.implicits._
      val bands = Seq(("low", 0.0, 50000.0), ("mid", 50000.0, 150000.0),
        ("high", 150000.0, 300000.0), ("top", 300000.0, 1000000.0)).toDF("band", "lo", "hi")
      graft.ops.ScaleJoins.rangeJoinBinned(t(s, dir, "orders"), bands,
          "o_totalprice", "lo", "hi", binWidth = 50000.0)
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"), round(dsum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("band"))
    }),

    // embedding-cosine near-duplicate pairs, exact (the gate-scale form;
    // the 100 TB path buckets first — s30 LSH / s36 IVF — and verifies
    // exactly like this on the candidate set only)
    "d40_embed_neardup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val a = graft.core.Par.widen(e).select(col("vec_id").as("id_a"), col("embedding").as("e_a"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("e_b"))
      a.join(broadcast(b), col("id_a") < col("id_b"))
        .withColumn("cosine", graft.functions.VectorExpressions.cosineNative(
          s, col("e_a"), col("e_b")))
        .filter(col("cosine") >= 0.35)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // §2.1 JSON source/sink roundtrip (a source family the reference lists
    // only as FUTURE work): write a slice as JSON lines, reload with an
    // explicit schema, verify against the parquet-born oracle
    "q60_json_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_json").toString
      val slice = t(s, dir, "orders")
        .filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("o_orderpriority"))
      slice.coalesce(1).write.mode("overwrite").json(tmp)
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType), StructField("o_orderpriority", StringType)))
      s.read.schema(schema).json(tmp)
        .orderBy(col("o_orderkey"))
    }),

    // §2.1 XML source/sink roundtrip (round 16 — the LAST source family on
    // the reference's FUTURE.md wishlist with a Spark-native form: Spark 4
    // ships the former spark-xml as a built-in format): write a slice as
    // XML, reload with an explicit schema, verify against the parquet-born
    // oracle (the q60 pattern)
    "q154_xml_roundtrip" -> ((s, dir) => {
      // write ONCE per (JVM, dir) — the q50/s148 caching rule: a bench rep
      // measures the read path, the build amortizes, and /tmp does not
      // grow per rep (r16 review); the layout is reclaimed at JVM exit
      val tmp = roundtripDir("xml", dir, tableFingerprint(s, dir, "customer")) { tmp =>
        t(s, dir, "customer")
          .filter(col("c_custkey") % 50 === 0)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
          .coalesce(1).write.mode("overwrite")
          .option("rowTag", "row").format("xml").save(tmp)
      }
      val schema = StructType(Seq(
        StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_acctbal", DoubleType), StructField("c_mktsegment", StringType)))
      // ignoreSurroundingSpaces defaults TRUE and would silently trim
      // space-padded strings — off, so the roundtrip is byte-faithful and
      // the parquet-born oracle compare stays honest (r16 review)
      s.read.schema(schema).option("rowTag", "row")
        .option("ignoreSurroundingSpaces", "false").format("xml").load(tmp)
        .orderBy(col("c_custkey"))
    }),

    // §2.1 JDBC source/sink roundtrip (round 16 — FUTURE.md's other listed
    // source family), against an EMBEDDED Derby database (on the unmanaged
    // classpath): write the supplier table through spark.write.jdbc, read
    // it back with spark.read.jdbc, verify against the parquet-born
    // oracle. At cluster scale the same API shards reads by a partition
    // column (numPartitions/lowerBound/upperBound) — exercised in the spec;
    // the driver row keeps the single-partition form Derby's file lock
    // requires locally
    "q155_jdbc_roundtrip" -> ((s, dir) => {
      // ONE embedded Derby database per (JVM, dir): Derby keeps every
      // booted database registered (page cache + threads) until JVM exit,
      // so a per-rep `create=true` accumulated instances and /tmp dirs
      // unboundedly (r16 review). Same q50/s148 amortized-write rule as
      // q154; the dir is reclaimed at JVM exit.
      val props = new java.util.Properties
      val db = roundtripDir("derby", dir, tableFingerprint(s, dir, "supplier")) { tmp =>
        t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
          .write.mode("overwrite").jdbc(s"jdbc:derby:$tmp/db;create=true", "GRAFT_SUPPLIER", props)
      }
      s.read.jdbc(s"jdbc:derby:$db/db", "GRAFT_SUPPLIER", props)
        .orderBy(col("s_suppkey"))
    }),

    // §2.1 Protobuf source/sink roundtrip (round 17 — FUTURE.md's last
    // "Serialization formats" sub-line): a slice of orders encoded to the
    // PUBLIC protobuf wire format (varints + fixed64 + length-delimited,
    // one part-*.pb record stream per partition — graft.io.Proto, pinned
    // against the spec's canonical byte examples in CsvSpec), reloaded via
    // the binaryFile scan, verified against the parquet-born oracle. Same
    // amortized-layout discipline as q154/q155.
    "q161_proto_roundtrip" -> ((s, dir) => {
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType), StructField("o_orderpriority", StringType)))
      val tmp = roundtripDir("proto", dir, tableFingerprint(s, dir, "orders")) { tmp =>
        graft.io.Proto.writeProto(
          t(s, dir, "orders")
            .filter(col("o_orderkey") % 100 === 0)
            .select(col("o_orderkey"), col("o_orderstatus"),
              col("o_totalprice"), col("o_orderpriority")), tmp)
      }
      graft.io.Proto.readProto(s, tmp, schema)
        .orderBy(col("o_orderkey"))
    }),

    // HLL++ sketch vs exact distinct (approx column has no portable oracle →
    // rows-only gate check; the ScaleJoinsSpec bounds its error vs exact)
    "q57_approx_distinct" -> ((s, dir) => {
      graft.ops.ScaleJoins.distinctCounts(t(s, dir, "lineitem"), Seq("l_returnflag"), "l_partkey")
        .orderBy(col("l_returnflag"))
    }),

    // q57's ORACLE-CHECKED companion (round 17, r16 verdict #6): the exact
    // distinct count is fully SQL-replayable, and the sketch's accuracy
    // contract rides along as a BOOLEAN — |est − exact| / exact ≤ 0.15
    // (3× the rsd=0.05 config). The oracle asserts literal TRUE, so a
    // sketch drifting outside its bound hash-mismatches the gate instead
    // of hiding in a rows-only hole; q57 itself stays for the raw values
    "q163_hll_error" -> ((s, dir) => {
      graft.ops.ScaleJoins.distinctCounts(t(s, dir, "lineitem"), Seq("l_returnflag"), "l_partkey")
        .select(col("l_returnflag"), col("exact_distinct"),
          (abs(col("approx_distinct") - col("exact_distinct")).cast("double") /
            col("exact_distinct") <= lit(0.15)).as("est_ok"))
        .orderBy(col("l_returnflag"))
    }),

    // true Structured Streaming execution: file source → watermarked tumbling
    // window agg → memory sink (one AvailableNow run); result equals the
    // batch oracle because windows align to epoch hours and sums are decimal
    "q58_stream_window" -> ((s0, dir) => {
      // the MEMOIZED streaming child session (see streamSession): scopes
      // the reduced shuffle-partition conf away from the main session
      // while keeping one stable classloader so codegen cache-hits
      val s = streamSession(s0)
      val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
      // file-stream sources take a directory; glob-filter to the events table
      val raw = graft.streaming.Streams.readStream(s, dir, rawSchema,
        glob = Some("events.parquet"))
      val ev = Tables.normalizeEventTs(raw)
      val agged = graft.streaming.Streams.windowedAgg(ev, "ts", "event_type", "1 hour",
        aggs = Seq(count(lit(1)).as("n"), round(dsum(col("value")), 2).as("total")))
      freshMemorySink(s, "graft_q58_sink")
      val sq = agged.writeStream.format("memory").queryName("graft_q58_sink")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      sq.awaitTermination()
      s.table("graft_q58_sink")
        .select(col("event_type"), unix_timestamp(col("window_start")).as("window_start_s"),
          col("n"), col("total"))
        .orderBy(col("event_type"), col("window_start_s"))
    }),

    // benchmark decontamination: corpus docs sharing any 5-gram shingle with
    // the (broadcast) eval slice — one corpus scan, no corpus shuffle
    "d61_contamination" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.Dedup.contamination(
          d.filter(col("doc_id") % 25 =!= 0), d.filter(col("doc_id") % 25 === 0),
          "doc_id", "text", n = 5)
        .select(col("id").as("doc_id"), col("n_shared"))
        .orderBy(col("doc_id"))
    }),

    // PII/URL scrub: typed placeholders via a codegen'd regexp_replace chain
    // (synthetic suffix exercises all three patterns on every row)
    "t62_pii_scrub" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
          TextFunctions.scrub(concat(col("text"),
            lit(" contact bob@example.com or https://x.io/a?b=1 id 12345678901"))).as("scrubbed"))
        .orderBy(col("doc_id"))
    }),

    // composite document quality score (length / alpha / stopword heuristics)
    "t63_quality_score" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
          TextFunctions.qualityScore(col("text"), stopwords).as("quality"))
        .orderBy(col("doc_id"))
    }),

    // winsorized quality normalization (round 17): t63's composite score
    // clamped to its exact [p05, p95] band — rank-selected (type-1)
    // thresholds, so both engines pick the identical order statistics and
    // the clamp replays bit-for-bit; the outlier-robust step that keeps
    // one pathological doc from stretching the scale every later
    // threshold is calibrated against
    "t167_winsorized_quality" -> ((s, dir) => {
      // the scored relation feeds the threshold pass AND the output
      // projection — staged so the regex-heavy score is computed once
      // (measured 0.67x vs recompute; the t169 staging rule)
      val scored = graft.ops.Checkpointing.stage(
        t(s, dir, "documents").select(col("doc_id"),
          TextFunctions.qualityScore(col("text"), stopwords).as("quality")))
      graft.ops.Quality.winsorize(scored, "doc_id", "quality", pLo = 0.05, pHi = 0.95)
        .orderBy(col("doc_id"))
    }),

    // robust z-score (round 17): (quality − median) / MAD — the
    // 50%-breakdown standardization feeding |z| > k outlier flags; both
    // statistics are type-1 rank selections, so the oracle re-derives
    // them independently and the whole projection replays bit-for-bit
    "t169_robust_z" -> ((s, dir) => {
      val scored = t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.qualityScore(col("text"), stopwords).as("quality"))
      graft.ops.Quality.robustZ(scored, "doc_id", "quality")
        .orderBy(col("doc_id"))
    }),

    // GROUP-WISE winsorize (round 17): t167's clamp applied WITHIN each
    // language — per-group rank thresholds ride one PARTITIONED window
    // (strict-plan clean) and a groups-sized join; zero driver
    // involvement, so the normalization scales with the corpus, not the
    // driver. A language whose scorer runs hot no longer stretches the
    // global band
    "t168_winsorize_by_lang" -> ((s, dir) => {
      // staged for the same two-consumer reason as t167
      val scored = graft.ops.Checkpointing.stage(
        t(s, dir, "documents").select(col("doc_id"), col("lang"),
          TextFunctions.qualityScore(col("text"), stopwords).as("quality")))
      graft.ops.Quality.winsorizeBy(scored, "lang", "doc_id", "quality",
          pLo = 0.05, pHi = 0.95)
        .orderBy(col("doc_id"))
    }),

    // per-lang quality-percentile pruning: keep the top 25% of each lang
    // by quality score — the relative-threshold curation step (stable mix
    // as quality drifts, unlike p67's absolute cutoff). Deterministic
    // md5 tie-break, so the kept set is engine-exact
    "t86_quality_prune" -> ((s, dir) => {
      val scored = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextFunctions.qualityScore(col("text"), stopwords).as("quality"))
      graft.ops.Sampling.topFractionByScore(scored, "lang", "doc_id", "quality",
          frac = 0.25)
        .orderBy(col("doc_id"))
    }),

    // Gopher-style repetition filters: duplicated-2-gram fraction and
    // most-frequent-token fraction — per-row array math, no shuffle
    "t65_repetition" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
          TextFunctions.dupNgramFraction(col("text"), 2).as("dup_2gram_frac"),
          TextFunctions.topTokenFraction(col("text")).as("top_token_frac"))
        .orderBy(col("doc_id"))
    }),

    // corpus-frequency token-rarity score (two-pass: capped broadcast vocab)
    "t66_token_rarity" -> ((s, dir) => {
      graft.ops.Sampling.tokenRarityScore(t(s, dir, "documents"), "doc_id", "text", vocab = 1000)
        .select(col("id").as("doc_id"), col("rarity"))
        .orderBy(col("doc_id"))
    }),

    // full-outer join (both-side null-extension; q15 covers left-outer) via
    // the library joinOn — unmatched customers AND unmatched order groups
    // both survive with nulls
    "q70_full_outer" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), col("c_acctbal"))
      val o = t(s, dir, "orders").filter(col("o_custkey") % 2 === 0)
        .groupBy(col("o_custkey"))
        .agg(round(dsum(col("o_totalprice")), 2).as("total"))
      Relational.joinOn(c, o, "c_custkey", "o_custkey", "=", "full_outer")
        .orderBy(col("c_custkey"), col("o_custkey"))
    }),

    // true streaming dedup run: the event stream unioned with itself (every
    // row duplicated) → dropDuplicatesWithinWatermark → append sink; the
    // batch aggregate over the sink must equal the ORIGINAL per-type counts,
    // proving the duplicate copy was dropped with watermark-bounded state
    "q68_stream_dedup" -> ((s0, dir) => {
      val s = streamSession(s0) // memoized scoped child, see q58
      val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
      val raw = graft.streaming.Streams.readStream(s, dir, rawSchema,
        glob = Some("events.parquet"))
      val ev = Tables.normalizeEventTs(raw)
        .select(col("event_id"), col("ts"), col("event_type"))
      val deduped = graft.streaming.Streams.dedupStream(
        ev.union(ev), Seq("event_id"), "ts")
      freshMemorySink(s, "graft_q68_sink")
      val sq = deduped.writeStream.format("memory").queryName("graft_q68_sink")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      sq.awaitTermination()
      s.table("graft_q68_sink")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), countDistinct(col("event_id")).as("n_distinct"))
        .orderBy(col("event_type"))
    }),

    // RANGE-frame window: trailing-30-day running sums per customer (value
    // range frame, vs the ROWS frames of q44/q56)
    "q69_range_window" -> ((s, dir) => {
      val o = t(s, dir, "orders").filter(col("o_custkey") < 200)
        .withColumn("dd", datediff(to_date(col("o_orderdate")), to_date(lit("1990-01-01"))))
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("dd"))
        .rangeBetween(-30, Window.currentRow)
      o.select(col("o_orderkey"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
            .cast("double"), 2).as("sum_30d"),
          count(lit(1)).over(w).as("n_30d"))
        .orderBy(col("o_orderkey"))
    }),

    // end-to-end corpus pipeline: exact dedup → quality filter → stratified
    // eval sample — the composed shape of a real pretraining-data job, with
    // every stage individually oracle-verified elsewhere (d21, t63, d37)
    "p67_pipeline" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val keep = Dedup.exact(d, "doc_id", Seq("text")).select(col("doc_id"))
      val clean = d.join(keep, Seq("doc_id"), "left_semi")
        .withColumn("quality", TextFunctions.qualityScore(col("text"), stopwords))
        .filter(col("quality") >= 0.3)
      graft.ops.Sampling.stratifiedExact(clean, "lang", "doc_id", k = 10)
        .select(col("doc_id"), col("lang"), col("quality"))
        .orderBy(col("lang"), col("doc_id"))
    }),

    // deterministic hash-threshold fractional sampling — the sample is a
    // pure function of row content (md5 threshold per stratum), a stateless
    // map-side filter with zero shuffles at any corpus size; unlisted strata
    // ('es') drop. (This form retired the seeded sampleBy wrapper in r5:
    // content-hash is reproducible across engines, RNG seeds are not.)
    "d71_stratified_frac" -> ((s, dir) => {
      graft.ops.Sampling.stratifiedHashFraction(t(s, dir, "documents"),
          "lang", "doc_id",
          Map("en" -> 0.25, "fr" -> 0.5, "de" -> 0.125, "zh" -> 1.0))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // the streaming twin of p67: landing-dir file stream (doubled to simulate
    // duplicate arrivals) → watermark-bounded exact dedup → PII scrub +
    // quality score/filter → checkpointed parquet file sink, read back for
    // verification. One real AvailableNow run per call, conf scoped to a
    // child session; every stage is the same operator the batch pipeline uses
    "p72_stream_pipeline" -> ((s0, dir) => {
      val s = streamSession(s0) // memoized scoped child, see q58
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val docs = graft.streaming.Streams.readStream(s, dir, schema,
        glob = Some("documents.parquet"))
      // synthetic event-time: arrival-order surrogate derived from doc_id,
      // shifted +1s so no row sits at epoch 0 — the initial watermark value,
      // at-or-below which dropDuplicatesWithinWatermark discards the row
      val ev = docs.withColumn("ts", timestamp_micros((col("doc_id") + 1) * 1000000L))
      val deduped = graft.streaming.Streams.dedupStream(
        ev.union(ev), Seq("doc_id"), "ts")
      val scored = deduped
        .withColumn("quality", TextFunctions.qualityScore(col("text"), stopwords))
        .filter(col("quality") >= 0.3)
        .select(col("doc_id"), col("lang"), col("quality"),
          md5(TextFunctions.scrub(col("text"))).as("scrub_md5"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_p72").toString
      val sq = graft.streaming.Streams.writeStreamParquet(
        scored, s"$tmp/out", s"$tmp/ck", availableNow = true)
      sq.awaitTermination()
      s.read.parquet(s"$tmp/out").orderBy(col("doc_id"))
    }),

    // ONLINE near-dup dedup: documents stream in (arrival order = doc_id)
    // and each is dropped iff an earlier arrival shares an LSH band bucket
    // and verifies at exact trigram Jaccard ≥ 0.8 — stateful per-bucket
    // flatMapGroupsWithState, state bounded by the event-time TTL. Survivors
    // anti-join the marker stream. Oracle = docs minus the later side of
    // every exact-Jaccard ≥0.8 pair (LSH recall is total at these knobs on
    // this corpus — d23's oracle row proves it)
    "q94_stream_neardup" -> ((s0, dir) => {
      val s = streamSession(s0) // memoized scoped child, see q58
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val docs = graft.streaming.Streams.readStream(s, dir, schema,
        glob = Some("documents.parquet"))
      // synthetic event-time from doc_id (see p72): arrival order is id order
      val ev = docs.withColumn("ts", timestamp_micros((col("doc_id") + 1) * 1000000L))
      val markers = graft.streaming.Streams.nearDupMarkStream(
        ev, "doc_id", "text", "ts", n = 3, numHashes = 64, bands = 16,
        threshold = 0.8)
      freshMemorySink(s, "graft_q94_sink")
      val sq = markers.writeStream.format("memory").queryName("graft_q94_sink")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      sq.awaitTermination()
      val dropped = s.table("graft_q94_sink").distinct()
        .withColumnRenamed("id", "doc_id")
      t(s, dir, "documents").join(dropped, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // STREAM-STREAM interval join (real run): click→view attribution — every
    // view by the same user in the 6 h before a click. Watermarks on both
    // sides bound the join state; the batch oracle is the same range join
    "q96_stream_join" -> ((s0, dir) => {
      val s = streamSession(s0) // memoized scoped child, see q58
      val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
      def stream() = Tables.normalizeEventTs(
        graft.streaming.Streams.readStream(s, dir, rawSchema,
          glob = Some("events.parquet")))
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      val clicks = stream().filter(col("event_type") === "click")
      val views = stream().filter(col("event_type") === "view")
      val joined = graft.streaming.Streams.intervalJoin(
          clicks, views, "user_id", "ts", window = "6 HOUR")
        .select(col("l_event_id").as("click_id"), col("r_event_id").as("view_id"),
          col("l_user_id").as("user_id"))
      freshMemorySink(s, "graft_q96_sink")
      val sq = joined.writeStream.format("memory").queryName("graft_q96_sink")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      sq.awaitTermination()
      s.table("graft_q96_sink").orderBy(col("click_id"), col("view_id"))
    }),

    // near-dup pairs resolved into duplicate clusters: connected components
    // over the d22 pair graph (transitive closure — A~B plus B~C groups
    // {A,B,C}); cluster id = min member id, plus the cluster size. The step
    // between pair discovery and canonical-doc selection in a dedup pipeline
    "d73_dup_clusters" -> ((s, dir) => {
      val pairs = jaccardPairGraph(s, dir)
      val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val sizes = cc.groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
      cc.join(sizes, "component")
        .select(col("node").as("doc_id"), col("component").as("cluster_id"),
          col("cluster_size"))
        .orderBy(col("doc_id"))
    }),

    // PRIORITY-aware cluster resolution: the step after d73 — each near-dup
    // cluster keeps the copy from the most-trusted source (numeric src rank,
    // ties by id) and drops the rest; unclustered docs pass through. The
    // "which copy survives" policy every multi-source corpus merge needs
    "d95_priority_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.dedupByClustersPriorityCc(docs, jaccardCcGraph(s, dir), "doc_id",
          priority = substring(col("source"), 4, 10).cast("int"))
        .select(col("doc_id"), col("source"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // embedding near-dup at corpus scale: LSH-bucketed candidates
    // (OR-amplified over 2 hyperplane tables), exact-cosine-verified — the
    // scale twin of d40's broadcast-NL exact form. `autoPlanes` sizes the
    // bucket count from the corpus count (planes tracks log2 n, so the
    // candidate set stays LINEAR as the corpus grows — the 10× stress
    // artifact showed fixed planes=4 going 17.5× superlinear while this
    // contract ran 1.29 s). md5-derived planes, so the oracle recomputes
    // identical buckets; the planes VALUE the run actually used is stashed
    // (the s143 pqt technique — Verify dumps oracle SQL after the queries
    // run) so the oracle replays THIS scale's knob: what was a documented
    // permanent cross-scale pin through r14 is now exact at every SF. At
    // the sf0.01 gate autoPlanes(500) = 4, which SimilaritySpec pins
    "d74_embed_neardup_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val planes = Similarity.autoPlanes(e.count())
      autoPlanesUsed(dir) = planes
      Similarity.nearDupPairs(e, "vec_id", "embedding", threshold = 0.35,
          planes = planes, tables = 2, dim = 64)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540): prune
    // embedding-space near-duplicates, keeping ONE representative per
    // semantic cluster. Composed from proven stages — d74's OR-amplified
    // LSH near-dup pairs (never all-pairs) → d73's connected components →
    // min-id representative per cluster; singletons (no semantic neighbor)
    // survive whole. One end-to-end oracle: the d74 bucket CTE chained into
    // the d73 recursive-CTE components. At 100 TB every stage is the
    // already-audited scale shape; autoPlanes sizes the bucket count as the
    // corpus grows (x74 evidence) — at the sf0.01 gate autoPlanes(500) = 4,
    // matching the oracle's plane derivation
    "p92_semantic_dedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val planes = Similarity.autoPlanes(e.count())
      autoPlanesUsed(dir) = planes
      val pairs = Similarity.nearDupPairs(e, "vec_id", "embedding",
          threshold = 0.35, planes = planes, tables = 2, dim = 64)
        .select(col("id_a"), col("id_b"))
      val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val sizes = cc.groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
      e.select(col("vec_id"))
        .join(cc.select(col("node").as("vec_id"), col("component")), Seq("vec_id"), "left")
        .join(sizes, Seq("component"), "left")
        .select(col("vec_id"),
          coalesce(col("component"), col("vec_id")).as("cluster_id"),
          coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
          when(col("component").isNull || col("component") === col("vec_id"), 1L)
            .otherwise(0L).as("keep"))
        .orderBy(col("vec_id"))
    }),

    // int8 embedding quantization (the 4x storage tier): absmax codes plus
    // per-vector scale and the mean-abs reconstruction error — all IEEE-
    // exact double math, so codes AND the error hash-match the oracle
    "s76_quantize_int8" -> ((s, dir) => {
      val q = Similarity.quantizeInt8(t(s, dir, "embeddings"), "vec_id", "embedding",
        keepVec = true)
      val err = aggregate(
        zip_with(col("vec"), col("qvec"),
          (x, c) => abs(x - c.cast("double") * col("scale"))),
        lit(0.0), (a, v) => a + v) / size(col("qvec"))
      // err is materialized BEFORE the select that aliases round(scale) to
      // the same name "scale": Spark 4's lateral column alias resolution
      // would otherwise bind err's scale reference to the ROUNDED alias,
      // skewing the error in the 3rd significant digit.
      // Codes serialized to CSV: the driver's compare hashes scalar cells,
      // not arrays (same reason q53 stringifies its list)
      q.withColumn("mae_raw", err)
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          array_join(col("qvec"), ",").as("qvec_csv"),
          round(col("mae_raw"), 6).as("mae"))
        .orderBy(col("vec_id"))
    }),

    // top-3 TF-IDF keywords per document (log-free rational idf — exact
    // cross-engine scores; same ranking as the textbook log form)
    "t75_tfidf" -> ((s, dir) => {
      graft.ops.Sampling.tfIdfTopTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"), col("rnk"))
    }),

    // parquet schema evolution: two writer generations with different
    // column sets under one table root, read back with mergeSchema — the
    // data-lake pattern where late-added columns surface as NULL for files
    // written before the column existed
    "q77_schema_merge" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val tmp = java.nio.file.Files.createTempDirectory("graft_merge").toString
      o.filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$tmp/gen=1")
      o.filter(col("o_orderkey") % 100 === 50)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$tmp/gen=2")
      s.read.option("mergeSchema", "true").parquet(s"$tmp/gen=1", s"$tmp/gen=2")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
    }),

    // date-partitioned layout + partition pruning: events written
    // partitionBy(event_date) once per (JVM, source fingerprint) — same
    // cache rule as q50's bucketed tables — then a 3-day filter reads ONLY
    // those directories (PlanFingerprintSpec pins the pruned partition
    // count). At 100 TB this is the difference between scanning 30 days
    // and scanning 3
    "q78_partition_prune" -> ((s, dir) => {
      val conf = s.sparkContext.hadoopConfiguration
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$dir|events:${tableFingerprint(s, dir, "events")}".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_part_$sfx"
      val done = new org.apache.hadoop.fs.Path(s"$root/_SUCCESS")
      val fs = done.getFileSystem(conf)
      if (!fs.exists(done)) {
        // stage under a process-unique dir and rename into place: two JVMs
        // (e.g. Verify and Bench) can race this check, and an in-place
        // overwrite would delete the directory out from under the other's
        // read. rename is atomic on a local fs; the loser just cleans up.
        val stage = s"$root.stage.${java.lang.ProcessHandle.current().pid()}"
        val stageP = new org.apache.hadoop.fs.Path(stage)
        t(s, dir, "events").withColumn("event_date", to_date(col("ts")))
          .write.mode("overwrite").partitionBy("event_date").parquet(stage)
        if (fs.exists(done) ||
            !fs.rename(stageP, new org.apache.hadoop.fs.Path(root))) {
          fs.delete(stageP, true) // lost the race: the winner's layout stands
        } else {
          // a winner sneaking in between the exists and the rename makes
          // POSIX rename drop stage INSIDE root — detect and remove
          val nested = new org.apache.hadoop.fs.Path(s"$root/${stageP.getName}")
          if (fs.exists(nested)) fs.delete(nested, true)
        }
      }
      s.read.parquet(root)
        .filter(col("event_date").between(lit("2024-01-10"), lit("2024-01-12")))
        .groupBy(col("event_type"), col("event_date").cast("string").as("event_date"))
        .agg(count(lit(1)).as("n"), round(dsum(col("value")), 2).as("total"))
        .orderBy(col("event_type"), col("event_date"))
    }),

    // Bloom-prefiltered incremental dedup: a new batch (fresh docs plus
    // re-arrivals of history docs under new ids) deduped against the
    // history corpus. Bloom over history md5s, broadcast probe, exact
    // anti-join confirm for the maybes — result is exact (oracle is the
    // plain anti-join), the bloom only decides who pays for the join
    "d79_bloom_increment" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val history = docs.filter(col("doc_id") % 4 =!= 0)
      val arrivals = docs.filter(col("doc_id") % 4 === 0).unionByName(
        history.filter(col("doc_id") % 10 === 7)
          .withColumn("doc_id", col("doc_id") + 100000L))
      val key = (d: DataFrame) => d.withColumn("fp", md5(col("text")))
      Dedup.incrementalDedup(key(arrivals), key(history), "fp")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // temperature-balanced language mixing (α=0.5): skewed langs flattened
    // toward uniform — en (218 docs at sf0.01) keeps sqrt(64/218)≈54%, the
    // smallest (fr) keeps all. Fractions are DATA-derived in-plan; sqrt is
    // correctly-rounded IEEE so the sample is engine-exact
    "d81_lang_balance" -> ((s, dir) => {
      graft.ops.Sampling.temperatureBalance(t(s, dir, "documents"), "lang", "doc_id")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // cross-doc repeated-substring signal (Lee et al. exact-substring dedup
    // statistic): per doc, the fraction of its strided 50-char spans that
    // occur verbatim in another document — catches boilerplate and mirrored
    // spans that survive document-level dedup. md5 span hashes + char-based
    // substr are engine-portable, so the oracle is exact
    "d87_repeated_spans" -> ((s, dir) => {
      Dedup.repeatedSpans(t(s, dir, "documents"), "doc_id", "text",
          spanChars = 50, stride = 25)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // segment-level boilerplate REMOVAL (the rewrite sibling of d87's
    // score): drop segments occurring verbatim in > maxSegmentDf distinct
    // docs and reassemble survivors in order. sep=" " on this single-line
    // corpus = df-based token pruning (the hottest ~half of the 31-word
    // vocabulary is boilerplate by the 390-doc cap); sep="\n" is CCNet
    // paragraph dedup, exercised by the PipelineSpec golden
    "d88_boilerplate_prune" -> ((s, dir) => {
      Dedup.pruneBoilerplateSegments(t(s, dir, "documents"), "doc_id", "text",
          sep = " ", maxSegmentDf = 390)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // the full corpus pass a real pipeline ships, composed end to end and
    // oracle-checked as ONE query: exact dedup → quality floor →
    // repeated-span boilerplate prune → minhash-LSH near-dup pairs →
    // connected-component cluster resolution → temperature-balanced mixing.
    // Every stage is also separately oracle-verified (d21/t63/d87/d23/d73/
    // d81); this row proves their COMPOSITION is, too
    "p90_composed_corpus" -> ((s, dir) => {
      // p91 builds the same corpus pass, each from its own lineage
      val deduped = composedDedupedBuild(s, dir)
      graft.ops.Sampling.temperatureBalance(deduped, "lang", "doc_id")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"))
    }),

    // p90's corpus pass extended through the PREP TAIL — the full
    // corpus→training-sequences flow a pretraining pipeline actually ships:
    // exact dedup → quality floor → span-prune → LSH near-dup clusters →
    // temperature mix → eval-set decontamination (the d61 protocol) →
    // 64-token window chunking (t80) → per-lang 2048-token sequence packing
    // (t82). One end-to-end oracle hash-verifies the whole chain, chunk
    // boundaries, bin assignments and all
    "p91_composed_prep" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      // p91's warm min measures the whole declared chain, corpus pass
      // included
      val deduped = composedDedupedBuild(s, dir)
      val balanced = graft.ops.Sampling.temperatureBalance(deduped, "lang", "doc_id")
        .transform(Checkpointing.stage) // consumed by contamination AND the anti-join
      // decontaminate against the held-out eval slice (doc_id % 25 == 0);
      // eval members surviving inside the balanced set flag themselves and
      // are dropped too — exactly what a train/eval split wants
      val contaminated = Dedup.contamination(balanced,
          d.filter(col("doc_id") % 25 === 0), "doc_id", "text", n = 5)
        .select(col("id").as("doc_id"))
      val fin = balanced.join(contaminated, Seq("doc_id"), "left_anti")
        .transform(Checkpointing.stage) // consumed by tokenWindows AND the lang join-back
      val chunks = Chunking.tokenWindows(fin, "doc_id", "text", window = 64, stride = 32)
        .join(fin.select(col("doc_id"), col("lang")), "doc_id")
        .withColumn("chunk_uid", col("doc_id") * 10000 + col("chunk_id"))
        .select(col("lang"), col("chunk_uid"), col("chunk"))
      Chunking.packSequences(chunks, "chunk_uid", "chunk",
          budget = 2048, shardCols = Seq("lang"))
        .orderBy(col("lang"), col("bin"), col("chunk_uid"))
    }),

    // Z-order (Morton) clustering for two-column data skipping: every
    // output file covers a compact curve segment = a small (part, supp)
    // rectangle, so min/max pruning works for filters on EITHER column.
    // The zval projection is a codegen'd fold; layout = one range exchange
    "q99_zorder_cluster" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
      graft.ops.Layout.clusterByZOrder(li, "l_partkey", "l_suppkey", bits = 20,
          numPartitions = 32)
        .orderBy(col("zval"), col("l_orderkey"), col("l_linenumber"))
    }),

    // deterministic global shuffle + fixed-size shard assignment: the
    // "write the training set in randomized shards" step — a content-hash
    // permutation via distributed range sort, positions from per-partition
    // counts (no single-partition window anywhere)
    "t98_shuffle_shard" -> ((s, dir) => {
      graft.ops.Sampling.shuffleShards(
          t(s, dir, "documents").select(col("doc_id")), "doc_id", shardSize = 64)
        .select(col("doc_id"), col("pos"), col("shard"))
        .orderBy(col("pos"))
    }),

    // BPE tokenizer training's inner statistic: corpus-weighted adjacent
    // character-pair counts over the distinct word-frequency table (one
    // corpus pass → vocab relation; everything after is vocab-sized). Top-50
    // by count — the pairs the first merges would fuse
    "t97_bpe_pairs" -> ((s, dir) => {
      val vocab = graft.ops.Bpe.wordFreq(t(s, dir, "documents"), "text")
      graft.ops.Bpe.pairCounts(vocab)
        .select(concat(col("a"), col("b")).as("pair"), col("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(50)
    }),

    // overlapping token-window chunking (pretraining prep): each document
    // exploded into 64-token windows every 32 tokens — zero-shuffle
    // map-side transform, sequence/slice built-ins only
    "t80_chunk_windows" -> ((s, dir) => {
      graft.ops.Chunking.tokenWindows(t(s, dir, "documents"), "doc_id", "text",
          window = 64, stride = 32)
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // concat-and-cut sequence packing: per-lang shards, docs laid end-to-
    // end in md5 order and cut into 2048-token bins — integer arithmetic
    // only, so the assignment is engine-exact. The step after t80 in a
    // pretraining pipeline (ragged docs → uniform training sequences)
    "t82_sequence_pack" -> ((s, dir) => {
      graft.ops.Chunking.packSequences(t(s, dir, "documents"), "doc_id", "text",
          budget = 2048, shardCols = Seq("lang"))
        .orderBy(col("lang"), col("bin"), col("doc_id"))
    }),

    // compacted parquet write: output bounded to ceil(rows/target) files
    // (small-files hygiene — the sink-side twin of q78's layout story);
    // oracle reads the ORIGINAL table, so the hash match proves the
    // compaction pass is lossless
    "q83_compacted_write" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_compact").toString
      graft.io.Sinks.writeCompacted(
        t(s, dir, "documents").select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
        s"$tmp/out", targetRows = 200L)
      s.read.parquet(s"$tmp/out").orderBy(col("doc_id"))
    }),

    // key-wise upsert (batch MERGE-into-snapshot): a simulated CDC batch —
    // 10% of customers with updated balances plus new keys — merged into
    // the snapshot: updates win, new keys append, the rest pass through
    "q85_upsert_snapshot" -> ((s, dir) => {
      val base = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
      val updates = base.filter(col("c_custkey") % 10 === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 1000)
        .unionByName(base.filter(col("c_custkey") % 25 === 0)
          .withColumn("c_custkey", col("c_custkey") + 100000L))
      graft.ops.Relational.upsert(base, updates, Seq("c_custkey"))
        .orderBy(col("c_custkey"))
    }),

    // inverted index over the corpus: token → document frequency + capped
    // sorted posting list (CSV) — posting collection is rank-capped BEFORE
    // collect_list, so a stopword costs capPostings entries, not its df
    "t84_inverted_index" -> ((s, dir) => {
      graft.ops.TextIndex.invertedIndex(t(s, dir, "documents"), "doc_id", "text",
          minDf = 50L, capPostings = 20)
        .orderBy(col("token"))
    }),

    // bigram-LM conditional probabilities with add-0.5 smoothing — the
    // model-estimation pass of an n-gram perplexity quality filter; left
    // totals are a window over the counts relation (no second corpus pass)
    "t89_bigram_lm" -> ((s, dir) => {
      graft.ops.TextIndex.bigramConditional(t(s, dir, "documents"), "text",
        topN = 100)
    }),

    // per-LSH-bucket embedding centroids as a flat (bucket, dim) relation —
    // order-independent DECIMAL component sums make the distributed mean
    // deterministic (and therefore oracle-able) despite double arithmetic
    "s100_bucket_centroids" -> ((s, dir) => {
      Similarity.bucketCentroids(t(s, dir, "embeddings"), "vec_id", "embedding",
          planes = 5, dim = 64)
        .orderBy(col("bucket"), col("dim_pos"))
    }),

    // join-key distribution profile: heavy hitters with share + cumulative
    // share and the global skew ratio — the diagnostic that picks between
    // plain shuffle, AQE skew split, and salting (q49) for a hot-key join
    "q101_skew_profile" -> ((s, dir) => {
      graft.ops.Diagnostics.keyProfile(t(s, dir, "events"), "user_id", topN = 20)
    }),

    // apply the FROZEN tokenizer (t97 trains, this encodes): per-distinct-
    // word merge fold as a chain of codegen'd literal replaces, broadcast
    // join back to the corpus — the "tokenize 100 TB with a published
    // merges file" pass
    "t102_bpe_encode" -> ((s, dir) => {
      graft.ops.Bpe.encode(t(s, dir, "documents"), "doc_id", "text",
          frozenBpeMerges, capTokens = 12)
        .orderBy(col("doc_id"))
    }),

    // ordered funnel over the event stream: step k+1 counts only strictly
    // after the user's earliest step-k completion; each stage is a filtered
    // min-agg joined to the shrinking previous-step relation
    "e103_funnel" -> ((s, dir) => {
      graft.ops.Events.funnel(t(s, dir, "events"), "user_id", "event_type", "ts_ns",
        Seq("signup", "view", "click", "purchase"))
    }),

    // cohort retention triangle: users cohorted by first-event day, one
    // corpus-keyed exchange (the per-user min), everything after operates
    // on thin per-user / per-cell relations
    "e104_retention" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("day", to_date(col("ts")))
      graft.ops.Events.retention(ev, "user_id", "day")
        .orderBy(col("cohort_day"), col("day_offset"))
    }),

    // quality-weighted corpus downsampling to an expected 200-doc budget:
    // keep probability ∝ quality, md5-threshold decided per row, Σw through
    // DECIMAL so the scale constant is reduction-order independent
    "d105_weighted_downsample" -> ((s, dir) => {
      val scored = t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.qualityScore(col("text"), stopwords).as("weight"))
      graft.ops.Sampling.weightedDownsample(scored, "doc_id", "weight",
          targetRows = 200L)
        .orderBy(col("doc_id"))
    }),

    // corpus report card: the one-pass dataset summary a curation pipeline
    // publishes with a release — doc/token/lang counts, exact-dup rate,
    // quality mean (decimal sum) and exact percentiles, as a flat
    // (metric, value) relation. One aggregate over one scan.
    "p106_corpus_card" -> ((s, dir) => {
      val scored = t(s, dir, "documents").select(col("lang"), col("text"),
        TextFunctions.qualityScore(col("text"), stopwords).as("q"),
        size(split(col("text"), " ")).cast("long").as("ntok"))
      val a = scored.agg(
        count(lit(1)).as("n_docs"),
        sum(col("ntok")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("text")).as("n_distinct"),
        sum(col("q").cast("decimal(27,7)")).as("qsum"),
        expr("percentile(q, 0.5)").as("p50"),
        expr("percentile(q, 0.9)").as("p90"))
      a.select(expr(
        """stack(7,
          |  'dup_rate', floor((1.0 - CAST(n_distinct AS DOUBLE) / n_docs) * 1e6 + 0.5) / 1e6,
          |  'mean_quality', floor(CAST(qsum AS DOUBLE) / n_docs * 1e6 + 0.5) / 1e6,
          |  'n_docs', CAST(n_docs AS DOUBLE),
          |  'n_langs', CAST(n_langs AS DOUBLE),
          |  'n_tokens', CAST(n_tokens AS DOUBLE),
          |  'p50_quality', round(p50, 4),
          |  'p90_quality', round(p90, 4)) AS (metric, value)""".stripMargin))
        .orderBy(col("metric"))
    }),

    // CCNet-style LM quality score: per-doc mean bigram log-prob under the
    // corpus's own add-0.5 model; each ln rounds through DECIMAL before the
    // per-doc sum so the distributed mean is order-independent
    "t110_doc_logprob" -> ((s, dir) => {
      graft.ops.TextIndex.bigramLogProbScore(t(s, dir, "documents"),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // DSIR-style importance resampling (Xie et al. 2023, arXiv:2302.03169):
    // keep the quarter of the corpus whose token distribution is most like
    // the English target slice — importance = mean bigram log-prob under
    // the target-domain model MINUS under the corpus's own model; two
    // vocab²-bounded model estimations, and the keep step is the terasort
    // row-index form (never a global window, never a driver-side collect)
    "t144_dsir_resample" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.TextIndex.dsirResample(d, d.filter(col("lang") === "en"),
          "doc_id", "text", fraction = 0.25)
        .orderBy(col("importance").desc, col("doc_id"))
    }),

    // per-doc Shannon entropy over Unicode codepoints (round 15): the
    // classic gibberish / binary-junk / padding signal — random symbols
    // score high, repeated padding near 0, natural language sits in a
    // stable band. A codegen'd native expression
    // (functions/EntropyExpressions), pure per-row projection: zero
    // exchange beyond the output sort, a map over the scan at any scale
    "t145_char_entropy" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
          coalesce(length(col("text")), lit(0)).cast("long").as("n_chars"),
          (floor(graft.functions.EntropyExpressions.charEntropy(s, col("text"))
            * lit(1e6) + lit(0.5)) / lit(1e6)).as("entropy"))
        .orderBy(col("doc_id"))
    }),

    // token-VALUE entropy of the whitespace token stream — the
    // vocabulary-diversity complement of t145: template/boilerplate docs
    // reuse few distinct tokens (low entropy) even when their character
    // distribution looks like normal prose
    "t146_token_entropy" -> ((s, dir) => {
      val toks = graft.functions.TextFunctions.tokens(col("text"))
      t(s, dir, "documents").select(col("doc_id"),
          coalesce(size(toks), lit(0)).cast("long").as("n_tokens"),
          (floor(graft.functions.EntropyExpressions.tokenEntropy(s, toks)
            * lit(1e6) + lit(0.5)) / lit(1e6)).as("entropy"))
        .orderBy(col("doc_id"))
    }),

    // cross-source shingle-vocabulary overlap via THETA sketches (round
    // 15): the set-ALGEBRA sketch — HLL (q57) can only union, theta also
    // estimates intersections, the snapshot/contamination overlap
    // primitive at corpus scale. One bounded sketch per source (built by
    // map-side partial aggregation), pairwise algebra over sketch rows
    // only — the distinct-pair join never materializes. In exact mode at
    // every test SF (vocab << 2^lgK), so the whole report is hash-exact
    // against the exact-set oracle; a planet-scale vocabulary degrades
    // gracefully to ~1/sqrt(2^20) relative error (SketchesSpec pins both
    // modes)
    "d147_theta_overlap" -> ((s, dir) => {
      graft.ops.Sketches.thetaShingleOverlap(t(s, dir, "documents"),
          "source", "text", n = 3, lgK = 20)
        .orderBy(col("slice_a"), col("slice_b"))
    }),

    // AUTO-sized bucket-pruned PQ serving (round 15): lshPqTopKAuto's
    // contract as a driver row — autoServingPlanes picks the largest
    // plane count keeping expected bucket occupancy over 4·k·expand, so
    // per-query coarse cost stays flat while the prune ratio tracks the
    // corpus. The run's derived knob is stashed (the d74/p92 technique),
    // so the oracle replays the auto contract exactly at ANY scale —
    // retiring the r15 rationale that a count-derived serving knob cannot
    // be a SQL constant (sf0.01: planes=1; sf0.1: planes=3 — the
    // ScaleJoinsSpec-pinned picks)
    "s151_lshpq_auto" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val planes = Similarity.autoServingPlanes(emb.count(), k = 10, expand = 4)
      autoServingPlanesUsed(dir) = planes
      Similarity.lshPqTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 10,
          codebook = Similarity.pqCodebook(8, 16, 8),
          planes = planes, dim = 64, expand = 4)
        .orderBy(col("query_id"), col("neighbor_id"))
    }),

    // Okapi BM25 retrieval ranking (round 15): the standard scorer over
    // the t84 tokenization — tf from the codegen'd token_counts map (pure
    // projection, no corpus shuffle), corpus stats (N, Σdl, per-term df)
    // reduced to ONE broadcast row, top-N via TakeOrdered. Every float
    // input is integral and per-term scores sum in query order, so the
    // oracle replays the chain term by term with constants printed from
    // the operator's own doubles
    "t150_bm25" -> ((s, dir) => {
      graft.ops.TextIndex.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        query = Seq("hash", "join", "filter"), topN = 20)
    }),

    // cross-snapshot vocabulary novelty via theta DIFFERENCE (round 15,
    // completing d147's set algebra): how many of the new snapshot's
    // distinct shingles appear nowhere in the old one — the release-cut
    // "what does this crawl add" diagnostic, one bounded sketch per side
    // where the exact form is a full distinct anti-join. p114's snapshot
    // convention; exact mode at test vocab → hash-exact vs the exact oracle
    "d149_theta_novelty" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val snapA = docs.filter(col("doc_id") % 23 =!= 0)
      val snapB = docs.filter(col("doc_id") % 29 =!= 0)
        .withColumn("text", when(col("doc_id") % 17 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      graft.ops.Sketches.thetaNovelty(snapA, snapB, "text", n = 3, lgK = 20)
    }),

    // unigram-LM tokenizer, stage 1 (round 16): the substring seed
    // vocabulary — every ≤4-char substring of the distinct words,
    // corpus-frequency-weighted, top-500 + all single chars. Pure
    // codegen'd flatten/explode + one aggregate + TakeOrdered; fully
    // SQL-replayable, so this stage carries the family's hash-exact
    // oracle row (the EM stage below is the rows-only one)
    "t152_unigram_seed" -> ((s, dir) => {
      graft.ops.Unigram.seedVocab(t(s, dir, "documents"), "text",
          maxPieceLen = 4, seedSize = 500)
        .orderBy(col("freq").desc, col("piece").asc)
    }),

    // bigram collocations by PMI ratio (round 16): how much more often two
    // adjacent tokens co-occur than independence predicts — phrase mining /
    // multi-word-expression detection for tokenizer seeding. Log-free
    // score (the t75/t89 discipline): the PMI-monotone ratio n_ab·T²/(B·
    // n_a·n_b) from exact integer counts in fixed-order double arithmetic,
    // floor-rounded — the oracle replays it bit-for-bit
    "t156_pmi_collocations" -> ((s, dir) => {
      graft.ops.TextIndex.pmiCollocations(t(s, dir, "documents"), "text",
          topK = 50, minCount = 5)
        .orderBy(col("pmi_ratio").desc, col("a"), col("b"))
    }),

    // sparse "more-like-this" (round 16): document pairs by TF-IDF cosine
    // over a word-TRIGRAM inverted-index self-join — the sparse complement
    // of the dense ANN family (near-dup = verbatim copies, embedding ANN =
    // semantic neighbors, this = exact explainable vocabulary neighbors).
    // Integer milli-unit weights, DECIMAL-exact dots/norms, IEEE-exact
    // sqrt/divide, floor-rounded output; the d22 df-cap bounds the pair
    // generator
    "s157_sparse_mlt" -> ((s, dir) => {
      graft.ops.TextIndex.sparseCosinePairs(t(s, dir, "documents"),
          "doc_id", "text", threshold = 0.5, maxDf = 500, ngram = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // unigram-LM tokenizer, stage 2 (round 16): hard-EM training over the
    // distinct-word relation (Kudo 2018 in its Viterbi-EM form) with
    // EXACT-INTEGER segmentation scoring (BigInt cross-multiplication —
    // no float anywhere, so the output is a deterministic integer
    // function of the corpus; UnigramSpec pins golden fixtures and
    // cross-run equality). rows-only at the gate: the per-word DP has no
    // SQL replay (the s36 precedent) — the seed stage above is the
    // family's oracle-exact row and the spec carries the EM bound
    "t153_unigram_lm" -> ((s, dir) => {
      graft.ops.Unigram.train(t(s, dir, "documents"), "text",
          vocabSize = 256, maxPieceLen = 4, seedSize = 500, emIters = 2)
        .orderBy(col("rank"))
    }),

    // t153's ORACLE-CHECKED companion (round 17, r16 verdict #6): the two
    // invariants of the trained vocabulary that ARE SQL-decidable against
    // t152's oracle-exact seed — (a) coverage: the vocab's single-char
    // pieces are exactly the corpus's distinct characters (the oracle
    // counts them from the corpus independently), and (b) provenance:
    // every trained piece came from the seed relation (anti-join count 0,
    // the EM-only-prunes contract). A tokenizer that dropped a char or
    // invented a piece hash-mismatches the gate; t153 stays rows-only for
    // the EM ranking itself (per-word DP, no SQL form)
    "t165_unigram_coverage" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = graft.ops.Unigram.train(docs, "text",
        vocabSize = 256, maxPieceLen = 4, seedSize = 500, emIters = 2)
        .select(col("piece"))
      val seed = graft.ops.Unigram.seedVocab(docs, "text",
        maxPieceLen = 4, seedSize = 500).select(col("piece"))
      vocab.agg(sum(when(length(col("piece")) === 1, 1L).otherwise(0L))
          .cast("long").as("n_chars"))
        .crossJoin(vocab.join(seed, Seq("piece"), "left_anti")
          .agg(count(lit(1)).as("n_outside_seed")))
    }),

    // PERSISTED PQ serving index (round 15): s123's composition with the
    // LSH bucket as the STORAGE partition key. writeAnnIndex lays out
    // (id, pq_codes) partitionBy(bucket) once per (JVM, dir, data
    // fingerprint) — q50's bucketed-table caching rule — and
    // queryAnnIndex pushes the query set's bucket values as LITERAL
    // partition filters, so whole bucket= directories are pruned before
    // a byte is read (ScaleJoinsSpec asserts the file-level prune). The
    // chain downstream is lshPqTopK's verbatim, so the s123 oracle
    // replays this result bit-for-bit too
    "s148_ann_partitioned" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // the layout knobs, declared ONCE: the cache fingerprint below and
      // the write/query calls interpolate these same vals (r15 advice —
      // detached string literals in the key meant a knob edit could serve
      // a stale on-disk index silently, the exact failure the key exists
      // to prevent)
      val planes = 3
      val (cbM, cbK, cbSub) = (8, 16, 8)
      val cb = graft.ops.Similarity.pqCodebook(cbM, cbK, cbSub)
      // cache key = data fingerprint (q50's rule) PLUS every parameter the
      // on-disk layout was derived under (planes, codebook spec, a layout
      // version) — a knob edit must invalidate the index, or stale
      // bucket=/code partitions would serve silently-wrong candidates
      val sfx = {
        val md = java.security.MessageDigest.getInstance("MD5")
        md.digest(s"$dir|${tableFingerprint(s, dir, "embeddings")}|planes=$planes|cb=grid-$cbM-$cbK-$cbSub|v1"
            .getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(12)
      }
      val path = s"spark-warehouse/graft_ann_$sfx"
      if (!new java.io.File(s"$path/_SUCCESS").exists())
        graft.ops.Similarity.writeAnnIndex(emb, "vec_id", "embedding", cb,
          planes = planes, dim = 64, path = path)
      graft.ops.Similarity.queryAnnIndex(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 10, codebook = cb, planes = planes, dim = 64,
          path = path, expand = 4)
        .orderBy(col("query_id"), col("neighbor_id"))
    }),

    // reciprocal-rank FUSION across serving tiers (round 16): the s120
    // full-scan ADC ranking and the s123 bucket-pruned ranking fused by
    // RRF — the standard multi-tier serving ensemble (only ranks enter,
    // so incomparable tier scores fuse robustly; n_lists surfaces
    // cross-tier agreement). Exact integer micro-unit contributions, so
    // the oracle replays the fusion over its own replays of both tiers
    "s160_rank_fusion" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      val cb = graft.ops.Similarity.pqCodebook(8, 16, 8)
      val pq = graft.ops.Similarity.pqTopK(emb, q, "vec_id", "embedding",
        k = 10, codebook = cb, expand = 4)
      val lshpq = graft.ops.Similarity.lshPqTopK(emb, q, "vec_id", "embedding",
        k = 10, codebook = cb, planes = 3, dim = 64, expand = 4)
      graft.ops.Similarity.rrfFuse(Seq(pq, lshpq), k = 10, rrfK = 60)
        .orderBy(col("query_id"), col("neighbor_id"))
    }),

    // PCA WHITENING (round 17, r16 verdict #5 — completes the s137 story:
    // the covariance matrix finally has its consumer): fit = the
    // DECIMAL-quantized corpus moments + a deterministic driver-side
    // cyclic-Jacobi eigensolve (StrictMath, fixed rotation order — the
    // pqCodebookTrained bounded-driver-math precedent), apply = one
    // codegen'd zip_with/aggregate projection per component over literal
    // model arrays. The fitted (mu, W) is stashed so the oracle replays
    // the projection from THIS run's constants (the s143 technique) —
    // hash-exact at any SF because the stash re-fits at the run's scale
    "s162_whitening" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val (mu, w) = Similarity.whitenModel(e, "embedding", dim = 64, k = 8)
      whitenModelStash(dir) = (mu, w)
      graft.ops.Similarity.whiten(e, "vec_id", "embedding", mu, w)
        .orderBy(col("id"))
    }),

    // WHITENED ANN serving (round 17): the s162 projection actually
    // FEEDING search — corpus and queries projected onto the 8 whitened
    // components, exact cosine top-k in the reduced space (the
    // dimensionality-reduction serving stage every production embedding
    // pipeline runs: 8× fewer dims per distance at recall governed by the
    // spectrum). Chain = whiten (codegen'd literal-array projections) →
    // the s29 exact-top-k shape; oracle replays projection + cosine +
    // rank from the stashed model
    "s166_whitened_ann" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // fits its own model: s166's warm min includes the whitening fit
      val (mu, w) = Similarity.whitenModel(e, "embedding", dim = 64, k = 8)
      whitenModelStash(dir) = (mu, w)
      val y = graft.ops.Similarity.whiten(e, "vec_id", "embedding", mu, w)
        .select(col("id"), array((0 until 8).map(i => col(s"y$i")): _*).as("yv"))
      val q = broadcast(y.filter(col("id") < 8)
        .select(col("id").as("query_id"), col("yv").as("qv")))
      val c = y.select(col("id").as("neighbor_id"), col("yv").as("cv"))
      val scored = c.crossJoin(q)
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("cosine", graft.ops.Similarity.cosine(col("qv"), col("cv")))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id").asc)
      scored.withColumn("rn", row_number().over(win))
        .filter(col("rn") <= 10)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 4).as("cosine"))
        .orderBy(col("query_id"), col("neighbor_id"))
    }),

    // SEMANTIC decontamination (round 16): corpus vectors embedding-close
    // to the held-out eval slice — the paraphrase leaks the LEXICAL passes
    // (shingle d61, phrase d135) cannot see; completes the contamination
    // family across both modalities. Same %25 split convention as d61;
    // md5-derived hyperplanes, so the oracle recomputes identical buckets
    // and the identical cross-join candidates
    "d159_semantic_decontam" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.ops.Similarity.crossNearDup(
          e.filter(col("vec_id") % 25 =!= 0), e.filter(col("vec_id") % 25 === 0),
          "vec_id", "embedding", threshold = 0.35, planes = 4, tables = 2, dim = 64)
        .orderBy(col("id"), col("probe_id"))
    }),

    // INCREMENTAL index growth (round 16): the s148 layout built from 80%
    // of the corpus, then GROWN by appendAnnIndex with the remaining 20% —
    // the daily-ingest maintenance path (append cost is O(batch), the
    // existing layout is never touched). Queries over the grown layout
    // must equal lshPqTopK over the full corpus, so the oracle is s148's
    // verbatim — hash-exact proves the append path loses nothing
    "s158_ann_index_append" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val planes = 3
      val (cbM, cbK, cbSub) = (8, 16, 8)
      val cb = graft.ops.Similarity.pqCodebook(cbM, cbK, cbSub)
      val path = roundtripDir("annincr", dir, tableFingerprint(s, dir, "embeddings")) { tmp =>
        graft.ops.Similarity.writeAnnIndex(
          emb.filter(col("vec_id") % 5 =!= 0), "vec_id", "embedding", cb,
          planes = planes, dim = 64, path = s"$tmp/idx")
        graft.ops.Similarity.appendAnnIndex(
          emb.filter(col("vec_id") % 5 === 0), "vec_id", "embedding", cb,
          planes = planes, dim = 64, path = s"$tmp/idx")
      }
      graft.ops.Similarity.queryAnnIndex(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 10, codebook = cb, planes = planes,
          dim = 64, path = s"$path/idx", expand = 4)
        .orderBy(col("query_id"), col("neighbor_id"))
    }),

    // max-containment near-dup pairs — the ASYMMETRIC dedup metric: a short
    // doc fully pasted inside a long one has tiny Jaccard but containment
    // ~1.0; same candidate/skew machinery as d22 (df cap on the numerator,
    // exact set-size denominators)
    "d109_containment_pairs" -> ((s, dir) => {
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text", n = 3,
          threshold = 0.9, maxShingleDf = 500L)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // multimodal frame sampling: n evenly-spaced fixed-size byte frames per
    // payload, pure expression-level slicing (the video/audio frame-sample
    // plumbing; the ASCII corpus keeps byte==char so DuckDB can reproduce
    // the slices). Offsets floor in both engines (trunc==floor at off>=0,
    // and the greatest(...,1) clamp absorbs the negative-off edge)
    "m107_frame_sample" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal.attachBinary(
        t(s, dir, "documents"), "doc_id", "text")
      graft.multimodal.Multimodal.frameSample(media, n = 4, frameBytes = 16)
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("frame").cast("string").as("frame_str"))
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    // ORC source/sink roundtrip (columnar format beyond the reference; the
    // oracle reads the ORIGINAL parquet, so a hash match proves write/read
    // fidelity of the ORC path end-to-end)
    "q64_orc_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_orc").toString
      val slice = t(s, dir, "customer")
        .filter(col("c_custkey") % 50 === 0)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
      slice.coalesce(1).write.mode("overwrite").orc(tmp)
      s.read.orc(tmp).orderBy(col("c_custkey"))
    }),

    // segment-level exact dedup with reassembly (Lee et al.): every
    // repeated 16-word block keeps only its FIRST occurrence (min (doc,
    // pos)) and documents are re-stitched from their survivors — the
    // keep-one-copy sibling of d88's drop-all-copies boilerplate pruning
    "d111_segment_dedup" -> ((s, dir) => {
      Dedup.segmentDedup(t(s, dir, "documents"), "doc_id", "text",
          blockWords = 16)
        .orderBy(col("doc_id"))
    }),

    // greedy token-budget prefix: rank by quality (desc, doc_id tiebreak),
    // keep docs while the inclusive running token total fits the budget —
    // the "best 10k-token subset" curation step; the running total comes
    // from per-partition sums, never a single-partition window
    "t112_token_budget" -> ((s, dir) => {
      val scored = t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.qualityScore(col("text"), stopwords).as("score"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      graft.ops.Sampling.tokenBudgetPrefix(scored, "doc_id", "score",
          "n_tokens", budgetTokens = 10000L)
        .orderBy(col("doc_id"))
    }),

    // perceptual-hash near-dup pairs over binary payloads: payloads
    // size-normalized to a fixed 120-byte crop (the resize stand-in), 60
    // evenly spaced bytes mean-thresholded into a 60-bit fingerprint (the
    // deterministic stand-in for a real image pHash decode), then the d24
    // banded Hamming machinery verbatim — multimodal dedup end-to-end
    "m113_phash_neardup" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal.attachBinary(
        t(s, dir, "documents"), "doc_id", "text")
      val sigs = graft.multimodal.Multimodal.pHash60(media)
        .select(col("id"), col("phash").as("simhash"))
      Dedup.simHashPairs(sigs, maxDist = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // corpus snapshot diff: release B vs release A compared by content
    // fingerprint — only (id, 40-byte hash) rows ever shuffle, the bodies
    // never do; snapshots derived deterministically from the corpus
    // (A drops doc_id%23==0, B drops %29==0 and revises %17==0)
    "p114_snapshot_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val snapA = docs.filter(col("doc_id") % 23 =!= 0)
      val snapB = docs.filter(col("doc_id") % 29 =!= 0)
        .withColumn("text", when(col("doc_id") % 17 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      graft.ops.Snapshot.diff(snapA, snapB, "doc_id",
          md5(concat_ws("|", col("text"), col("lang"))))
        .orderBy(col("doc_id"))
    }),

    // two-stage ANN: int8 coarse scan (exact integer dot × scales) picks
    // k·4 candidates per query, exact float cosine re-ranks them to top-k
    // — the memory-bandwidth play, deterministic end-to-end so the oracle
    // reproduces candidate set AND final ranking bit-for-bit
    "s115_rerank_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ops.Similarity.rerankTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 10, expand = 4)
        .orderBy(col("query_id"), col("neighbor_id"))
    }),

    // the full release cut, composed from verified stages: t112's
    // quality-ranked token-budget prefix feeds t98's deterministic
    // content-hash shuffle into fixed-size training shards — strict row
    // order IS the shard layout the writer would partitionBy
    "p116_release_cut" -> ((s, dir) => {
      val scored = t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.qualityScore(col("text"), stopwords).as("score"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val kept = graft.ops.Sampling.tokenBudgetPrefix(scored, "doc_id",
          "score", "n_tokens", budgetTokens = 10000L)
        .select(col("doc_id"), col("n_tokens"))
      graft.ops.Sampling.shuffleShards(kept, "doc_id", shardSize = 32L)
        .orderBy(col("pos"))
    }),

    // tokenizer coverage report: per-language efficiency of the FROZEN
    // tokenizer (t102's merges) — bytes/token and tokens/word are the
    // numbers a tokenizer owner watches across corpus releases
    "t117_tokenizer_coverage" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val enc = graft.ops.Bpe.encode(docs, "doc_id", "text",
          frozenBpeMerges, capTokens = 12)
        .select(col("doc_id"), col("n_tokens"))
      docs.select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_words"))
        .join(enc, Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_chars")).as("n_chars"))
        .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_words"),
          col("n_chars"),
          (floor(col("n_chars").cast("double") / col("n_tokens") * lit(1e6)
            + lit(0.5)) / lit(1e6)).as("bytes_per_token"),
          (floor(col("n_tokens").cast("double") / col("n_words") * lit(1e6)
            + lit(0.5)) / lit(1e6)).as("tokens_per_word"))
        .orderBy(col("lang"))
    }),

    // path analysis: most frequent 3-step event-type sequences — ONE
    // user-keyed window exchange (the lead chain), a map-side-combined
    // path aggregate, TakeOrdered top-N
    "e118_event_paths" -> ((s, dir) => {
      graft.ops.Events.topPaths(t(s, dir, "events"), n = 3, topN = 25)
    }),

    // SCD2 dimension history: per user, consecutive same-event-type runs
    // collapse to validity intervals [valid_from, valid_to) — one
    // user-keyed window exchange carries flags, run numbering, and the
    // per-run rollup; valid_to is a lead over the thin RUNS relation
    "e119_scd2" -> ((s, dir) => {
      graft.ops.Events.scd2(t(s, dir, "events"), "user_id", "event_type")
        .orderBy(col("user_id"), col("valid_from"), col("event_type"))
    }),

    // point-in-time (time-travel) dimension read over the SCD2 history:
    // the as-of instant is the event-time midpoint (computed as a 1-row
    // integer aggregate, broadcast back), and the read is a stateless
    // interval-containment filter over the runs relation — the "what did
    // the dimension look like at T" companion of e119
    "e122_dim_asof" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val hist = graft.ops.Events.scd2(ev, "user_id", "event_type")
      // integer div, never /: epoch-ns values exceed double's 2^53 exact
      // range, so float math would lose the nanoseconds both engines keep
      val asof = ev.agg(expr(
        "min(ts_ns) + (max(ts_ns) - min(ts_ns)) div 2").as("as_of"))
      hist.crossJoin(broadcast(asof))
        .filter(col("valid_from") <= col("as_of") &&
          (col("valid_to").isNull || col("valid_to") > col("as_of")))
        .select(col("user_id"), col("event_type"), col("valid_from"),
          col("n_events"), col("is_current"))
        .orderBy(col("user_id"), col("valid_from"), col("event_type"))
    }),

    // near-dup pair audit: per simhash candidate pair, exact character
    // edit distance + normalized ratio — the O(len²) DP runs only on the
    // LSH-shrunk pair set, with texts fetched by candidate-sized
    // broadcast joins (the corpus is never shuffled)
    "d129_pair_explain" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.simHashPairs(
        Dedup.simHash(docs, "doc_id", "text"), maxDist = 3)
      Dedup.explainPairs(docs, pairs, "doc_id", "text")
        .orderBy(col("id_a"), col("id_b"))
    }),

    // deterministic PageRank over the near-dup graph (d24's simhash
    // pairs): which copy is the most CENTRAL — the principled canonical
    // pick when clusters merge many sources. Every per-node quantity
    // floor-rounded at the same points in both engines, neighbor sums
    // through DECIMAL — a floating fixed-point iteration the oracle
    // replays with a recursive CTE
    "d128_pagerank" -> ((s, dir) => {
      val pairs = simhashPairGraph(s, dir)
      graft.ops.Graph.pageRank(pairs, "id_a", "id_b", iters = 5)
        .orderBy(col("node"))
    }),

    // leakage-safe train/val/test split: near-dup CLUSTERS are the split
    // unit, so no near-duplicate pair ever straddles the train/eval
    // boundary (the split-time complement of d61's benchmark
    // decontamination). Split = md5 of the cluster representative against
    // the cumulative hex5 thresholds — a pure content function, stable
    // under corpus growth; the candidate-sized cluster map is broadcast
    // and the corpus never shuffles
    "d130_cluster_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = simhashPairGraph(s, dir)
      val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      graft.ops.Sampling.clusterSplit(docs.select(col("doc_id")),
          "doc_id", cc, "node", "component",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("rep_id"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // hard-negative mining: per query, the top-k most-similar vectors with
    // a DIFFERENT label — boundary-hugging negatives for contrastive
    // training. One corpus scan, broadcast queries, salted two-stage top-k
    "s131_hard_negatives" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 8),
          "vec_id", "embedding", "label", k = 10)
        .orderBy(col("query_id"), col("neighbor_id"))
    }),

    // per-source cap (C4/Gopher-style domain balancing): at most k docs per
    // source, the k best by quality — bounds any source's ABSOLUTE
    // contribution to the mix no matter how large it grows (t86's
    // percentile prune keeps a fraction; a crawl dump needs a ceiling).
    // One window shuffle on the source key
    "d132_source_cap" -> ((s, dir) => {
      val scored = t(s, dir, "documents").select(col("doc_id"), col("source"),
        TextFunctions.qualityScore(col("text"), stopwords).as("quality"))
      graft.ops.Sampling.topKByScore(scored, "source", "doc_id", "quality", k = 10)
        .orderBy(col("source"), col("quality").desc, col("doc_id"))
    }),

    // source-interleaved training order: consecutive positions cycle
    // through sources by construction (t98's shuffle mixes in
    // expectation) — balanced batch composition for training runs.
    // Window rank per source, then terasort-shape global positions
    "t133_interleave" -> ((s, dir) => {
      graft.ops.Sampling.interleaveByStratum(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          "source", "doc_id")
        .select(col("doc_id"), col("source"), col("stratum_rank"), col("pos"))
        .orderBy(col("pos"))
    }),

    // Jaccard-decile histogram over the capped candidate-pair set: the
    // threshold-calibration evidence (where does near-dup mass end and
    // topical overlap begin?) from ONE pass of the d22 machinery; binning
    // on raw IEEE ratios, every output value exact
    "d134_jaccard_hist" -> ((s, dir) => {
      Dedup.jaccardHistogram(t(s, dir, "documents"), "doc_id", "text",
          n = 3, minJ = 0.1, maxShingleDf = 500)
        .orderBy(col("bin"))
    }),

    // verbatim-phrase decontamination (the high-precision complement of
    // d61's shingle overlap): corpus docs containing a FULL eval phrase
    // token-aligned — a pure hash equi-join of the corpus n-gram stream
    // against the eval phrase set (a contains-scan formulation measured
    // 31x superlinear at 10x; the equi-join is linear). Same eval-set
    // convention as d61 (doc_id % 25)
    "d135_phrase_contamination" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.phraseContamination(
          d.filter(col("doc_id") % 25 =!= 0), d.filter(col("doc_id") % 25 === 0),
          "doc_id", "text", phraseLen = 6)
        .select(col("id").as("doc_id"), col("n_hits"))
        .orderBy(col("doc_id"))
    }),

    // recall@k evaluation: s30's LSH config measured against s29's exact
    // top-k — the tuning report an ANN deployment runs before fixing
    // planes/tables; queries with an empty approximate result still
    // appear with n_approx = 0
    "s142_ann_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 10)
      val approx = Similarity.lshTopK(e, q, "vec_id", "embedding",
        k = 10, planes = 6, dim = 64, tables = 2)
      Similarity.recallAtK(approx, exact).orderBy(col("query_id"))
    }),

    // recall@k for the PQ serving tiers (round 14): s120's full-scan ADC
    // and s123's bucket-pruned composition graded against the exact top-k
    // in one report — the same measured-recall evidence the LSH tier has
    // had since s142, so the quantization + pruning knobs (m, kc, expand,
    // planes) ship with numbers, not guesses. The exact side is staged
    // once (localCheckpoint) so the brute-force pass — the harness's real
    // cost at corpus scale — isn't recomputed per graded tier.
    // Round 15 adds tier 'pqt': the TRAINED per-subspace k-means codebook
    // (x120's real-deployment form) graded in the same report. The fit is
    // a deterministic driver artifact (capped md5-ordered sample, Lloyd
    // with first-k-distinct seeding — Similarity.pqCodebookTrained), so
    // the oracle inlines THIS run's constants (stashed below; Verify
    // dumps oracle SQL AFTER the queries run) and replays the serving
    // chain bit-for-bit, exactly as it does for the md5-grid constants —
    // and because the stash is re-trained at whatever SF the query ran,
    // the replay stays exact across scales (no d74/p92-style gate pin)
    "s143_pq_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
      val exact = Checkpointing.stage(
        Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 10))
      val cb = Similarity.pqCodebook(8, 16, 8)
      val cbt = Similarity.pqCodebookTrained(e, "vec_id", "embedding",
        m = 8, k = 16, subDim = 8)
      trainedPqCodebook(dir) = cbt
      val pq = Similarity.pqTopK(e, q, "vec_id", "embedding", k = 10,
        codebook = cb, expand = 4)
      val lshpq = Similarity.lshPqTopK(e, q, "vec_id", "embedding", k = 10,
        codebook = cb, planes = 3, dim = 64, expand = 4)
      val pqt = Similarity.pqTopK(e, q, "vec_id", "embedding", k = 10,
        codebook = cbt, expand = 4)
      Similarity.recallAtK(pq, exact).withColumn("tier", lit("pq"))
        .unionByName(Similarity.recallAtK(lshpq, exact).withColumn("tier", lit("lshpq")))
        .unionByName(Similarity.recallAtK(pqt, exact).withColumn("tier", lit("pqt")))
        .select(col("tier"), col("query_id"), col("n_approx"), col("n_exact"),
          col("n_overlap"), col("recall"))
        .orderBy(col("tier"), col("query_id"))
    }),

    // cross-video duplicate-FRAME detection: frame sampling → per-frame
    // pHash → banded Hamming pairs → video-pair counts; catches shared
    // clips whole-file hashing (m113) misses
    "m141_frame_neardup" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal.attachBinary(
        t(s, dir, "documents"), "doc_id", "text")
      graft.multimodal.Multimodal.frameNearDup(media,
          nFrames = 4, frameBytes = 64, maxDist = 2)
        .orderBy(col("video_a"), col("video_b"))
    }),

    // streaming per-key quota (ingestion rate cap): at most 5 events per
    // user over the stream, first-by-(event-time, id) — a REAL
    // AvailableNow run; one counter per key in state, no watermark (a
    // lifetime cap never expires). Oracle = the batch window replay
    "q140_stream_quota" -> ((s0, dir) => {
      val s = streamSession(s0) // memoized scoped child, see q58
      import s.implicits._
      val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
      val raw = graft.streaming.Streams.readStream(s, dir, rawSchema,
        glob = Some("events.parquet"))
      val ev = Tables.normalizeEventTs(raw)
        .select(col("user_id"), col("event_id"), col("ts_ns"))
        .as[graft.streaming.Streams.QuotaEvt]
      val kept = graft.streaming.Streams.quotaStream(ev, quota = 5)
      freshMemorySink(s, "graft_q140_sink")
      val sq = kept.toDF().writeStream.format("memory")
        .queryName("graft_q140_sink").outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      sq.awaitTermination()
      s.table("graft_q140_sink")
        .select(col("user_id"), col("event_id"), col("ts_ns"))
        .orderBy(col("user_id"), col("ts_ns"), col("event_id"))
    }),

    // per-doc n-gram novelty: fraction of a doc's distinct 5-gram
    // shingles appearing in NO other doc — the boilerplate/diversity
    // retention signal; one shingle-df exchange + one doc aggregate
    "t139_novelty" -> ((s, dir) => {
      Dedup.noveltyScore(t(s, dir, "documents"), "doc_id", "text", n = 5)
        .select(col("id").as("doc_id"), col("n_shingles"), col("n_unique"),
          col("novelty"))
        .orderBy(col("doc_id"))
    }),

    // whitening/PCA-prep: upper-triangle covariance of the embedding
    // distribution — d²-pair stream partially aggregated in-stage (the
    // shuffle carries ≤ d(d+1)/2 rows per partition), expectations
    // decimal-quantized + floor-rounded so both engines agree bit-for-bit
    "s137_embedding_covariance" -> ((s, dir) => {
      Similarity.covarianceUpper(t(s, dir, "embeddings"), "embedding", dim = 64)
        .orderBy(col("i"), col("j"))
    }),

    // water-filling reweight to a TARGET language mix (en .5 / zh .2 /
    // es .15 / de .15; fr unlisted -> dropped): the binding stratum (zh)
    // survives whole, everything else trims to match — the static
    // mixture-spec step temperatureBalance's fixed sqrt cannot express
    "d136_target_mix" -> ((s, dir) => {
      graft.ops.Sampling.targetMix(
          t(s, dir, "documents").select(col("doc_id"), col("lang")),
          "lang", "doc_id",
          Map("en" -> 0.5, "zh" -> 0.2, "es" -> 0.15, "de" -> 0.15))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // data-quality gate: every constraint yields one (check, violations)
    // row — 0 proves the constraint HELD; all row checks ride ONE scan
    // (conditional aggregation), uniqueness one key agg, the FK one
    // payload-free anti join
    "q127_data_quality" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      graft.ops.Quality.report(li, Seq(
          "l_quantity_in_1_50" -> col("l_quantity").between(1, 50),
          "l_quantity_le_30" -> (col("l_quantity") <= 30), // intentionally violated
          "l_price_positive" -> (col("l_extendedprice") > 0),
          "l_shipdate_nonnull" -> col("l_shipdate").isNotNull),
        extra = Seq(
          graft.ops.Quality.uniqueCheck(o, Seq("o_orderkey"), "orders_key_unique"),
          graft.ops.Quality.fkCheck(li, "l_orderkey", o, "o_orderkey",
            "lineitem_order_fk")))
        .orderBy(col("check"))
    }),

    // regular-grid resampling + forward fill: one row per (user, day)
    // across each user's span — empty days carry 0 events and the
    // previous day's value; the last-value pick is (ts, id)-max, fully
    // deterministic
    "e126_resample_ffill" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("day", to_date(col("ts")))
      graft.ops.Events.resampleDaily(ev, "user_id", "day", "value")
        .orderBy(col("user_id"), col("day"))
    }),

    // streaming SCD2: the e119 history maintained INCREMENTALLY — per-key
    // open-run state (O(|keys|), the dimension-table bound), closed
    // intervals emitted as changes arrive; a real AvailableNow run whose
    // output the batch oracle's non-current rows reproduce exactly
    "q124_stream_scd2" -> ((s0, dir) => {
      val s = streamSession(s0) // memoized scoped child, see q58
      import s.implicits._
      val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
      val raw = graft.streaming.Streams.readStream(s, dir, rawSchema,
        glob = Some("events.parquet"))
      val ev = Tables.normalizeEventTs(raw)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts_ns"))
        .as[graft.streaming.Streams.Scd2Evt]
      val closed = graft.streaming.Streams.scd2Stream(ev)
      freshMemorySink(s, "graft_q124_sink")
      val sq = closed.toDF().writeStream.format("memory")
        .queryName("graft_q124_sink").outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      sq.awaitTermination()
      s.table("graft_q124_sink")
        .orderBy(col("user_id"), col("valid_from"), col("event_type"))
    }),

    // aggregate pushdown INTO the parquet scan: MIN/MAX/COUNT answered
    // from footer statistics — the scan reads metadata, not 600k rows
    // (plan shows PushedAggregation; spec-pinned)
    "q125_agg_pushdown" -> ((s0, dir) => {
      // pushdown lives in the V2 parquet reader (scoped to this child)
      val s = childSession(s0, "v2pushdown",
        "spark.sql.sources.useV1SourceList" -> "",
        "spark.sql.parquet.aggregatePushdown" -> "true")
      s.read.parquet(s"$dir/lineitem.parquet")
        .agg(expr("count(*)").as("n_rows"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          min(col("l_orderkey")).as("min_ok"),
          max(col("l_orderkey")).as("max_ok"))
    }),

    // bucket-pruned PQ ANN — the billion-scale serving shape: LSH bucket
    // partition (query touches 1/8 of the corpus via an EQUI join), ADC
    // over 32×-compressed codes in-bucket, exact re-rank of the winners;
    // every stage deterministic, so the oracle replays it end to end
    "s123_lshpq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ops.Similarity.lshPqTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 10,
          codebook = graft.ops.Similarity.pqCodebook(8, 16, 8),
          planes = 3, dim = 64, expand = 4)
        .orderBy(col("query_id"), col("neighbor_id"))
    }),

    // CDC apply: an ordered I/U/D change log compacted per key (last
    // change wins) and applied to the snapshot — keys with U@1 then D@2
    // end up DELETED, proving the ordering; the snapshot is touched by
    // one anti-join + union, never shuffled
    "q121_cdc_apply" -> ((s, dir) => {
      val base = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
      val changes = base.filter(col("c_custkey") % 10 === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 1000)
          .withColumn("op", lit("U")).withColumn("ord", lit(1L))
        .unionByName(base.filter(col("c_custkey") % 20 === 0)
          .withColumn("op", lit("D")).withColumn("ord", lit(2L)))
        .unionByName(base.filter(col("c_custkey") % 25 === 0)
          .withColumn("c_custkey", col("c_custkey") + 100000L)
          .withColumn("op", lit("I")).withColumn("ord", lit(1L)))
      graft.ops.Relational.applyChangelog(base, changes, Seq("c_custkey"))
        .orderBy(col("c_custkey"))
    }),

    // PQ-compressed ANN: 64-dim float32 → 8 codes (32× smaller corpus
    // scan), ADC candidate scoring from the query's inlined distance
    // table, exact cosine re-rank of k·4 candidates; the md5-grid
    // codebook keeps the full hash-exact oracle (a trained codebook
    // would swap in via pqCodebook and go rows-only, the IVF precedent)
    "s120_pq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ops.Similarity.pqTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 10,
          codebook = graft.ops.Similarity.pqCodebook(8, 16, 8), expand = 4)
        .orderBy(col("query_id"), col("neighbor_id"))
    }),

    // corpus k-NN GRAPH (round 17): per-NODE top-k cosine neighbors from
    // LSH-bucket candidates — the primitive under semantic clustering,
    // SemDeDup diversity pruning, and label propagation, where the query
    // set IS the corpus and all-pairs is never an option. nearDupPairs'
    // dual: both directions kept (k-NN is asymmetric), RANK threshold
    // instead of a cosine threshold; same md5-derived planes, so the
    // oracle recomputes identical buckets
    "s170_knn_graph" -> ((s, dir) => {
      graft.ops.Similarity.knnGraph(t(s, dir, "embeddings"), "vec_id",
          "embedding", k = 5, planes = 6, tables = 2, dim = 64)
        .orderBy(col("node_id"), col("neighbor_id"))
    }),

    // INCREMENTAL k-NN graph maintenance (round 17): the s158 append
    // precedent applied to s170's graph — fold the %5 batch into the
    // graph built on the rest, recomputing ONLY the affected nodes (batch
    // + bucket-mates); provably equals the full rebuild, and the oracle
    // IS the full-rebuild replay (hash-exact = the no-loss proof in the
    // driver artifact itself)
    "s172_knn_graph_append" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val old = emb.filter(col("vec_id") % 5 =!= 0)
      val batch = emb.filter(col("vec_id") % 5 === 0)
      val g = graft.ops.Similarity.knnGraph(old, "vec_id", "embedding",
        k = 5, planes = 6, tables = 2, dim = 64)
      graft.ops.Similarity.appendKnnGraph(g, old, batch, "vec_id", "embedding",
          k = 5, planes = 6, tables = 2, dim = 64)
        .orderBy(col("node_id"), col("neighbor_id"))
    }),

    // LABEL PROPAGATION (round 17): pseudo-labeling over s170's graph —
    // the %3 held-out labels re-derived from the rest by two rounds of
    // similarity-weighted neighbor vote (DECIMAL vote sums: exact in any
    // reduction order, so the argmax replays in SQL). Output: the held-out
    // audit (true label vs propagated; NULL = no labeled reachable).
    // NOTE: this testdata's labels are geometry-independent (exact 1-NN
    // label agreement ≈ 0.10 = the 10-label prior, measured), so `agree`
    // here reads as chance BY CONSTRUCTION of the synthetic data — the
    // row verifies the propagation machinery end to end, not an accuracy
    // claim; PipelineSpec pins the semantics on a separable fixture
    "s173_label_propagation" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val g = graft.ops.Similarity.knnGraph(emb, "vec_id", "embedding",
        k = 5, planes = 6, tables = 2, dim = 64)
      val seeds = emb.filter(col("vec_id") % 3 =!= 0)
        .select(col("vec_id"), col("label"))
      val prop = graft.ops.Graph.labelPropagate(g, seeds, "vec_id", "label",
        rounds = 2)
      emb.filter(col("vec_id") % 3 === 0).select(col("vec_id"), col("label"))
        .join(prop, Seq("vec_id"), "left")
        .select(col("vec_id"), col("label"), col("pred_label"),
          (col("label") === col("pred_label")).as("agree"))
        .orderBy(col("vec_id"))
    }),

    // MERGEABLE moment statistics (round 17): base + delta slice sketches
    // merged algebraically vs a full recompute — the stats-maintenance
    // path that never rescans history at 100 TB (merge cost is O(cols)).
    // The decimal aggregation state makes the merge EXACT, asserted
    // per-field in the oracle-checked matches_full column (the q163
    // assert-a-bound pattern)
    "p170_incremental_stats" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val fields = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val split = to_timestamp(lit("1997-01-01 00:00:00"))
      val merged = graft.ops.Stats.momentsReport(graft.ops.Stats.mergeMoments(Seq(
        graft.ops.Stats.momentsSketch(li.filter(col("l_shipdate") < split), fields),
        graft.ops.Stats.momentsSketch(li.filter(col("l_shipdate") >= split), fields))))
      val full = graft.ops.Stats.momentsReport(
        graft.ops.Stats.momentsSketch(li, fields))
        .select(col("field"), col("n").as("f_n"), col("sum").as("f_sum"),
          col("mean").as("f_mean"), col("stdev").as("f_stdev"))
      merged.join(full, "field")
        .select(col("field"), col("n"), col("n_na"), col("min"), col("max"),
          col("sum"), col("mean"), col("stdev"),
          (col("n") === col("f_n") && col("sum") === col("f_sum") &&
            col("mean") === col("f_mean") && col("stdev") === col("f_stdev"))
            .as("matches_full"))
        .orderBy(col("field"))
    }),

    // SEMANTIC CLUSTERS (round 17): connected components over MUTUAL k-NN
    // edges from s170's graph, gated at cosine ≥ 0.35 — the hub-resistant
    // clustering construction feeding cluster-aware splits and diversity
    // sampling; every vector gets a cluster (singletons under their own
    // id), cluster_id = min member. Ungated, rank-only mutuality
    // percolates this corpus into one 99% mega-component (see the
    // operator's scaladoc) — the similarity cut is the semantics. The
    // oracle replays buckets, ranks, the gate, mutuality, and the closure
    // with a recursive CTE
    "d171_mutual_knn_clusters" -> ((s, dir) => {
      graft.ops.Similarity.mutualKnnClusters(t(s, dir, "embeddings"),
          "vec_id", "embedding", k = 5, minCosine = 0.35,
          planes = 6, tables = 2, dim = 64)
        .orderBy(col("vec_id"))
    }),

    // ZIPF FIT (round 17): least-squares slope of ln(tf) on ln(rank) over
    // the top-1000 tokens — the corpus-health diagnostic (natural language
    // ≈ −1; flatter = template flood, steeper tail = gibberish). Ranks via
    // the terasort row-index machinery (no partitionless window), every
    // regression term decimal-rounded pre-sum
    "t174_zipf_fit" -> ((s, dir) =>
      graft.ops.TextIndex.zipfFit(t(s, dir, "documents"), "text", topN = 1000)),

    // GROUP-WISE robust z (round 17): t169's median/MAD standardization
    // WITHIN each language — |z| > k flags compare a doc against its own
    // population's spread, not a global band dominated by the largest
    // language. Fully distributed (two partitioned-window rank passes,
    // zero driver involvement); the regex-heavy score is staged once for
    // its three consumers (the t169 staging rule)
    "t171_robust_z_by_lang" -> ((s, dir) => {
      val scored = graft.ops.Checkpointing.stage(
        t(s, dir, "documents").select(col("doc_id"), col("lang"),
          TextFunctions.qualityScore(col("text"), stopwords).as("quality")))
      graft.ops.Quality.robustZBy(scored, "lang", "doc_id", "quality")
        .orderBy(col("doc_id"))
    }),

    // STREAMING drift alarm (round 17): p174's PSI with the CURRENT side
    // arriving as a stream — the calibration range and base counts are
    // static (batch-derived), the stream is binned by the same codegen'd
    // cell expression, and the engine's state store keeps the per-bin
    // counts (complete mode, O(bins) state); the report tail runs
    // batch-side on the sink. Monitoring-on-ingest: the alarm is current
    // after every micro-batch without rescanning history. Same
    // computation as p174 ⇒ the SAME oracle proves stream ≡ batch
    "q175_stream_psi" -> ((s0, dir) => {
      val s = streamSession(s0)
      val static = s.read.parquet(s"$dir/documents.parquet")
      val (mn, mx) = graft.ops.Stats.psiBaseRange(
        static.filter(col("lang") === "en"), "n_chars")
      val w = (mx - mn) / 10
      // ONE binning recipe for both sides (Stats.psiBinnedCounts — r17
      // second review): batch and stream cannot silently diverge
      val baseCounts = graft.ops.Stats.psiBinnedCounts(
        static.filter(col("lang") === "en"), "n_chars", mn, w, 10)
      val raw = graft.streaming.Streams.readStream(s, dir,
        static.schema, glob = Some("documents.parquet"))
      val curBinned = graft.ops.Stats.psiBinnedCounts(
        raw.filter(col("lang") === "zh"), "n_chars", mn, w, 10)
      freshMemorySink(s, "graft_q175_sink")
      val sq = curBinned.writeStream.format("memory").queryName("graft_q175_sink")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      sq.awaitTermination()
      graft.ops.Stats.psiReport(s, baseCounts,
          s.table("graft_q175_sink").select(col("bin"), col("n")), mn, w, 10)
        .orderBy(col("bin"))
    }),

    // STREAMING moments maintenance (round 17): p170's mergeable moment
    // algebra run BY THE ENGINE'S STATE STORE — per-event-type
    // n/min/max/Σx/Σx² as a streaming complete-mode aggregate (decimal
    // state: map-side partials and micro-batch merges are exact in any
    // order), report derived batch-side by the same q09 recipe. The
    // monitoring feed a 100 TB ingest keeps current without rescans;
    // state is O(event types)
    "q172_stream_moments" -> ((s0, dir) => {
      val s = streamSession(s0)
      val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
      val raw = graft.streaming.Streams.readStream(s, dir, rawSchema,
        glob = Some("events.parquet"))
      val ev = Tables.normalizeEventTs(raw)
      val sk = graft.ops.Stats.momentsSketchBy(ev, Seq("event_type"), "value")
      freshMemorySink(s, "graft_q172_sink")
      val sq = sk.writeStream.format("memory").queryName("graft_q172_sink")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      sq.awaitTermination()
      graft.ops.Stats.momentsReport(s.table("graft_q172_sink"),
          keys = Seq("event_type"))
        .orderBy(col("event_type"))
    }),

    // TRIANGLE / clustering-coefficient diagnostic (round 17) over the
    // near-dup pair graph (the d73/d95 pair graph): coefficient → 1
    // marks a doc whose near-dups are all near-dups of EACH OTHER (a true
    // template/duplicate clique — safe to collapse), → 0 marks transitive
    // chains where CC merged docs that never matched directly (the
    // classic over-merge smell worth auditing before a dedup drop).
    // The graph is NOT df-capped: the wedge join is bounded only by
    // Σ deg², i.e. by how many near-duplicates each doc has
    "d173_triangle_stats" -> ((s, dir) => {
      graft.ops.Graph.triangleStats(jaccardPairGraph(s, dir), "id_a", "id_b")
        .orderBy(col("id"))
    }),

    // PSI DISTRIBUTION-DRIFT report (round 17): how far one slice's value
    // distribution sits from the calibration slice's — the standard
    // monitoring metric for threshold decay (< 0.1 stable, > 0.25
    // shifted). Here: zh document lengths vs the en calibration window —
    // a real cross-slice shape difference. Bins from the BASE range,
    // add-0.5 smoothing, every term decimal-rounded pre-sum (the t110
    // contract), so the PSI replays exactly in SQL
    "p174_psi_drift" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.Stats.psiDrift(d.filter(col("lang") === "en"),
          d.filter(col("lang") === "zh"), "n_chars", bins = 10)
        .orderBy(col("bin"))
    }),

    // SOFT DEDUP (round 17): inverse-cluster-size training weights over
    // d73's near-dup components — keep every duplicate, downweight it so
    // a doc duplicated k times carries ~one doc of gradient mass
    // (duplication often correlates with quality; dropping loses signal a
    // weight keeps). Reads the same component map d95 does
    "d172_dup_weights" -> ((s, dir) => {
      graft.ops.Sampling.clusterWeights(t(s, dir, "documents"),
          jaccardCcGraph(s, dir), "doc_id", "node", "component")
        .orderBy(col("doc_id"))
    }),

    // Naive-Bayes LABEL-NOISE AUDIT (round 17): add-0.5 token models
    // trained per language tag on the corpus's OWN labels, every doc
    // re-classified, disagreements flagged — the standard mislabel sweep
    // before per-language sampling/mixing trusts the tags. Model is
    // vocab×labels-bounded; every ln decimal-rounded pre-sum (the t110
    // contract), so scores and the argmax replay exactly in any engine
    "t170_nb_label_audit" -> ((s, dir) => {
      graft.ops.TextIndex.naiveBayesLabelAudit(t(s, dir, "documents"),
          "doc_id", "text", "lang")
        .orderBy(col("doc_id"))
    })
  )

  /** The STREAMING family — queries that run a real structured-streaming
    * query (AvailableNow trigger) inside their body. Declared here, next to
    * the queries themselves, so [[Bench]] can guarantee each a WARM second
    * rep (r17 verdict #2: q96 published a cold single-rep min with 2.7 s of
    * JIT inside it when the deadline fell mid-rep-set — a streaming rep
    * re-pays per-run serde codegen that batch queries don't, so a 1-rep
    * streaming min is a JIT measurement, not a query time). Membership is
    * "body starts a streaming query", nothing else. */
  val streamingQueries: Set[String] = Set(
    "q58_stream_window", "q68_stream_dedup", "q94_stream_neardup",
    "q96_stream_join", "q124_stream_scd2", "q140_stream_quota",
    "q172_stream_moments", "q175_stream_psi", "p72_stream_pipeline")

  // ---- oracle SQL (DuckDB dialect, same parquet tables) --------------------

  /** s143's trained-codebook stash: set each time the query fn runs (the
    * fit is deterministic for a given corpus — capped md5-ordered sample,
    * Lloyd with first-k-distinct seeding), read by [[oracleSql]] so the
    * pqt tier's replay inlines the constants of the SAME run Verify just
    * dumped. Verify's flow guarantees the ordering (all queries run, THEN
    * oracle SQL is dumped); if the query has not run in this JVM the
    * oracle emits a loud error() instead of silently-wrong SQL.
    *
    * DIR-KEYED since round 16 (r15 advice): the previous single-slot
    * globals were order-dependent — a spec run at another dir, or any
    * second same-JVM consumer, could clobber the slot between a Verify
    * run and its oracle dump. Each stash is now a concurrent map
    * dir → derived constant; [[oracleScope]] (set by Verify to its
    * sfDir before dumping) selects the entry, so runs at different
    * scales coexist instead of racing. With NO scope set (spec
    * callers), a stash resolves only when exactly ONE dir holds an
    * entry — an ambiguous multi-dir state yields the loud error() form
    * rather than an arbitrary winner. */
  private[graft] val trainedPqCodebook =
    new scala.collection.concurrent.TrieMap[String, Array[Array[Array[Double]]]]

  /** d74/p92's auto-sized planes stash, same dir-keyed lifecycle as
    * [[trainedPqCodebook]]: the query fns record the count-derived knob
    * the run ACTUALLY used, and the oracle replays that value — so the
    * auto contract is verified hash-exact at every scale instead of
    * pinning the gate-scale constant (the r9-r14 "permanent" d74/p92
    * cross-scale divergence dissolves into the stash). */
  private[graft] val autoPlanesUsed = new scala.collection.concurrent.TrieMap[String, Int]

  /** s151's serving twin of [[autoPlanesUsed]]: the autoServingPlanes
    * knob the run derived, scoped the same way. */
  private[graft] val autoServingPlanesUsed = new scala.collection.concurrent.TrieMap[String, Int]

  /** s162's fitted whitening model (mu, W) — deterministic driver artifact
    * (decimal-quantized moments + StrictMath cyclic Jacobi), stashed so
    * the oracle replays the projection from the run's own constants; same
    * dir-keyed lifecycle as [[trainedPqCodebook]]. */
  private[graft] val whitenModelStash =
    new scala.collection.concurrent.TrieMap[String, (Array[Double], Array[Array[Double]])]

  /** The dir oracle SQL is being generated FOR (Verify sets it to its
    * sfDir); stashes resolve against it, and a missing entry for the
    * scoped dir fails loudly. */
  @volatile private[graft] var oracleScope: Option[String] = None

  private def scoped[T](stash: scala.collection.concurrent.TrieMap[String, T]): Option[T] =
    oracleScope match {
      case Some(dir) => stash.get(dir)
      // unscoped (spec) callers: unambiguous single-dir stashes resolve;
      // two dirs in flight means nobody can say which run is being
      // replayed — fail closed to the error() form
      case None => if (stash.size == 1) stash.headOption.map(_._2) else None
    }

  /** The en-vs-zh document-length PSI replay, shared by p174 (batch)
    * and q175 (streaming current side) — stream ≡ batch is exactly what
    * the same-oracle equality witnesses. */
  private val psiEnZhOracle: String =
    """WITH b AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents WHERE lang = 'en' AND n_chars IS NOT NULL),
        |c AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents WHERE lang = 'zh' AND n_chars IS NOT NULL),
        |rng AS (SELECT min(v) AS mn, max(v) AS mx, (max(v) - min(v)) / 10 AS w FROM b),
        |bb AS (SELECT least(greatest(CAST(floor((v - mn) / w) AS BIGINT), 0), 9) AS bin, count(*) AS n FROM b, rng GROUP BY 1),
        |cb AS (SELECT least(greatest(CAST(floor((v - mn) / w) AS BIGINT), 0), 9) AS bin, count(*) AS n FROM c, rng GROUP BY 1),
        |spine AS (SELECT range AS bin FROM range(10)),
        |j AS (SELECT spine.bin, coalesce(bb.n, 0) AS base_n, coalesce(cb.n, 0) AS cur_n
        |      FROM spine LEFT JOIN bb USING (bin) LEFT JOIN cb USING (bin)),
        |tot AS (SELECT CAST(sum(base_n) AS BIGINT) AS nb, CAST(sum(cur_n) AS BIGINT) AS nc FROM j),
        |t2 AS (SELECT bin, base_n, cur_n,
        |  (base_n + 0.5) / (nb + 0.5 * 10) AS p, (cur_n + 0.5) / (nc + 0.5 * 10) AS q,
        |  CAST((((base_n + 0.5) / (nb + 0.5 * 10)) - ((cur_n + 0.5) / (nc + 0.5 * 10)))
        |    * ln(((base_n + 0.5) / (nb + 0.5 * 10)) / ((cur_n + 0.5) / (nc + 0.5 * 10))) AS DECIMAL(27,7)) AS term
        |  FROM j, tot),
        |ps AS (SELECT sum(term) AS psi FROM t2)
        |SELECT bin, round(mn + bin * w, 6) AS bin_lo, base_n, cur_n,
        |  floor(p * 1e6 + 0.5) / 1e6 AS p, floor(q * 1e6 + 0.5) / 1e6 AS q,
        |  CAST(term AS DOUBLE) AS term,
        |  floor(CAST(psi AS DOUBLE) * 1e6 + 0.5) / 1e6 AS psi
        |FROM t2, ps, rng ORDER BY bin""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS sum_disc_price,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_quantity >= 45 AND l_discount >= 0.05 AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q03_join_agg_revenue" ->
      """SELECT n_name,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q04_theta_join" ->
      """SELECT s_nationkey, count(*) AS n_pairs,
        |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)) - CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_gap
        |FROM customer JOIN supplier ON c_nationkey = s_nationkey AND s_acctbal < c_acctbal
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    "q05_sort_limit" ->
      "SELECT c_custkey, c_acctbal FROM customer ORDER BY c_acctbal ASC NULLS FIRST, c_custkey LIMIT 100",

    "q06_unique" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY l_returnflag, l_linestatus",

    "q07_melt" ->
      """SELECT l_orderkey, l_linenumber, metric, value FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,

    "q08_bind_columns" ->
      "SELECT doc_id, lang, n_chars, source FROM documents ORDER BY doc_id",

    "q09_stats" ->
      """WITH s AS (
        |  SELECT 'l_quantity' AS field, count(l_quantity) AS n, round(min(l_quantity),4) AS min, round(max(l_quantity),4) AS max,
        |    round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE),2) AS sum,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sumsq FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', count(l_extendedprice), round(min(l_extendedprice),4), round(max(l_extendedprice),4),
        |    round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE),2),
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) FROM lineitem
        |  UNION ALL SELECT 'l_discount', count(l_discount), round(min(l_discount),4), round(max(l_discount),4),
        |    round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE),2),
        |    CAST(sum(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) FROM lineitem
        |  UNION ALL SELECT 'l_tax', count(l_tax), round(min(l_tax),4), round(max(l_tax),4),
        |    round(CAST(sum(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE),2),
        |    CAST(sum(CAST(l_tax AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) FROM lineitem)
        |SELECT field, n, min, max, sum, round(sum/n, 6) AS mean,
        |  round(sqrt((sumsq - sum*sum/n) / (n-1)), 6) AS stdev
        |FROM s ORDER BY field""".stripMargin,

    "q10_custom_fold" ->
      """SELECT l_returnflag,
        |  round(CAST(sum(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)) AS DOUBLE), 2) AS sumsq_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q11_union_append" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM (SELECT * FROM orders WHERE o_orderstatus = 'O'
        |      UNION ALL SELECT * FROM orders WHERE o_orderstatus = 'F')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q12_window_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q13_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q14_anti_join" ->
      """SELECT c_nationkey, count(*) AS n FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q15_outer_join" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  round(coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0), 2) AS total
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "q16_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q33_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q17_asof_join" ->
      """SELECT e.event_id,
        |  (SELECT epoch_us(max(b.ts)) FROM events b
        |   WHERE b.user_id = e.user_id AND b.event_type = 'signup' AND b.ts <= e.ts) AS last_signup_us
        |FROM events e WHERE e.event_type = 'purchase' ORDER BY e.event_id""".stripMargin,

    "q18_window_hourly" ->
      """SELECT event_type, CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
        |  count(*) AS n, round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM events GROUP BY event_type, hour_start ORDER BY event_type, hour_start""".stripMargin,

    "q19_count_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q20_csv_roundtrip" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
        |FROM lineitem WHERE l_orderkey % 100 = 0 ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "d21_dedup_exact" ->
      "SELECT min(doc_id) AS doc_id, count(*) AS n_dups FROM documents GROUP BY text ORDER BY doc_id",

    // maxShingleDf = 500 mirrored: shc drops shingles in > 500 docs from
    // the numerator join; sz (denominators) stays computed over ALL shingles
    "d22_jaccard_pairs" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)])) AS s FROM toks),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |shc AS (SELECT doc_id, s FROM (SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM sh) WHERE df <= 500),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
        |          FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b, round(n * 1.0 / (sa.sz + sb.sz - n), 4) AS jaccard
        |FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |WHERE n * 1.0 / (sa.sz + sb.sz - n) >= 0.8 ORDER BY id_a, id_b""".stripMargin,

    // LSH with 16 bands of 4 catches J>=0.8 pairs w.p. ~0.9998 each; verified
    // empirically: identical to the exact pair set on the gate dataset.
    "d23_minhash_lsh" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)])) AS s FROM toks),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b, round(n * 1.0 / (sa.sz + sb.sz - n), 4) AS jaccard
        |FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |WHERE n * 1.0 / (sa.sz + sb.sz - n) >= 0.8 ORDER BY id_a, id_b""".stripMargin,

    "d93_incremental_lsh" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)])) AS s FROM toks),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b, round(n * 1.0 / (sa.sz + sb.sz - n), 4) AS jaccard
        |FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |WHERE n * 1.0 / (sa.sz + sb.sz - n) >= 0.8
        |  AND (id_a % 4 = 0 OR id_b % 4 = 0) ORDER BY id_a, id_b""".stripMargin,

    "q94_stream_neardup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)])) AS s FROM toks),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |dropped AS (SELECT DISTINCT id_b
        |  FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |  WHERE n * 1.0 / (sa.sz + sb.sz - n) >= 0.8)
        |SELECT d.doc_id, d.lang FROM documents d
        |WHERE d.doc_id NOT IN (SELECT id_b FROM dropped) ORDER BY d.doc_id""".stripMargin,

    "t25_text_quality" ->
      """WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)
        |SELECT doc_id, len(t) AS n_tokens,
        |  round(CAST(list_sum([len(x) for x in t]) AS DOUBLE) / len(t), 4) AS avg_token_len,
        |  round(CAST(len([x for x in t if x = 'the' OR x = 'a']) AS DOUBLE) / len(t), 4) AS stopword_ratio,
        |  round(CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / length(text), 4) AS alpha_ratio
        |FROM toks ORDER BY doc_id""".stripMargin,

    "t26_token_regex" ->
      """SELECT doc_id, CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_regex_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t27_fingerprint" ->
      """SELECT doc_id, md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t28_langid" ->
      """WITH s AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sc AS (SELECT doc_id,
        |  len([x for x in t if x IN ('der','die','das','und','ist')]) AS sde,
        |  len([x for x in t if x IN ('the','a','of','and','is')]) AS sen,
        |  len([x for x in t if x IN ('el','la','de','y','es')]) AS ses,
        |  len([x for x in t if x IN ('le','la','de','et','est')]) AS sfr,
        |  len([x for x in t if x IN ('de','le','shi','he','zai')]) AS szh
        |  FROM s)
        |SELECT doc_id, CASE
        |  WHEN sde = 0 AND sen = 0 AND ses = 0 AND sfr = 0 AND szh = 0 THEN 'und'
        |  WHEN sde >= sen AND sde >= ses AND sde >= sfr AND sde >= szh THEN 'de'
        |  WHEN sen >= ses AND sen >= sfr AND sen >= szh THEN 'en'
        |  WHEN ses >= sfr AND ses >= szh THEN 'es'
        |  WHEN sfr >= szh THEN 'fr' ELSE 'zh' END AS lang_pred
        |FROM sc ORDER BY doc_id""".stripMargin,

    "q40_corr" ->
      """WITH a AS (SELECT l_returnflag,
        |  CAST(count(*) AS DOUBLE) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  round((sxy - sx*sy/n) / (n-1), 4) AS covar,
        |  round((n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)), 6) AS corr
        |FROM a ORDER BY l_returnflag""".stripMargin,

    "q39_quantiles" ->
      """SELECT l_returnflag, round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
        |  round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "d37_stratified_sample" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 20 ORDER BY lang, doc_id""".stripMargin,

    "t38_top_terms" ->
      """WITH tf AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
        |cnt AS (SELECT lang, token, count(*) AS tf FROM tf GROUP BY lang, token),
        |ranked AS (SELECT lang, token, tf,
        |  row_number() OVER (PARTITION BY lang ORDER BY tf DESC, token) AS rank FROM cnt)
        |SELECT lang, token, tf, rank FROM ranked WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,

    "q34_pivot" ->
      """SELECT l_orderkey, l_linenumber,
        |  min(CASE WHEN metric = 'l_quantity' THEN value END) AS l_quantity,
        |  min(CASE WHEN metric = 'l_tax' THEN value END) AS l_tax
        |FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem)
        |GROUP BY l_orderkey, l_linenumber ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q35_json" ->
      """SELECT event_type, count(k) AS n, CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k
        |FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // sessionization oracle: gaps-and-islands in SQL (2h gap, ms epochs)
    // the t89 model chain + a per-doc scoring join; ln() of identical
    // doubles in both engines, each term decimal-rounded pre-sum
    "t110_doc_logprob" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t FROM documents),
        |tk2 AS (SELECT doc_id, t FROM tk WHERE len(t) >= 2),
        |bg AS (SELECT doc_id, unnest([{'w1': t[i], 'w2': t[i+1]} for i in range(1, len(t))]) AS s FROM tk2),
        |p AS (SELECT doc_id, s.w1 AS w1, s.w2 AS w2 FROM bg),
        |c AS (SELECT w1, w2, count(*) AS c12 FROM p GROUP BY 1, 2),
        |f AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c GROUP BY 1),
        |v AS (SELECT count(DISTINCT w2) AS nv FROM c),
        |lp AS (SELECT doc_id,
        |  CAST(ln((CAST(coalesce(c.c12, 0) AS DOUBLE) + 0.5) / (CAST(coalesce(f.c1, 0) AS DOUBLE) + 0.5 * CAST(nv AS DOUBLE))) AS DECIMAL(27,7)) AS l
        |  FROM p LEFT JOIN c USING (w1, w2) LEFT JOIN f USING (w1), v),
        |g AS (SELECT doc_id, count(*) AS n_bigrams, sum(l) AS s FROM lp GROUP BY doc_id)
        |SELECT doc_id, n_bigrams,
        |  floor(CAST(s AS DOUBLE) / n_bigrams * 1e6 + 0.5) / 1e6 AS avg_logprob
        |FROM g ORDER BY doc_id""".stripMargin,

    // the t110 LM chain twice — once with the model estimated on the 'en'
    // target slice, once on the whole corpus — importance = the difference
    // of the two 6-dp floor-rounded means (identical doubles in both
    // engines), keep = top floor(scored·0.25) by (importance desc, doc_id)
    "t144_dsir_resample" ->
      """WITH tk AS (SELECT doc_id, lang, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t FROM documents),
        |tk2 AS (SELECT doc_id, lang, t FROM tk WHERE len(t) >= 2),
        |bg AS (SELECT doc_id, lang, unnest([{'w1': t[i], 'w2': t[i+1]} for i in range(1, len(t))]) AS s FROM tk2),
        |p AS (SELECT doc_id, lang, s.w1 AS w1, s.w2 AS w2 FROM bg),
        |ct AS (SELECT w1, w2, count(*) AS c12 FROM p WHERE lang = 'en' GROUP BY 1, 2),
        |ft AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM ct GROUP BY 1),
        |vt AS (SELECT count(DISTINCT w2) AS nv FROM ct),
        |lpt AS (SELECT doc_id,
        |  CAST(ln((CAST(coalesce(ct.c12, 0) AS DOUBLE) + 0.5) / (CAST(coalesce(ft.c1, 0) AS DOUBLE) + 0.5 * CAST(vt.nv AS DOUBLE))) AS DECIMAL(27,7)) AS l
        |  FROM p LEFT JOIN ct USING (w1, w2) LEFT JOIN ft USING (w1), vt),
        |gt AS (SELECT doc_id, floor(CAST(sum(l) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS lp_target FROM lpt GROUP BY doc_id),
        |cc AS (SELECT w1, w2, count(*) AS c12 FROM p GROUP BY 1, 2),
        |fc AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM cc GROUP BY 1),
        |vc AS (SELECT count(DISTINCT w2) AS nv FROM cc),
        |lpc AS (SELECT doc_id,
        |  CAST(ln((CAST(coalesce(cc.c12, 0) AS DOUBLE) + 0.5) / (CAST(coalesce(fc.c1, 0) AS DOUBLE) + 0.5 * CAST(vc.nv AS DOUBLE))) AS DECIMAL(27,7)) AS l
        |  FROM p LEFT JOIN cc USING (w1, w2) LEFT JOIN fc USING (w1), vc),
        |gc AS (SELECT doc_id, floor(CAST(sum(l) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS lp_corpus FROM lpc GROUP BY doc_id),
        |sc AS (SELECT gt.doc_id AS doc_id, lp_target, lp_corpus,
        |  floor((lp_target - lp_corpus) * 1e6 + 0.5) / 1e6 AS importance
        |  FROM gt JOIN gc ON gc.doc_id = gt.doc_id),
        |n AS (SELECT CAST(floor(count(*) * 0.25) AS BIGINT) AS keep FROM sc),
        |r AS (SELECT sc.*, row_number() OVER (ORDER BY importance DESC, doc_id) AS rn FROM sc)
        |SELECT doc_id, lp_target, lp_corpus, importance FROM r, n WHERE rn <= n.keep
        |ORDER BY importance DESC, doc_id""".stripMargin,

    // t145: codepoint counts per doc; the Σ c·ln(c) is taken over a list
    // ordered by codepoint (binary collation = codepoint order), the same
    // order the native expression's TreeMap iterates — bit-for-bit parity
    "t145_char_entropy" ->
      """WITH cps AS (SELECT doc_id, unnest(regexp_extract_all(text, '(?s).')) AS ch FROM documents),
        |cnt AS (SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS c FROM cps GROUP BY doc_id, ch),
        |agg AS (SELECT doc_id, sum(c) AS n, list_sum(list(c * ln(c) ORDER BY ch)) AS s
        |        FROM cnt GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(length(d.text), 0) AS BIGINT) AS n_chars,
        |  floor((ln(a.n) - a.s / a.n) / ln(2) * 1e6 + 0.5) / 1e6 AS entropy
        |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // t146: same formula over whitespace token VALUES (split keeps empty
    // tokens in both engines; ORDER BY tok = UTF-8 binary order, the
    // TreeMap<UTF8String> iteration order)
    "t146_token_entropy" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |cnt AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS c FROM tk GROUP BY doc_id, tok),
        |agg AS (SELECT doc_id, sum(c) AS n, list_sum(list(c * ln(c) ORDER BY tok)) AS s
        |        FROM cnt GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(len(string_split(d.text, ' ')), 0) AS BIGINT) AS n_tokens,
        |  floor((ln(a.n) - a.s / a.n) / ln(2) * 1e6 + 0.5) / 1e6 AS entropy
        |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // d147: the theta sketches are in exact mode at gate vocab sizes, so
    // plain distinct-set algebra IS the oracle (d109's shingle form); the
    // pair frame comes from the slice cross join so zero-overlap pairs
    // survive with n_inter = 0, matching the sketch path's full pair join
    "d147_theta_overlap" ->
      """WITH toks AS (SELECT source, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT source, unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)]) AS s FROM toks),
        |n AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
        |i AS (SELECT a.source AS sa, b.source AS sb, count(*) AS n_inter
        |      FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source GROUP BY 1, 2)
        |SELECT na.source AS slice_a, nb.source AS slice_b, na.n AS n_a, nb.n AS n_b,
        |  coalesce(i.n_inter, 0) AS n_inter,
        |  na.n + nb.n - coalesce(i.n_inter, 0) AS n_union,
        |  floor(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
        |    / (na.n + nb.n - coalesce(i.n_inter, 0)) * 1e6 + 0.5) / 1e6 AS jaccard
        |FROM n na JOIN n nb ON na.source < nb.source
        |LEFT JOIN i ON i.sa = na.source AND i.sb = nb.source
        |ORDER BY slice_a, slice_b""".stripMargin,

    "t150_bm25" -> bm25Oracle(Seq("hash", "join", "filter"),
      k1 = 1.2, b = 0.75, topN = 20),

    // d149: exact-mode theta difference = plain distinct anti-join count;
    // p114's snapshot convention (A = %23≠0; B = %29≠0 with the v2 text
    // mutation on %17=0)
    "d149_theta_novelty" ->
      """WITH a0 AS (SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id % 23 <> 0),
        |ash AS (SELECT DISTINCT unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)]) AS s FROM a0),
        |b0 AS (SELECT CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END AS text
        |       FROM documents WHERE doc_id % 29 <> 0),
        |bt AS (SELECT string_split(text, ' ') AS t FROM b0),
        |bsh AS (SELECT DISTINCT unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)]) AS s FROM bt),
        |na AS (SELECT count(*) AS n FROM ash),
        |nb AS (SELECT count(*) AS n FROM bsh),
        |nov AS (SELECT count(*) AS n FROM bsh WHERE s NOT IN (SELECT s FROM ash))
        |SELECT na.n AS n_a, nb.n AS n_b, nov.n AS n_novel,
        |  floor(CAST(nov.n AS DOUBLE) / nb.n * 1e6 + 0.5) / 1e6 AS novelty
        |FROM na, nb, nov""".stripMargin,

    // t152: the unigram-LM substring seed — lateral unnest(range) replays
    // the flatten(transform(sequence…)) expansion position for position;
    // top-500 by (freq desc, piece asc) unioned with every single char,
    // deduped by max (a char inside the top keeps one row). t153 (the EM
    // stage) is rows-only by design: a per-word Viterbi DP has no SQL
    // form — UnigramSpec carries its bound (golden fixtures, exact-integer
    // determinism, coverage).
    // t165: coverage side from the corpus (same word rule as t152's words
    // CTE: whitespace split, 1..48 chars), provenance side literal 0 —
    // the Spark row must agree on both or the gate mismatches
    "t165_unigram_coverage" ->
      """WITH words AS (
        |  SELECT DISTINCT w FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents
        |  ) WHERE length(w) >= 1 AND length(w) <= 48),
        |chs AS (SELECT DISTINCT substr(w, CAST(i AS INTEGER), 1) AS ch
        |        FROM words, unnest(range(1, length(w) + 1)) AS u(i))
        |SELECT CAST(count(*) AS BIGINT) AS n_chars,
        |       CAST(0 AS BIGINT) AS n_outside_seed FROM chs""".stripMargin,

    // q163: exact distinct replayed; the sketch's error bound asserted as
    // a literal TRUE — a violating estimate mismatches the hash
    "q163_hll_error" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_distinct,
        |  TRUE AS est_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // s164: with every cell probed the report is a constant — n_approx =
    // n_exact = n_overlap = min(k, n−1) and recall exactly 1.0; any
    // vector the IVF cell pipeline loses breaks the equality
    "s164_ivf_recall" ->
      """WITH n AS (SELECT count(*) AS c FROM embeddings)
        |SELECT vec_id AS query_id,
        |  CAST(least(10, c - 1) AS BIGINT) AS n_approx,
        |  CAST(least(10, c - 1) AS BIGINT) AS n_exact,
        |  CAST(least(10, c - 1) AS BIGINT) AS n_overlap,
        |  CAST(1.0 AS DOUBLE) AS recall
        |FROM embeddings, n WHERE vec_id < 8 ORDER BY query_id""".stripMargin,

    "t152_unigram_seed" ->
      """WITH words AS (
        |  SELECT w, count(*) AS c FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents
        |  ) WHERE length(w) >= 1 AND length(w) <= 48 GROUP BY w),
        |subs AS (
        |  SELECT substr(w, CAST(i AS INTEGER), CAST(l AS INTEGER)) AS piece, c
        |  FROM words,
        |       unnest(range(1, length(w) + 1)) AS u(i),
        |       unnest(range(1, least(4, length(w) - i + 1) + 1)) AS v(l)),
        |agg AS (SELECT piece, sum(c) AS freq FROM subs GROUP BY piece),
        |top AS (SELECT * FROM agg ORDER BY freq DESC, piece ASC LIMIT 500),
        |un AS (SELECT * FROM top UNION ALL SELECT * FROM agg WHERE length(piece) = 1)
        |SELECT piece, CAST(max(freq) AS BIGINT) AS freq FROM un GROUP BY piece
        |ORDER BY freq DESC, piece ASC""".stripMargin,

    // t156: unigram/bigram counts from the same [^a-z0-9]+ token rule; the
    // PMI-monotone ratio in the SAME double operand order the operator
    // uses, floor-rounded; top-50 by (ratio desc, a, b)
    "t156_pmi_collocations" ->
      """WITH toks AS (
        |  SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
        |  FROM documents),
        |uni2 AS (SELECT w, count(*) AS n FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
        |bi0 AS (SELECT p.a AS wa, p.b AS wb, count(*) AS n_ab FROM (
        |         SELECT unnest([{'a': t[i], 'b': t[i+1]} for i in range(1, len(t))]) AS p
        |         FROM toks WHERE len(t) >= 2) GROUP BY 1, 2),
        |bi AS (SELECT * FROM bi0 WHERE n_ab >= 5),
        |tot AS (SELECT (SELECT sum(n) FROM uni2) AS tt, (SELECT sum(n_ab) FROM bi0) AS tb),
        |sc AS (SELECT wa, wb, n_ab,
        |  (CAST(n_ab AS DOUBLE) * tot.tt * tot.tt) / (CAST(tot.tb AS DOUBLE) * ua.n * ub.n) AS r
        |  FROM bi, tot
        |  JOIN uni2 ua ON ua.w = bi.wa
        |  JOIN uni2 ub ON ub.w = bi.wb),
        |top AS (SELECT * FROM sc ORDER BY r DESC, wa, wb LIMIT 50)
        |SELECT wa AS a, wb AS b, n_ab, floor(r * 1e6 + 0.5) / 1e6 AS pmi_ratio
        |FROM top ORDER BY pmi_ratio DESC, a, b""".stripMargin,

    // s157: trigram-term tf-idf cosine pairs — integer milli-unit weights
    // (floor form), exact integer dots/norms (DuckDB sums BIGINT into
    // HUGEINT; the engine carries DECIMAL(38,0)), IEEE sqrt/divide in the
    // operator's operand order, floor-rounded
    "s157_sparse_mlt" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
        |  FROM documents),
        |terms AS (SELECT doc_id, unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)]) AS w
        |          FROM toks WHERE len(t) >= 3),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM terms GROUP BY 1, 2),
        |dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        |n AS (SELECT count(*) AS n FROM documents),
        |wq AS (SELECT doc_id, tf.w, CAST(floor(tf * (n.n - df + 0.5) / (df + 0.5) * 1e3 + 0.5) AS BIGINT) AS wq, df
        |       FROM tf JOIN dfq ON dfq.w = tf.w CROSS JOIN n),
        |norms AS (SELECT doc_id, sum(CAST(wq AS HUGEINT) * wq) AS norm2 FROM wq GROUP BY doc_id),
        |posts AS (SELECT * FROM wq WHERE df <= 500),
        |dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(CAST(a.wq AS HUGEINT) * b.wq) AS dot
        |         FROM posts a JOIN posts b ON a.w = b.w AND a.doc_id < b.doc_id
        |         GROUP BY 1, 2),
        |cosv AS (SELECT id_a, id_b,
        |  CAST(dot AS DOUBLE) / (sqrt(CAST(na.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE))) AS c
        |  FROM dots JOIN norms na ON na.doc_id = id_a JOIN norms nb ON nb.doc_id = id_b)
        |SELECT id_a, id_b, floor(c * 1e6 + 0.5) / 1e6 AS cosine
        |FROM cosv WHERE c >= 0.5 ORDER BY id_a, id_b""".stripMargin,

    // d22's chain with the containment denominator (least set size)
    "d109_containment_pairs" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)])) AS s FROM toks),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |shc AS (SELECT doc_id, s FROM (SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM sh) WHERE df <= 500),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
        |          FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b, round(n * 1.0 / least(sa.sz, sb.sz), 4) AS containment
        |FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |WHERE n * 1.0 / least(sa.sz, sb.sz) >= 0.9 ORDER BY id_a, id_b""".stripMargin,

    // ASCII corpus ⇒ byte slicing == char slicing; same offset math with an
    // explicit floor (Spark's int cast truncates, trunc == floor at off ≥ 0,
    // and both engines clamp the negative edge to position 1)
    "m107_frame_sample" ->
      """WITH m AS (SELECT doc_id AS media_id, text AS media, length(text) AS total FROM documents),
        |fr AS (SELECT media_id,
        |  unnest([{'i': i, 'f': substr(media, greatest(CAST(floor(CAST(total - 16 AS DOUBLE) * i / 3) AS INTEGER) + 1, 1), 16)}
        |          for i in [0, 1, 2, 3]]) AS s
        |  FROM m)
        |SELECT media_id, CAST(s.i AS BIGINT) AS frame_idx, s.f AS frame_str
        |FROM fr ORDER BY media_id, frame_idx""".stripMargin,

    // same quality chain + the same portable floor-rounding; percentile ↔
    // quantile_cont (the q39-established interpolation parity)
    "p106_corpus_card" ->
      """WITH toks AS (SELECT lang, text, string_split(text, ' ') AS t FROM documents),
        |parts AS (SELECT lang, text, len(t) AS ntok,
        |  least(len(t) / 50.0, 1.0) AS len_score,
        |  round(CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / length(text), 4) AS alpha,
        |  round(CAST(len([x for x in t if x = 'the' OR x = 'a']) AS DOUBLE) / len(t), 4) AS stop
        |  FROM toks),
        |scored AS (SELECT lang, text, ntok, round(greatest(0.0, least(1.0,
        |  (len_score + alpha + (1.0 - abs(stop - 0.15))) / 3.0)), 4) AS q FROM parts),
        |a AS (SELECT count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens,
        |  count(DISTINCT lang) AS n_langs, count(DISTINCT text) AS n_distinct,
        |  sum(CAST(q AS DECIMAL(27,7))) AS qsum,
        |  quantile_cont(q, 0.5) AS p50, quantile_cont(q, 0.9) AS p90 FROM scored)
        |SELECT metric, value FROM (
        |  SELECT 'dup_rate' AS metric, floor((1.0 - CAST(n_distinct AS DOUBLE) / n_docs) * 1e6 + 0.5) / 1e6 AS value FROM a
        |  UNION ALL SELECT 'mean_quality', floor(CAST(qsum AS DOUBLE) / n_docs * 1e6 + 0.5) / 1e6 FROM a
        |  UNION ALL SELECT 'n_docs', CAST(n_docs AS DOUBLE) FROM a
        |  UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM a
        |  UNION ALL SELECT 'n_tokens', CAST(n_tokens AS DOUBLE) FROM a
        |  UNION ALL SELECT 'p50_quality', round(p50, 4) FROM a
        |  UNION ALL SELECT 'p90_quality', round(p90, 4) FROM a)
        |ORDER BY metric""".stripMargin,

    // the t63 quality chain as the weight; same float-op order as the
    // Spark side (w · (target/Σw) · 2^20 + 0.5, left-assoc), Σw in DECIMAL
    "d105_weighted_downsample" ->
      """WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
        |parts AS (SELECT doc_id,
        |  least(len(t) / 50.0, 1.0) AS len_score,
        |  round(CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / length(text), 4) AS alpha,
        |  round(CAST(len([x for x in t if x = 'the' OR x = 'a']) AS DOUBLE) / len(t), 4) AS stop
        |  FROM toks),
        |q AS (SELECT doc_id, round(greatest(0.0, least(1.0,
        |  (len_score + alpha + (1.0 - abs(stop - 0.15))) / 3.0)), 4) AS weight FROM parts),
        |tw AS (SELECT sum(CAST(weight AS DECIMAL(27,7))) AS tw FROM q),
        |k AS (SELECT doc_id, weight,
        |  CAST(floor(weight * (200.0 / CAST(tw AS DOUBLE)) * 1048576.0 + 0.5) AS BIGINT) AS qq
        |  FROM q, tw)
        |SELECT doc_id, weight FROM k
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 5) <
        |  CASE WHEN qq <= 0 THEN '00000' WHEN qq >= 1048576 THEN 'g'
        |       ELSE printf('%05x', qq) END
        |ORDER BY doc_id""".stripMargin,

    // per-user-distinct (u, day) relation, cohort = min day, cells by date
    // subtraction (integer days in both engines)
    "e104_retention" ->
      """WITH ev AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events),
        |c AS (SELECT u, min(d) AS cohort_day FROM ev GROUP BY u),
        |s AS (SELECT cohort_day, count(*) AS cohort_users FROM c GROUP BY 1),
        |a AS (SELECT c.cohort_day, CAST(ev.d - c.cohort_day AS BIGINT) AS day_offset, count(*) AS active_users
        |  FROM ev JOIN c USING (u) GROUP BY 1, 2)
        |SELECT a.cohort_day, day_offset, active_users, cohort_users,
        |  floor(CAST(active_users AS DOUBLE) / cohort_users * 1e6 + 0.5) / 1e6 AS retention
        |FROM a JOIN s USING (cohort_day) ORDER BY cohort_day, day_offset""".stripMargin,

    // strictly-after chain: each step joins the previous step's earliest
    // completion; epoch_ns ties out exactly with the Spark side's ts_ns.
    // floor(x*1e6+0.5)/1e6: step-count ratios are small rationals that CAN
    // land on a 6-dp boundary — round() tie behavior is not portable there
    "e103_funnel" ->
      """WITH e AS (SELECT user_id AS u, event_type AS t, epoch_ns(ts) AS ts FROM events),
        |s1 AS (SELECT u, min(ts) AS ts FROM e WHERE t = 'signup' GROUP BY u),
        |s2 AS (SELECT e.u, min(e.ts) AS ts FROM e JOIN s1 ON e.u = s1.u AND e.ts > s1.ts WHERE e.t = 'view' GROUP BY e.u),
        |s3 AS (SELECT e.u, min(e.ts) AS ts FROM e JOIN s2 ON e.u = s2.u AND e.ts > s2.ts WHERE e.t = 'click' GROUP BY e.u),
        |s4 AS (SELECT e.u, min(e.ts) AS ts FROM e JOIN s3 ON e.u = s3.u AND e.ts > s3.ts WHERE e.t = 'purchase' GROUP BY e.u),
        |c AS (SELECT 1 AS step, 'signup' AS event_type, count(*) AS users FROM s1
        |  UNION ALL SELECT 2, 'view', count(*) FROM s2
        |  UNION ALL SELECT 3, 'click', count(*) FROM s3
        |  UNION ALL SELECT 4, 'purchase', count(*) FROM s4),
        |f AS (SELECT users AS first_users FROM c WHERE step = 1)
        |SELECT CAST(step AS BIGINT) AS step, event_type, users,
        |  CASE WHEN coalesce(lag(users) OVER (ORDER BY step), users) = 0 THEN 0.0
        |       ELSE floor(CAST(users AS DOUBLE) / coalesce(lag(users) OVER (ORDER BY step), users) * 1e6 + 0.5) / 1e6 END AS conv_from_prev,
        |  CASE WHEN first_users = 0 THEN 0.0
        |       ELSE floor(CAST(users AS DOUBLE) / first_users * 1e6 + 0.5) / 1e6 END AS conv_from_first
        |FROM c, f ORDER BY step""".stripMargin,

    "e32_sessionize" ->
      """WITH e AS (SELECT user_id, ts, value, epoch_ms(ts) AS ms FROM events),
        |d AS (SELECT *, CASE WHEN ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms) > 7200000
        |                     THEN 1 ELSE 0 END AS brk FROM e),
        |g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ms ROWS UNBOUNDED PRECEDING) AS grp FROM d)
        |SELECT user_id, min(ms) AS start_ms, max(ms) AS end_ms,
        |  count(*) AS n_events, round(sum(value), 2) AS total
        |FROM g GROUP BY user_id, grp ORDER BY user_id, start_ms""".stripMargin,

    "s29_ann_brute" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS nid, embedding AS cv FROM embeddings),
        |scored AS (
        |  SELECT qid, nid,
        |    list_sum([CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) for i in range(1, len(qv)+1)]) /
        |    (sqrt(list_sum([CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE) for i in range(1, len(qv)+1)])) *
        |     sqrt(list_sum([CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) for i in range(1, len(cv)+1)]))) AS cosine
        |  FROM q, c WHERE qid <> nid),
        |ranked AS (SELECT qid, nid, cosine,
        |  row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rn FROM scored)
        |SELECT qid AS query_id, nid AS neighbor_id, round(cosine, 4) AS cosine
        |FROM ranked WHERE rn <= 10 ORDER BY query_id, neighbor_id""".stripMargin,

    "q41_intersect_except" ->
      """WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'),
        |b AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
        |i AS (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b),
        |x AS (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
        |SELECT 'both' AS tag, count(*) AS n, min(o_custkey) AS min_ck, max(o_custkey) AS max_ck FROM i
        |UNION ALL
        |SELECT 'only_o', count(*), min(o_custkey), max(o_custkey) FROM x
        |ORDER BY tag""".stripMargin,

    "q42_cross_join" ->
      "SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY r_name, n_name",

    "q43_range_join" ->
      """SELECT p.event_id, count(c.ts) AS n_clicks FROM events p
        |LEFT JOIN events c ON c.user_id = p.user_id AND c.event_type = 'click'
        |  AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000 AND epoch_us(c.ts) < epoch_us(p.ts)
        |WHERE p.event_type = 'purchase' GROUP BY p.event_id ORDER BY p.event_id""".stripMargin,

    "q44_window_lag" ->
      """SELECT o_orderkey,
        |  lag(o_totalprice) OVER w AS prev_total,
        |  lead(o_totalprice) OVER w AS next_total,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE), 2) AS run_total
        |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q45_string_funcs" ->
      """SELECT p_partkey, upper(p_name) AS uname, substring(p_name, 1, 5) AS pre5,
        |  concat_ws('-', p_brand, p_type) AS bt, lpad(CAST(p_size AS VARCHAR), 3, '0') AS size3,
        |  regexp_extract(p_brand, '#(\d+)', 1) AS brand_num,
        |  replace(p_type, 'ECONOMY', 'ECO') AS ptype2, CAST(length(p_name) AS BIGINT) AS nlen,
        |  string_split(p_name, ' ')[1] AS first_word, reverse(p_brand) AS rbrand
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q46_date_funcs" ->
      """SELECT o_orderkey, year(o_orderdate) AS y, quarter(o_orderdate) AS q,
        |  month(o_orderdate) AS m, day(o_orderdate) AS dom, isodow(o_orderdate) AS iso_dw,
        |  CAST(last_day(o_orderdate) AS DATE) AS ld,
        |  datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS dd,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS mstart,
        |  CAST(o_orderdate AS DATE) + 30 AS d30
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q47_skew_kurt" ->
      """WITH s AS (SELECT l_returnflag, CAST(count(*) AS DOUBLE) AS n,
        |  CAST(sum(q) AS DOUBLE) AS s1, CAST(sum(q*q) AS DOUBLE) AS s2,
        |  CAST(sum(q*q*q) AS DOUBLE) AS s3, CAST(sum((q*q)*(q*q)) AS DOUBLE) AS s4
        |  FROM (SELECT l_returnflag, CAST(l_quantity AS DECIMAL(6,2)) AS q FROM lineitem)
        |  GROUP BY l_returnflag),
        |m AS (SELECT l_returnflag, s1/n AS mean, s2/n AS q2, s3/n AS q3, s4/n AS q4 FROM s),
        |mm AS (SELECT l_returnflag, mean, q2 - mean*mean AS m2,
        |  q3 - 3.0*mean*q2 + 2.0*mean*mean*mean AS m3,
        |  q4 - 4.0*mean*q3 + 6.0*mean*mean*q2 - 3.0*mean*mean*mean*mean AS m4 FROM m)
        |SELECT l_returnflag, round(m3 / (m2 * sqrt(m2)), 6) AS skew,
        |  round(m4 / (m2 * m2) - 3.0, 6) AS kurt FROM mm ORDER BY l_returnflag""".stripMargin,

    "q48_histogram" ->
      """SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bucket, count(*) AS n,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM lineitem GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q49_salted_join" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q50_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q51_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid, count(*) AS n,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q52_conditional_agg" ->
      """SELECT o_orderstatus, count(*) FILTER (WHERE o_totalprice > 100000) AS n_big,
        |  bool_and(o_totalprice > 0) AS all_pos, bool_or(o_totalprice > 400000) AS any_huge,
        |  arg_max(o_orderkey, CAST(round(o_totalprice*100) AS BIGINT)*10000000 + o_orderkey) AS top_order
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q53_array_agg" ->
      """SELECT l_returnflag,
        |  array_to_string(list_sort(list_distinct(list(l_linestatus))), ',') AS statuses,
        |  CAST(len(list_distinct(list(l_linestatus))) AS BIGINT) AS n_statuses,
        |  list_contains(list_distinct(list(l_linestatus)), 'F') AS has_f
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q54_posexplode" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < 50),
        |u AS (SELECT doc_id, unnest([{'pos': i, 'tok': t[i]} for i in range(1, len(t)+1)]) AS u FROM toks)
        |SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.tok AS tok FROM u ORDER BY doc_id, pos""".stripMargin,

    "q55_ntile" ->
      """SELECT tile, count(*) AS n, min(c_acctbal) AS lo, max(c_acctbal) AS hi FROM (
        |  SELECT c_acctbal, ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS tile FROM customer)
        |GROUP BY tile ORDER BY tile""".stripMargin,

    "q56_first_last" ->
      """SELECT o_orderkey, first_value(o_orderkey) OVER w AS first_ok,
        |  last_value(o_orderkey) OVER w AS last_ok, nth_value(o_orderkey, 2) OVER w AS second_ok
        |FROM orders WHERE o_custkey < 200
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderkey""".stripMargin,

    "q59_range_band" ->
      """SELECT band, count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM orders JOIN (VALUES ('low', 0.0, 50000.0), ('mid', 50000.0, 150000.0),
        |  ('high', 150000.0, 300000.0), ('top', 300000.0, 1000000.0)) AS b(band, lo, hi)
        |  ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band ORDER BY band""".stripMargin,

    "d40_embed_neardup" ->
      """WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_sum([a.e[i]*b.e[i] for i in range(1, len(a.e)+1)]) /
        |  (sqrt(list_sum([a.e[i]*a.e[i] for i in range(1, len(a.e)+1)])) *
        |   sqrt(list_sum([b.e[i]*b.e[i] for i in range(1, len(b.e)+1)]))) AS cosine
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(cosine, 4) AS cosine FROM p WHERE cosine >= 0.35
        |ORDER BY id_a, id_b""".stripMargin,

    "q58_stream_window" ->
      """SELECT event_type, CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start_s,
        |  count(*) AS n, round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM events GROUP BY event_type, window_start_s
        |ORDER BY event_type, window_start_s""".stripMargin,

    "q96_stream_join" ->
      """SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id
        |FROM events c JOIN events v
        |  ON c.user_id = v.user_id
        | AND c.event_type = 'click' AND v.event_type = 'view'
        | AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 6 HOUR
        |ORDER BY click_id, view_id""".stripMargin,

    "q60_json_roundtrip" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        |FROM orders WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey""".stripMargin,

    // the XML/JDBC roundtrips write and re-read the slice byte-faithfully;
    // the oracle is the parquet-born slice itself
    "q154_xml_roundtrip" ->
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        |FROM customer WHERE c_custkey % 50 = 0 ORDER BY c_custkey""".stripMargin,

    "q155_jdbc_roundtrip" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier ORDER BY s_suppkey""".stripMargin,

    "q161_proto_roundtrip" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        |FROM orders WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey""".stripMargin,

    // The simhash fingerprint is md5-derived (Dedup.SimHashBits = 60), so the
    // oracle recomputes the IDENTICAL fingerprint and takes naive O(n²)
    // Hamming pairs — verifying both the hash and the banded pair search.
    "d24_simhash_pairs" -> simHashOracle,

    // LSH hyperplanes are md5-derived literals (Similarity.planeMatrix), so
    // the oracle recomputes the same buckets and the same rerank.
    "s30_ann_lsh" -> lshOracle(planes = 6, tables = 2, dim = 64, k = 10),

    // same plane derivation, OR-amplified across 2 tables: candidates from
    // either table's bucket join, UNION-deduped, exact cosine >= threshold.
    // planes comes from the stash the query run wrote (the s143 pqt
    // technique), so the oracle replays the auto contract at the RUN's own
    // scale — exact at every SF, not just the gate where autoPlanes(500)=4
    "d74_embed_neardup_lsh" -> scoped(autoPlanesUsed)
      .map(p => nearDupLshOracle(planes = p, tables = 2, dim = 64, threshold = 0.35))
      .getOrElse(autoPlanesOracleError),

    // d74's bucket/verify CTE chained into d73's recursive-CTE components:
    // one oracle for the full semantic-dedup pass, planes from the stash
    "p92_semantic_dedup" -> scoped(autoPlanesUsed)
      .map(p => semanticDedupOracle(planes = p, tables = 2, dim = 64, threshold = 0.35))
      .getOrElse(autoPlanesOracleError),

    // schema-merge oracle from the ORIGINAL table: gen-1 rows never carried
    // o_orderpriority, so it is NULL for them after the merged read
    "q77_schema_merge" ->
      """SELECT o_orderkey, o_totalprice,
        |  CASE WHEN o_orderkey % 100 = 50 THEN o_orderpriority END AS o_orderpriority
        |FROM orders WHERE o_orderkey % 100 = 0 OR o_orderkey % 100 = 50
        |ORDER BY o_orderkey""".stripMargin,

    // absmax int8 codes: round() is half-up (away from zero) in both
    // engines; cast of an integral double is exact; the error fold is the
    // same sequential left fold cosine parity already relies on
    "s76_quantize_int8" ->
      """WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
        |s AS (SELECT vec_id, e, list_max([abs(x) for x in e]) / 127.0 AS scale FROM v),
        |q AS (SELECT vec_id, e, scale,
        |  [CAST(coalesce(round(x / nullif(scale, 0)), 0) AS INTEGER) for x in e] AS qvec FROM s)
        |SELECT vec_id, round(scale, 6) AS scale,
        |  array_to_string(qvec, ',') AS qvec_csv,
        |  round(list_sum([abs(e[i] - qvec[i] * scale) for i in range(1, len(e)+1)]) / len(e), 6) AS mae
        |FROM q ORDER BY vec_id""".stripMargin,

    // log-free rational idf: integer-derived doubles + one IEEE division —
    // bit-identical across engines (ln's last ulp is not)
    "t75_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfq AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT doc_id, token,
        |  round(tf * (n.n - dfq.df + 0.5) / (dfq.df + 0.5), 4) AS tfidf
        |  FROM tf JOIN dfq USING (token) CROSS JOIN n),
        |r AS (SELECT doc_id, token, tfidf,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rnk FROM s)
        |SELECT doc_id, token, tfidf, CAST(rnk AS BIGINT) AS rnk FROM r
        |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,

    // The decode stub is md5-derived (Multimodal.decodeStub): the payload
    // hashes once to a 32-hex md5 seed, and component d is (first 60 bits of
    // md5(seed || '|' || d) mod 1024)/1024 — exactly representable in float
    // AND double, so the sum of squares is exact (order-independent) and
    // DuckDB reproduces it bit-for-bit.
    "m31_multimodal" ->
      """WITH f AS (SELECT doc_id,
        |  [(CAST(('0x' || substr(md5(md5(text) || '|' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT) % 1024) / 1024.0
        |   for d in [0, 1, 2, 3, 4, 5, 6, 7]] AS feats
        |  FROM documents)
        |SELECT doc_id AS media_id, round(list_sum([x * x for x in feats]), 4) AS feat_sumsq
        |FROM f ORDER BY media_id""".stripMargin,

    "d61_contamination" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |ev AS (SELECT DISTINCT unnest(list_distinct([array_to_string(t[i:i+4], ' ') for i in range(1, len(t)-3)])) AS s
        |       FROM toks WHERE doc_id % 25 = 0),
        |cs AS (SELECT doc_id, unnest(list_distinct([array_to_string(t[i:i+4], ' ') for i in range(1, len(t)-3)])) AS s
        |       FROM toks WHERE doc_id % 25 <> 0)
        |SELECT cs.doc_id, count(*) AS n_shared FROM cs JOIN ev USING (s)
        |GROUP BY cs.doc_id ORDER BY cs.doc_id""".stripMargin,

    "t62_pii_scrub" ->
      """SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
        |  text || ' contact bob@example.com or https://x.io/a?b=1 id 12345678901',
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |  'https?://[^\s]+', '<URL>', 'g'),
        |  '[0-9]{7,}', '<NUM>', 'g') AS scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t63_quality_score" ->
      """WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
        |parts AS (SELECT doc_id,
        |  least(len(t) / 50.0, 1.0) AS len_score,
        |  round(CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / length(text), 4) AS alpha,
        |  round(CAST(len([x for x in t if x = 'the' OR x = 'a']) AS DOUBLE) / len(t), 4) AS stop
        |  FROM toks)
        |SELECT doc_id, round(greatest(0.0, least(1.0,
        |  (len_score + alpha + (1.0 - abs(stop - 0.15))) / 3.0)), 4) AS quality
        |FROM parts ORDER BY doc_id""".stripMargin,

    "q64_orc_roundtrip" ->
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        |FROM customer WHERE c_custkey % 50 = 0 ORDER BY c_custkey""".stripMargin,

    // t167: t63's score, thresholds re-derived INDEPENDENTLY by the same
    // integer-rank rule (row_number is fine oracle-side — DuckDB is
    // single-node; the Spark side uses the distributed row-index
    // machinery), clamp = least/greatest of identical doubles
    "t167_winsorized_quality" ->
      """WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
        |parts AS (SELECT doc_id,
        |  least(len(t) / 50.0, 1.0) AS len_score,
        |  round(CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / length(text), 4) AS alpha,
        |  round(CAST(len([x for x in t if x = 'the' OR x = 'a']) AS DOUBLE) / len(t), 4) AS stop
        |  FROM toks),
        |s AS (SELECT doc_id, round(greatest(0.0, least(1.0,
        |  (len_score + alpha + (1.0 - abs(stop - 0.15))) / 3.0)), 4) AS quality FROM parts),
        |cnt AS (SELECT count(*) AS n FROM s),
        |srt AS (SELECT quality, row_number() OVER (ORDER BY quality) - 1 AS idx FROM s),
        |lo AS (SELECT quality AS lo FROM srt, cnt
        |       WHERE idx = greatest(CAST(ceil(0.05 * n) AS BIGINT) - 1, 0)),
        |hi AS (SELECT quality AS hi FROM srt, cnt
        |       WHERE idx = greatest(CAST(ceil(0.95 * n) AS BIGINT) - 1, 0))
        |SELECT doc_id, quality, least(greatest(quality, lo), hi) AS clamped
        |FROM s, lo, hi ORDER BY doc_id""".stripMargin,

    // t169: median and MAD re-derived by the same rank rule; the division
    // is double/double in the identical operand order, floor-rounded
    "t169_robust_z" ->
      """WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
        |parts AS (SELECT doc_id,
        |  least(len(t) / 50.0, 1.0) AS len_score,
        |  round(CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / length(text), 4) AS alpha,
        |  round(CAST(len([x for x in t if x = 'the' OR x = 'a']) AS DOUBLE) / len(t), 4) AS stop
        |  FROM toks),
        |s AS (SELECT doc_id, round(greatest(0.0, least(1.0,
        |  (len_score + alpha + (1.0 - abs(stop - 0.15))) / 3.0)), 4) AS quality FROM parts),
        |cnt AS (SELECT count(*) AS n FROM s),
        |r1 AS (SELECT quality, row_number() OVER (ORDER BY quality) - 1 AS idx FROM s),
        |med AS (SELECT quality AS med FROM r1, cnt
        |        WHERE idx = greatest(CAST(ceil(n / 2.0) AS BIGINT) - 1, 0)),
        |r2 AS (SELECT abs(quality - med) AS d,
        |       row_number() OVER (ORDER BY abs(quality - med)) - 1 AS idx FROM s, med),
        |mad AS (SELECT d AS mad FROM r2, cnt
        |        WHERE idx = greatest(CAST(ceil(n / 2.0) AS BIGINT) - 1, 0))
        |SELECT doc_id, quality,
        |  CASE WHEN mad = 0 THEN 0.0
        |       ELSE floor((quality - med) / mad * 1e6 + 0.5) / 1e6 END AS z
        |FROM s, med, mad ORDER BY doc_id""".stripMargin,

    // t168: the same rank rule per language — thresholds from a
    // partitioned window, value-at-rank deterministic under ties
    "t168_winsorize_by_lang" ->
      """WITH toks AS (SELECT doc_id, lang, text, string_split(text, ' ') AS t FROM documents),
        |parts AS (SELECT doc_id, lang,
        |  least(len(t) / 50.0, 1.0) AS len_score,
        |  round(CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / length(text), 4) AS alpha,
        |  round(CAST(len([x for x in t if x = 'the' OR x = 'a']) AS DOUBLE) / len(t), 4) AS stop
        |  FROM toks),
        |s AS (SELECT doc_id, lang, round(greatest(0.0, least(1.0,
        |  (len_score + alpha + (1.0 - abs(stop - 0.15))) / 3.0)), 4) AS quality FROM parts),
        |r AS (SELECT lang, quality,
        |  row_number() OVER (PARTITION BY lang ORDER BY quality) - 1 AS idx,
        |  count(*) OVER (PARTITION BY lang) AS n FROM s),
        |th AS (SELECT lang,
        |  min(CASE WHEN idx = greatest(CAST(ceil(0.05 * n) AS BIGINT) - 1, 0) THEN quality END) AS lo,
        |  min(CASE WHEN idx = greatest(CAST(ceil(0.95 * n) AS BIGINT) - 1, 0) THEN quality END) AS hi
        |  FROM r
        |  WHERE idx = greatest(CAST(ceil(0.05 * n) AS BIGINT) - 1, 0)
        |     OR idx = greatest(CAST(ceil(0.95 * n) AS BIGINT) - 1, 0)
        |  GROUP BY lang)
        |SELECT s.doc_id, s.lang, s.quality, least(greatest(s.quality, th.lo), th.hi) AS clamped
        |FROM s JOIN th USING (lang) ORDER BY doc_id""".stripMargin,

    // same quality expression as t63 wrapped in the rank window; ceil of
    // an exact small-int product is engine-identical
    "t86_quality_prune" ->
      """WITH toks AS (SELECT doc_id, lang, text, string_split(text, ' ') AS t FROM documents),
        |parts AS (SELECT doc_id, lang,
        |  least(len(t) / 50.0, 1.0) AS len_score,
        |  round(CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / length(text), 4) AS alpha,
        |  round(CAST(len([x for x in t if x = 'the' OR x = 'a']) AS DOUBLE) / len(t), 4) AS stop
        |  FROM toks),
        |q AS (SELECT doc_id, lang, round(greatest(0.0, least(1.0,
        |  (len_score + alpha + (1.0 - abs(stop - 0.15))) / 3.0)), 4) AS quality
        |  FROM parts),
        |r AS (SELECT doc_id, lang, quality,
        |  row_number() OVER (PARTITION BY lang
        |    ORDER BY quality DESC, md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
        |  count(*) OVER (PARTITION BY lang) AS n FROM q)
        |SELECT doc_id, lang, quality FROM r
        |WHERE rk <= ceil(n * 0.25) ORDER BY doc_id""".stripMargin,

    "t65_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id, t, [t[i] || ' ' || t[i+1] for i in range(1, len(t))] AS grams FROM toks)
        |SELECT doc_id,
        |  CASE WHEN len(grams) = 0 THEN 0.0
        |       ELSE round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 4) END AS dup_2gram_frac,
        |  round(CAST(list_max([len([y for y in t if y = x]) for x in list_distinct(t)]) AS DOUBLE) / len(t), 4) AS top_token_frac
        |FROM g ORDER BY doc_id""".stripMargin,

    "q70_full_outer" ->
      """WITH o AS (SELECT o_custkey,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |  FROM orders WHERE o_custkey % 2 = 0 GROUP BY o_custkey)
        |SELECT c_custkey, c_acctbal, o_custkey, total
        |FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 3 = 0) c
        |FULL OUTER JOIN o ON c_custkey = o_custkey
        |ORDER BY c_custkey NULLS FIRST, o_custkey NULLS FIRST""".stripMargin,

    // the doubled stream deduped on event_id must equal the original table
    "q68_stream_dedup" ->
      """SELECT event_type, count(*) AS n, count(DISTINCT event_id) AS n_distinct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q69_range_window" ->
      """SELECT o_orderkey,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE), 2) AS sum_30d,
        |  count(*) OVER w AS n_30d
        |FROM (SELECT *, datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS dd
        |      FROM orders WHERE o_custkey < 200)
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY dd RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,

    "p67_pipeline" ->
      """WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        |d2 AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)),
        |toks AS (SELECT doc_id, lang, text, string_split(text, ' ') AS t FROM d2),
        |parts AS (SELECT doc_id, lang,
        |  least(len(t) / 50.0, 1.0) AS len_score,
        |  round(CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / length(text), 4) AS alpha,
        |  round(CAST(len([x for x in t if x = 'the' OR x = 'a']) AS DOUBLE) / len(t), 4) AS stop
        |  FROM toks),
        |q AS (SELECT doc_id, lang, round(greatest(0.0, least(1.0,
        |  (len_score + alpha + (1.0 - abs(stop - 0.15))) / 3.0)), 4) AS quality FROM parts),
        |filt AS (SELECT * FROM q WHERE quality >= 0.3),
        |rn AS (SELECT doc_id, lang, quality, row_number() OVER (
        |  PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM filt)
        |SELECT doc_id, lang, quality FROM rn WHERE rn <= 10 ORDER BY lang, doc_id""".stripMargin,

    // pruning is a layout property, so the oracle just filters the original
    // table by day — a hash match proves the partitioned roundtrip lost and
    // invented nothing
    "q78_partition_prune" ->
      """SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the bloom is a prefilter only; the exact result is the plain anti-join
    "d79_bloom_increment" ->
      """WITH history AS (SELECT * FROM documents WHERE doc_id % 4 <> 0),
        |arrivals AS (
        |  SELECT doc_id, text, lang FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT doc_id + 100000, text, lang FROM history WHERE doc_id % 10 = 7)
        |SELECT a.doc_id, a.lang FROM arrivals a
        |WHERE md5(a.text) NOT IN (SELECT md5(text) FROM history)
        |ORDER BY a.doc_id""".stripMargin,

    // f·2^20 is a power-of-two scale of an exact sqrt — floor and the
    // %05x hex render identically in both engines; q=2^20 (the min
    // stratum) caps to 'g' which sorts above every hex char
    "d81_lang_balance" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |m AS (SELECT min(n) AS minn FROM c),
        |th AS (SELECT lang,
        |  CASE WHEN CAST(floor(sqrt(CAST(minn AS DOUBLE) / n) * 1048576) AS BIGINT) >= 1048576
        |       THEN 'g'
        |       ELSE printf('%05x', CAST(floor(sqrt(CAST(minn AS DOUBLE) / n) * 1048576) AS BIGINT))
        |  END AS thresh
        |  FROM c, m)
        |SELECT d.doc_id, d.lang FROM documents d JOIN th USING (lang)
        |WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 5) < th.thresh
        |ORDER BY d.doc_id""".stripMargin,

    // the Morton interleave recomputed bit-for-bit: disjoint bit positions
    // make the sum equal the OR
    "q99_zorder_cluster" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  CAST(list_sum([(((l_partkey >> i) & 1) << (2*i)) + (((l_suppkey >> i) & 1) << (2*i+1)) for i in range(0, 20)]) AS BIGINT) AS zval
        |FROM lineitem ORDER BY zval, l_orderkey, l_linenumber""".stripMargin,

    // the md5 permutation is engine-portable; pos/shard recomputed from the
    // same hash order. ORDER BY pos makes strict-order = the permutation
    "t98_shuffle_shard" ->
      """WITH p AS (SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT) AS pos
        |  FROM documents)
        |SELECT doc_id, pos, CAST(pos // 64 AS BIGINT) AS shard
        |FROM p ORDER BY pos""".stripMargin,

    // same tokenization rule, rank-capped postings reproduced via a window
    // FILTER inside the list aggregate
    "t84_inverted_index" ->
      """WITH tok0 AS (SELECT doc_id,
        |  unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
        |  FROM documents),
        |tok AS (SELECT DISTINCT doc_id, token FROM tok0),
        |r AS (SELECT doc_id, token,
        |  row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn FROM tok),
        |g AS (SELECT token, count(*) AS df_count,
        |  array_to_string(list_sort(list(doc_id) FILTER (WHERE rn <= 20)), ',') AS postings_csv
        |  FROM r GROUP BY token)
        |SELECT token, df_count, postings_csv FROM g
        |WHERE df_count >= 50 ORDER BY token""".stripMargin,

    // bigrams via a struct comprehension over adjacent positions; left
    // totals and the continuation vocabulary recomputed from the counts
    "t89_bigram_lm" ->
      """WITH tk AS (SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t FROM documents),
        |tk2 AS (SELECT t FROM tk WHERE len(t) >= 2),
        |bg AS (SELECT unnest([{'w1': t[i], 'w2': t[i+1]} for i in range(1, len(t))]) AS s FROM tk2),
        |c AS (SELECT s.w1 AS w1, s.w2 AS w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
        |v AS (SELECT count(DISTINCT w2) AS nv FROM c),
        |f AS (SELECT w1, w2, c12, sum(c12) OVER (PARTITION BY w1) AS c1 FROM c)
        |SELECT w1, w2, c12, floor((c12 + 0.5) / (c1 + 0.5 * nv) * 1e6 + 0.5) / 1e6 AS p_cond
        |FROM f, v ORDER BY c12 DESC, w1, w2 LIMIT 100""".stripMargin,

    // the frozen merge chain replayed as nested literal replaces
    "t102_bpe_encode" -> bpeEncodeOracle(frozenBpeMerges, cap = 12),

    // buckets from the same md5-derived hyperplanes; the component sum goes
    // through DECIMAL(27,7) in both engines (double→decimal casts round
    // half-away-from-zero in both), so the mean is order-independent
    "s100_bucket_centroids" -> centroidOracle(planes = 5, dim = 64),

    // heavy hitters + skew ratio over per-key counts; cumulative share of
    // the sorted prefix needs only the prefix
    "q101_skew_profile" ->
      """WITH c AS (SELECT user_id AS key, count(*) AS cnt FROM events GROUP BY 1),
        |st AS (SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS total_rows, max(cnt) AS max_cnt FROM c),
        |top AS (SELECT key, cnt,
        |  row_number() OVER (ORDER BY cnt DESC, key NULLS LAST) AS rank,
        |  sum(cnt) OVER (ORDER BY cnt DESC, key NULLS LAST ROWS UNBOUNDED PRECEDING) AS cum_cnt
        |  FROM c QUALIFY rank <= 20)
        |SELECT CAST(rank AS BIGINT) AS rank, CAST(key AS VARCHAR) AS key, cnt,
        |  floor(CAST(cnt AS DOUBLE) / total_rows * 1e6 + 0.5) / 1e6 AS share,
        |  floor(CAST(cum_cnt AS DOUBLE) / total_rows * 1e6 + 0.5) / 1e6 AS cum_share,
        |  n_keys, total_rows,
        |  floor(CAST(max_cnt AS DOUBLE) * n_keys / total_rows * 1e6 + 0.5) / 1e6 AS skew_ratio
        |FROM top, st ORDER BY rank""".stripMargin,

    // initial BPE symbols are single chars, so an adjacency's fused string
    // a||b is exactly the 2-char substring at that position
    "t97_bpe_pairs" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |wf AS (SELECT w, count(*) AS c FROM toks WHERE length(w) >= 2 GROUP BY w),
        |pairs AS (SELECT unnest([substr(w, i, 2) for i in range(1, length(w))]) AS pair, c FROM wf),
        |agg AS (SELECT pair, CAST(sum(c) AS BIGINT) AS n FROM pairs GROUP BY pair)
        |SELECT pair, n FROM agg ORDER BY n DESC, pair LIMIT 50""".stripMargin,

    // 1-based starts every 32 tokens; list_slice caps at the tail exactly
    // like Spark's slice(toks, st, 64)
    "t80_chunk_windows" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, toks,
        |  unnest(generate_series(1, greatest(len(toks), 1), 32)) AS st FROM t)
        |SELECT doc_id, CAST((st - 1) // 32 AS BIGINT) AS chunk_id,
        |  array_to_string(toks[st : st + 63], ' ') AS chunk,
        |  CAST(len(toks[st : st + 63]) AS BIGINT) AS n_tokens
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin,

    // the running sum and integer // reproduce Spark's window + div exactly
    "t82_sequence_pack" ->
      """WITH t AS (SELECT lang, doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
        |c AS (SELECT lang, doc_id, n_tokens,
        |  CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    - n_tokens AS strt
        |  FROM t)
        |SELECT lang, doc_id, n_tokens,
        |  CAST(strt // 2048 AS BIGINT) AS bin,
        |  CAST(strt - (strt // 2048) * 2048 AS BIGINT) AS bin_offset
        |FROM c ORDER BY lang, bin, doc_id""".stripMargin,

    // +1000 on a 2-dp double is an exact float op — both engines compute
    // the identical bits; result keys are unique so the order is total
    "q85_upsert_snapshot" ->
      """WITH base AS (
        |  SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer),
        |updates AS (
        |  SELECT c_custkey, c_name, c_acctbal + 1000 AS c_acctbal, c_mktsegment
        |  FROM base WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_custkey + 100000, c_name, c_acctbal, c_mktsegment
        |  FROM base WHERE c_custkey % 25 = 0)
        |SELECT * FROM base
        |WHERE c_custkey NOT IN (SELECT c_custkey FROM updates)
        |UNION ALL SELECT * FROM updates
        |ORDER BY c_custkey""".stripMargin,

    // compaction is a layout change only — the original table is the oracle
    "q83_compacted_write" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,

    // hash-threshold sampling: 0.25→40000, 0.5→80000, 0.125→20000 (fraction ×
    // 2^20 as 5 hex chars); 'g' sorts above every hex char, so zh keeps all;
    // es has no CASE arm → NULL threshold → dropped
    "d71_stratified_frac" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 5) <
        |  CASE lang WHEN 'en' THEN '40000' WHEN 'fr' THEN '80000'
        |            WHEN 'de' THEN '20000' WHEN 'zh' THEN 'g' END
        |ORDER BY doc_id""".stripMargin,

    // streaming pipeline oracle: the doubled stream deduped on doc_id equals
    // the original table, so the batch scrub+quality over `documents` is the
    // exact expected sink content
    "p72_stream_pipeline" ->
      """WITH toks AS (SELECT doc_id, lang, text, string_split(text, ' ') AS t FROM documents),
        |parts AS (SELECT doc_id, lang, text,
        |  least(len(t) / 50.0, 1.0) AS len_score,
        |  round(CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / length(text), 4) AS alpha,
        |  round(CAST(len([x for x in t if x = 'the' OR x = 'a']) AS DOUBLE) / len(t), 4) AS stop
        |  FROM toks),
        |q AS (SELECT doc_id, lang, round(greatest(0.0, least(1.0,
        |  (len_score + alpha + (1.0 - abs(stop - 0.15))) / 3.0)), 4) AS quality,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^\s]+', '<URL>', 'g'),
        |    '[0-9]{7,}', '<NUM>', 'g')) AS scrub_md5
        |  FROM parts)
        |SELECT doc_id, lang, quality, scrub_md5 FROM q
        |WHERE quality >= 0.3 ORDER BY doc_id""".stripMargin,

    // duplicate clusters via a recursive CTE: `reach` is the transitive
    // closure of the symmetric pair graph (DuckDB's UNION-distinct recursion
    // reaches a fixpoint), component = min reachable node — exactly the
    // hash-min label the Spark operator converges to
    "d73_dup_clusters" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)])) AS s FROM toks),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM inter
        |          JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |          WHERE n * 1.0 / (sa.sz + sb.sz - n) >= 0.8),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(node, lbl) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.lbl),
        |comp AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node)
        |SELECT c.node AS doc_id, c.cluster_id, n.cluster_size
        |FROM comp c JOIN (SELECT cluster_id, count(*) AS cluster_size
        |                  FROM comp GROUP BY cluster_id) n USING (cluster_id)
        |ORDER BY doc_id""".stripMargin,

    // d95 = d73's cluster CTE + a per-cluster priority window: survivors are
    // everything except each cluster's rank-2+ members under (src rank, id)
    "d95_priority_dedup" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)])) AS s FROM toks),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM inter
        |          JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |          WHERE n * 1.0 / (sa.sz + sb.sz - n) >= 0.8),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(node, lbl) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.lbl),
        |comp AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node),
        |prio AS (SELECT node, cluster_id, CAST(substr(d.source, 4) AS INT) AS p
        |         FROM comp JOIN documents d ON d.doc_id = comp.node),
        |losers AS (SELECT node FROM (
        |  SELECT node, row_number() OVER (PARTITION BY cluster_id ORDER BY p, node) AS rn
        |  FROM prio) WHERE rn > 1)
        |SELECT doc_id, source, lang FROM documents
        |WHERE doc_id NOT IN (SELECT node FROM losers)
        |ORDER BY doc_id""".stripMargin,

    // span hashes are md5 over char-based substr — identical in both
    // engines; Spark sequence(0, stop) is inclusive = DuckDB range(0,
    // stop+1); the HUGEINT sum is cast back to BIGINT for the compare
    "d87_repeated_spans" ->
      """WITH spans AS (
        |  SELECT doc_id, unnest([md5(substr(text, o + 1, 50))
        |                         for o in range(0, len(text) - 50 + 1, 25)]) AS h
        |  FROM documents WHERE len(text) >= 50),
        |nd AS (SELECT h, count(DISTINCT doc_id) AS nd FROM spans GROUP BY h),
        |j AS (SELECT s.doc_id, CASE WHEN nd.nd > 1 THEN 1 ELSE 0 END AS rep
        |      FROM spans s JOIN nd USING (h))
        |SELECT doc_id, count(*) AS n_spans,
        |  CAST(sum(rep) AS BIGINT) AS n_repeated,
        |  round(sum(rep) * 1.0 / count(*), 4) AS repeat_frac
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // parallel unnests of equal-length lists zip in DuckDB, giving each
    // segment its ordinal; string_agg(... ORDER BY pos) rebuilds the text
    // in original order, coalesce('') matches Spark's empty array_join for
    // fully-pruned docs
    "d88_boilerplate_prune" ->
      """WITH l AS (
        |  SELECT doc_id,
        |         unnest(string_split(coalesce(text, ''), ' ')) AS seg,
        |         unnest(range(1, len(string_split(coalesce(text, ''), ' ')) + 1)) AS pos
        |  FROM documents),
        |hot AS (
        |  SELECT seg FROM (
        |    SELECT seg, count(DISTINCT doc_id) AS dfc
        |    FROM l WHERE length(seg) >= 1 GROUP BY seg)
        |  WHERE dfc > 390)
        |SELECT l.doc_id,
        |  coalesce(string_agg(CASE WHEN h.seg IS NULL THEN l.seg END,
        |                      ' ' ORDER BY l.pos), '') AS text_clean,
        |  count(CASE WHEN h.seg IS NULL THEN 1 END) AS n_kept,
        |  count(h.seg) AS n_dropped
        |FROM l LEFT JOIN hot h ON l.seg = h.seg
        |GROUP BY l.doc_id ORDER BY l.doc_id""".stripMargin,

    // the composed pipeline as ONE oracle: each stage reuses its own
    // query's oracle shape (p67 quality, d87 spans, d23 exact-jaccard —
    // LSH recall ≡ exact holds on any SUBSET of the corpus since
    // signatures and band collisions are per-pair — d73 recursive-CTE
    // components, d81 md5 thresholds). The span cap is omitted: it is a
    // no-op below 10k docs sharing a span, unreachable in oracle data
    "p90_composed_corpus" ->
      """WITH RECURSIVE
        |keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        |d2 AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)),
        |toks0 AS (SELECT doc_id, lang, text, string_split(text, ' ') AS t FROM d2),
        |parts AS (SELECT doc_id, lang, text,
        |  least(len(t) / 50.0, 1.0) AS len_score,
        |  round(CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / length(text), 4) AS alpha,
        |  round(CAST(len([x for x in t if x = 'the' OR x = 'a']) AS DOUBLE) / len(t), 4) AS stop
        |  FROM toks0),
        |clean AS (SELECT doc_id, lang, text FROM parts
        |  WHERE round(greatest(0.0, least(1.0,
        |    (len_score + alpha + (1.0 - abs(stop - 0.15))) / 3.0)), 4) >= 0.3),
        |spans AS (SELECT doc_id, unnest([md5(substr(text, o + 1, 50))
        |                                 for o in range(0, len(text) - 50 + 1, 25)]) AS h
        |          FROM clean WHERE len(text) >= 50),
        |nd AS (SELECT h, count(DISTINCT doc_id) AS nd FROM spans GROUP BY h),
        |rep AS (SELECT s.doc_id, count(*) AS n_spans,
        |               count(CASE WHEN nd.nd > 1 THEN 1 END) AS n_rep
        |        FROM spans s JOIN nd USING (h) GROUP BY s.doc_id),
        |boiler AS (SELECT doc_id FROM rep WHERE round(n_rep * 1.0 / n_spans, 4) >= 0.5),
        |pruned AS (SELECT c.* FROM clean c WHERE c.doc_id NOT IN (SELECT doc_id FROM boiler)),
        |ptoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM pruned),
        |sh AS (SELECT doc_id, unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)])) AS s FROM ptoks),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM inter
        |          JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |          WHERE n * 1.0 / (sa.sz + sb.sz - n) >= 0.8),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(node, lbl) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.lbl),
        |comp AS (SELECT node, min(lbl) AS cid FROM reach GROUP BY node),
        |dd AS (SELECT p.* FROM pruned p
        |       WHERE p.doc_id NOT IN (SELECT node FROM comp WHERE node <> cid)),
        |c AS (SELECT lang, count(*) AS n FROM dd WHERE lang IS NOT NULL GROUP BY 1),
        |m AS (SELECT min(n) AS minn FROM c),
        |th AS (SELECT lang,
        |  CASE WHEN CAST(floor(sqrt(CAST(minn AS DOUBLE) / n) * 1048576) AS BIGINT) >= 1048576
        |       THEN 'g'
        |       ELSE printf('%05x', CAST(floor(sqrt(CAST(minn AS DOUBLE) / n) * 1048576) AS BIGINT))
        |  END AS thresh
        |  FROM c, m),
        |bal AS (SELECT d.doc_id, d.lang FROM dd d JOIN th USING (lang)
        |        WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 5) < th.thresh)
        |SELECT lang, count(*) AS n_docs FROM bal GROUP BY lang ORDER BY lang""".stripMargin,

    // p91 = p90's chain (bal carries text) + the prep tail: d61-shaped
    // decontamination, t80-shaped chunking, t82-shaped packing — every
    // stage reuses its own query's proven oracle form
    "p91_composed_prep" ->
      """WITH RECURSIVE
        |keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        |d2 AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)),
        |toks0 AS (SELECT doc_id, lang, text, string_split(text, ' ') AS t FROM d2),
        |parts AS (SELECT doc_id, lang, text,
        |  least(len(t) / 50.0, 1.0) AS len_score,
        |  round(CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / length(text), 4) AS alpha,
        |  round(CAST(len([x for x in t if x = 'the' OR x = 'a']) AS DOUBLE) / len(t), 4) AS stop
        |  FROM toks0),
        |clean AS (SELECT doc_id, lang, text FROM parts
        |  WHERE round(greatest(0.0, least(1.0,
        |    (len_score + alpha + (1.0 - abs(stop - 0.15))) / 3.0)), 4) >= 0.3),
        |spans AS (SELECT doc_id, unnest([md5(substr(text, o + 1, 50))
        |                                 for o in range(0, len(text) - 50 + 1, 25)]) AS h
        |          FROM clean WHERE len(text) >= 50),
        |nd AS (SELECT h, count(DISTINCT doc_id) AS nd FROM spans GROUP BY h),
        |rep AS (SELECT s.doc_id, count(*) AS n_spans,
        |               count(CASE WHEN nd.nd > 1 THEN 1 END) AS n_rep
        |        FROM spans s JOIN nd USING (h) GROUP BY s.doc_id),
        |boiler AS (SELECT doc_id FROM rep WHERE round(n_rep * 1.0 / n_spans, 4) >= 0.5),
        |pruned AS (SELECT c.* FROM clean c WHERE c.doc_id NOT IN (SELECT doc_id FROM boiler)),
        |ptoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM pruned),
        |sh AS (SELECT doc_id, unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)])) AS s FROM ptoks),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM inter
        |          JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |          WHERE n * 1.0 / (sa.sz + sb.sz - n) >= 0.8),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(node, lbl) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.lbl),
        |comp AS (SELECT node, min(lbl) AS cid FROM reach GROUP BY node),
        |dd AS (SELECT p.* FROM pruned p
        |       WHERE p.doc_id NOT IN (SELECT node FROM comp WHERE node <> cid)),
        |c AS (SELECT lang, count(*) AS n FROM dd WHERE lang IS NOT NULL GROUP BY 1),
        |m AS (SELECT min(n) AS minn FROM c),
        |th AS (SELECT lang,
        |  CASE WHEN CAST(floor(sqrt(CAST(minn AS DOUBLE) / n) * 1048576) AS BIGINT) >= 1048576
        |       THEN 'g'
        |       ELSE printf('%05x', CAST(floor(sqrt(CAST(minn AS DOUBLE) / n) * 1048576) AS BIGINT))
        |  END AS thresh
        |  FROM c, m),
        |bal AS (SELECT d.doc_id, d.lang, d.text FROM dd d JOIN th USING (lang)
        |        WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 5) < th.thresh),
        |evt AS (SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id % 25 = 0),
        |ev AS (SELECT DISTINCT unnest(list_distinct([array_to_string(t[i:i+4], ' ') for i in range(1, len(t)-3)])) AS s FROM evt),
        |bt AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM bal),
        |csh AS (SELECT doc_id, unnest(list_distinct([array_to_string(t[i:i+4], ' ') for i in range(1, len(t)-3)])) AS s FROM bt),
        |cont AS (SELECT DISTINCT csh.doc_id AS doc_id FROM csh JOIN ev USING (s)),
        |fin AS (SELECT doc_id, lang, t FROM bt WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
        |sts AS (SELECT doc_id, lang, t,
        |       unnest(generate_series(1, greatest(len(t), 1), 32)) AS st FROM fin),
        |ch AS (SELECT lang, doc_id * 10000 + (st - 1) // 32 AS chunk_uid,
        |       array_to_string(t[st : st + 63], ' ') AS chunk FROM sts),
        |pt AS (SELECT lang, chunk_uid,
        |       CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_tokens,
        |       md5(CAST(chunk_uid AS VARCHAR)) AS h FROM ch),
        |pc AS (SELECT lang, chunk_uid, n_tokens,
        |       CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, chunk_uid
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |         - n_tokens AS strt
        |       FROM pt)
        |SELECT lang, chunk_uid, n_tokens,
        |  CAST(strt // 2048 AS BIGINT) AS bin,
        |  CAST(strt - (strt // 2048) * 2048 AS BIGINT) AS bin_offset
        |FROM pc ORDER BY lang, bin, chunk_uid""".stripMargin,

    // rank sums are integers, so the per-doc mean is exact in both engines;
    // the vocab rank order (tf desc, token asc) is a unique total order
    "t66_token_rarity" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tf AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        |rk AS (SELECT w, row_number() OVER (ORDER BY c DESC, w) AS r FROM tf),
        |v AS (SELECT w, r FROM rk WHERE r <= 1000)
        |SELECT doc_id, round(CAST(sum(coalesce(r, 1001)) AS DOUBLE) / count(*), 4) AS rarity
        |FROM tok LEFT JOIN v USING (w) GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // non-overlapping 16-word blocks; first occurrence = min (doc, pos);
    // re-stitch the survivors in order (string_agg ORDER BY == array_sort
    // of (seg_idx, seg) structs — seg_idx is unique per doc)
    "d111_segment_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s0 AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks), 16)) AS st FROM t),
        |s AS (SELECT doc_id, CAST((st - 1) // 16 AS BIGINT) AS seg_idx,
        |  array_to_string(toks[st : st + 15], ' ') AS seg FROM s0),
        |f AS (SELECT *, row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn FROM s),
        |g AS (SELECT doc_id, count(*) AS n_segs,
        |  CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE rn = 1), '') AS text_deduped
        |  FROM f GROUP BY doc_id)
        |SELECT doc_id, n_segs, n_kept, text_deduped FROM g ORDER BY doc_id""".stripMargin,

    // the d105 quality chain as the rank key; the inclusive running token
    // total reproduces the per-partition-sums prefix exactly (integer sum
    // over a unique total order)
    "t112_token_budget" ->
      """WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
        |parts AS (SELECT doc_id, len(t) AS nt,
        |  least(len(t) / 50.0, 1.0) AS len_score,
        |  round(CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / length(text), 4) AS alpha,
        |  round(CAST(len([x for x in t if x = 'the' OR x = 'a']) AS DOUBLE) / len(t), 4) AS stop
        |  FROM toks),
        |q AS (SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens, round(greatest(0.0, least(1.0,
        |  (len_score + alpha + (1.0 - abs(stop - 0.15))) / 3.0)), 4) AS score FROM parts),
        |c AS (SELECT doc_id, score, n_tokens,
        |  CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM q)
        |SELECT doc_id, score, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= 10000 ORDER BY doc_id""".stripMargin,

    // 60 evenly spaced byte samples (ASCII corpus: byte == char, ascii()
    // is the codepoint in both engines), integer cross-multiplied mean
    // threshold, bit i = 1 via exact power-of-two sum (each power distinct,
    // so the bigint sum IS the OR); all-pairs Hamming equals the banded
    // search for maxDist 3 < 4 bands by pigeonhole (the d24 argument)
    "m113_phash_neardup" ->
      """WITH m AS (SELECT doc_id AS id, text FROM documents WHERE length(text) >= 120),
        |smp AS (SELECT id, [ascii(text[119 * i // 59 + 1]) for i in range(0, 60)] AS s FROM m),
        |h AS (SELECT id, s, list_sum(s) AS tot FROM smp),
        |fp AS (SELECT id, CAST(list_sum([CASE WHEN s[i+1] * 60 > tot THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT) END for i in range(0, 60)]) AS BIGINT) AS phash FROM h),
        |p AS (SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS dist
        |  FROM fp a JOIN fp b ON a.id < b.id)
        |SELECT id_a, id_b, dist FROM p WHERE dist <= 3 ORDER BY id_a, id_b""".stripMargin,

    // same deterministic snapshot derivation, full-outer on the id with a
    // content fingerprint per side; unchanged rows omitted
    "p114_snapshot_diff" ->
      """WITH a AS (SELECT doc_id, md5(text || '|' || lang) AS fp_a FROM documents WHERE doc_id % 23 <> 0),
        |b0 AS (SELECT doc_id, CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END AS text, lang
        |  FROM documents WHERE doc_id % 29 <> 0),
        |b AS (SELECT doc_id, md5(text || '|' || lang) AS fp_b FROM b0),
        |j AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id, fp_a, fp_b
        |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT doc_id,
        |  CASE WHEN fp_a IS NULL THEN 'added'
        |       WHEN fp_b IS NULL THEN 'removed'
        |       WHEN fp_a <> fp_b THEN 'changed' END AS status
        |FROM j WHERE fp_a IS NULL OR fp_b IS NULL OR fp_a <> fp_b
        |ORDER BY doc_id""".stripMargin,

    // s76's quantize chain for the codes; coarse = exact integer dot of
    // the codes × the two scales (one double product, fixed association);
    // both windows tie-break on neighbor id, so candidate set and final
    // ranking are engine-identical; exact cosine = the s29 formula
    "s115_rerank_exact" ->
      """WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
        |sc AS (SELECT vec_id, e, list_max([abs(x) for x in e]) / 127.0 AS scale FROM v),
        |q AS (SELECT vec_id, e, scale,
        |  [CAST(coalesce(round(x / nullif(scale, 0)), 0) AS BIGINT) for x in e] AS qv FROM sc),
        |qs AS (SELECT vec_id AS query_id, e AS qe, scale AS qscale, qv AS qqv FROM q WHERE vec_id < 8),
        |coarse AS (SELECT query_id, c.vec_id AS neighbor_id,
        |  CAST(list_sum([qqv[i] * c.qv[i] for i in range(1, len(qqv) + 1)]) AS DOUBLE) * qscale * c.scale AS approx
        |  FROM qs, q c WHERE c.vec_id <> query_id),
        |cand AS (SELECT query_id, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY approx DESC, neighbor_id) AS rn
        |  FROM coarse) WHERE rn <= 40),
        |ex AS (SELECT cand.query_id, cand.neighbor_id,
        |  list_sum([qs.qe[i] * ce.e[i] for i in range(1, len(qs.qe) + 1)]) /
        |  (sqrt(list_sum([qs.qe[i] * qs.qe[i] for i in range(1, len(qs.qe) + 1)])) *
        |   sqrt(list_sum([ce.e[i] * ce.e[i] for i in range(1, len(ce.e) + 1)]))) AS cosine
        |  FROM cand JOIN qs USING (query_id) JOIN q ce ON ce.vec_id = cand.neighbor_id),
        |r AS (SELECT query_id, neighbor_id, cosine,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk FROM ex)
        |SELECT query_id, neighbor_id, round(cosine, 4) AS cosine FROM r
        |WHERE rk <= 10 ORDER BY query_id, neighbor_id""".stripMargin,

    // t112's chain for the kept set, then the t98 permutation (md5 order,
    // id tie-break) and integer shard division
    "p116_release_cut" ->
      """WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
        |parts AS (SELECT doc_id, len(t) AS nt,
        |  least(len(t) / 50.0, 1.0) AS len_score,
        |  round(CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / length(text), 4) AS alpha,
        |  round(CAST(len([x for x in t if x = 'the' OR x = 'a']) AS DOUBLE) / len(t), 4) AS stop
        |  FROM toks),
        |q AS (SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens, round(greatest(0.0, least(1.0,
        |  (len_score + alpha + (1.0 - abs(stop - 0.15))) / 3.0)), 4) AS score FROM parts),
        |c AS (SELECT doc_id, score, n_tokens,
        |  CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM q),
        |kept AS (SELECT doc_id, n_tokens FROM c WHERE cum_tokens <= 10000),
        |p AS (SELECT doc_id, n_tokens,
        |  CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT) AS pos
        |  FROM kept)
        |SELECT doc_id, n_tokens, pos, CAST(pos // 32 AS BIGINT) AS shard
        |FROM p ORDER BY pos""".stripMargin,

    "t117_tokenizer_coverage" -> bpeCoverageOracle(frozenBpeMerges, cap = 12),

    // lead-chain 3-grams per user in (ts, event_id) order; windows crossing
    // a user's end excluded; rank over the counted path relation
    "e118_event_paths" ->
      """WITH l AS (SELECT event_type AS t0,
        |  lead(event_type, 1) OVER w AS t1, lead(event_type, 2) OVER w AS t2
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |p AS (SELECT t0 || '>' || t1 || '>' || t2 AS path FROM l WHERE t2 IS NOT NULL),
        |c AS (SELECT path, count(*) AS n_occurrences FROM p GROUP BY path)
        |SELECT path, n_occurrences,
        |  CAST(row_number() OVER (ORDER BY n_occurrences DESC, path) AS BIGINT) AS rank
        |FROM c ORDER BY n_occurrences DESC, path LIMIT 25""".stripMargin,

    // run detection via lag + running sum; valid_to = lead over the runs
    // relation; ts compared as epoch nanos to match the engine's ts_ns
    "e119_scd2" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  epoch_ns(ts) AS ts_ns FROM events),
        |f AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |    OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)),
        |r AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
        |    ROWS UNBOUNDED PRECEDING) AS run FROM f),
        |g AS (SELECT user_id, run, min(event_type) AS event_type,
        |  CAST(min(ts_ns) AS BIGINT) AS valid_from, count(*) AS n_events
        |  FROM r GROUP BY user_id, run),
        |v AS (SELECT user_id, event_type, valid_from,
        |  CAST(lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, run) AS BIGINT) AS valid_to,
        |  n_events FROM g)
        |SELECT user_id, event_type, valid_from, valid_to, n_events,
        |  valid_to IS NULL AS is_current
        |FROM v ORDER BY user_id, valid_from, event_type""".stripMargin,

    "s120_pq_topk" -> pqOracle(m = 8, kc = 16, subDim = 8, kTop = 10, expand = 4),

    "s123_lshpq_topk" -> lshPqOracle(m = 8, kc = 16, subDim = 8,
      planes = 3, dim = 64, kTop = 10, expand = 4),

    // the persisted-index path is lshPqTopK's math over a partitionBy
    // layout — same oracle chain as s123
    "s148_ann_partitioned" -> lshPqOracle(m = 8, kc = 16, subDim = 8,
      planes = 3, dim = 64, kTop = 10, expand = 4),

    // the incrementally-GROWN layout must serve the identical result over
    // the unioned corpus — s148's oracle verbatim; a hash match proves
    // append-maintenance loses nothing
    "s158_ann_index_append" -> lshPqOracle(m = 8, kc = 16, subDim = 8,
      planes = 3, dim = 64, kTop = 10, expand = 4),

    // d74's bucket chain as a CROSS equi-join between the %25 split sides
    "s162_whitening" -> whitenOracle(scoped(whitenModelStash)),

    "s166_whitened_ann" -> whitenedAnnOracle(scoped(whitenModelStash), kTop = 10),

    "d159_semantic_decontam" -> crossNearDupOracle(planes = 4, tables = 2,
      dim = 64, threshold = 0.35),

    // both tier replays embedded as subqueries, fused by the exact
    // integer-micro-unit RRF rule over their published rankings
    "s160_rank_fusion" -> rrfOracle(Seq(
      pqOracle(m = 8, kc = 16, subDim = 8, kTop = 10, expand = 4),
      lshPqOracle(m = 8, kc = 16, subDim = 8, planes = 3, dim = 64,
        kTop = 10, expand = 4)), kTop = 10, rrfK = 60),

    // the auto-serving row: same chain, planes from the run's stash
    "s151_lshpq_auto" -> scoped(autoServingPlanesUsed)
      .map(p => lshPqOracle(m = 8, kc = 16, subDim = 8,
        planes = p, dim = 64, kTop = 10, expand = 4))
      .getOrElse(autoPlanesOracleError),

    // the streaming emission is exactly the batch history's CLOSED rows
    "q124_stream_scd2" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  epoch_ns(ts) AS ts_ns FROM events),
        |f AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |    OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)),
        |r AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
        |    ROWS UNBOUNDED PRECEDING) AS run FROM f),
        |g AS (SELECT user_id, run, min(event_type) AS event_type,
        |  CAST(min(ts_ns) AS BIGINT) AS valid_from, count(*) AS n_events
        |  FROM r GROUP BY user_id, run),
        |v AS (SELECT user_id, event_type, valid_from,
        |  CAST(lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, run) AS BIGINT) AS valid_to,
        |  n_events FROM g)
        |SELECT user_id, event_type, valid_from, valid_to, n_events
        |FROM v WHERE valid_to IS NOT NULL
        |ORDER BY user_id, valid_from, event_type""".stripMargin,

    "q125_agg_pushdown" ->
      """SELECT count(*) AS n_rows, min(l_quantity) AS min_qty,
        |  max(l_quantity) AS max_qty, min(l_orderkey) AS min_ok,
        |  max(l_orderkey) AS max_ok FROM lineitem""".stripMargin,

    // the engine's iteration replayed as a recursive CTE: same floor
    // roundings at the same points, neighbor sums through DECIMAL(27,7)
    // (order-independent), teleport 0.15 as a literal (never 1 - 0.85,
    // which is a different double)
    "d128_pagerank" -> pageRankOracle(iters = 5),

    // cluster-unit split: the engine's simhash pair graph → recursive-CTE
    // components → coalesce(rep, own id) → the SAME hex5 cumulative
    // thresholds (constants built by the shared Sampling.hex5, so both
    // engines compare against identical literals)
    "d130_cluster_split" -> clusterSplitOracle(0.8, 0.9),

    // s29's brute-force cosine with the label-mismatch predicate fused in
    "s131_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS ql FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS nid, embedding AS cv, label AS nl FROM embeddings),
        |scored AS (
        |  SELECT qid, nid, nl,
        |    list_sum([CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) for i in range(1, len(qv)+1)]) /
        |    (sqrt(list_sum([CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE) for i in range(1, len(qv)+1)])) *
        |     sqrt(list_sum([CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) for i in range(1, len(cv)+1)]))) AS cosine
        |  FROM q, c WHERE qid <> nid AND nl <> ql),
        |ranked AS (SELECT qid, nid, nl, cosine,
        |  row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rn FROM scored)
        |SELECT qid AS query_id, nid AS neighbor_id, nl AS neg_label, round(cosine, 4) AS cosine
        |FROM ranked WHERE rn <= 10 ORDER BY query_id, neighbor_id""".stripMargin,

    // per-source rank by md5 order, then the interleaved global position:
    // (rank, source) is a unique total order both engines replay
    "t133_interleave" ->
      """WITH r AS (SELECT doc_id, source,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS stratum_rank
        |  FROM documents)
        |SELECT doc_id, source, stratum_rank,
        |  CAST(row_number() OVER (ORDER BY stratum_rank, source) - 1 AS BIGINT) AS pos
        |FROM r ORDER BY pos""".stripMargin,

    // d22's capped candidate CTE widened to j >= 0.1, binned on the raw
    // IEEE ratio — floor(10j) is bit-identical in both engines
    "d134_jaccard_hist" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)])) AS s FROM toks),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |shc AS (SELECT doc_id, s FROM (SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM sh) WHERE df <= 500),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
        |          FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |j AS (SELECT n * 1.0 / (sa.sz + sb.sz - n) AS jac
        |      FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |      WHERE n * 1.0 / (sa.sz + sb.sz - n) >= 0.1),
        |b AS (SELECT CAST(least(floor(jac * 10), 9) AS BIGINT) AS bin FROM j)
        |SELECT bin, bin / 10.0 AS bin_lo, (bin + 1) / 10.0 AS bin_hi,
        |  count(*) AS n_pairs
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    "s142_ann_recall" -> annRecallOracle(planes = 6, tables = 2, dim = 64, k = 10),
    "s143_pq_recall" -> pqRecallOracle(m = 8, kc = 16, subDim = 8,
      planes = 3, dim = 64, kTop = 10, expand = 4, cbT = scoped(trainedPqCodebook)),

    // m107's frame derivation + m113's pHash grid per FRAME (composite
    // frame id = doc·4 + idx), Hamming ≤ 2 pairs, video-pair counts
    "m141_frame_neardup" ->
      """WITH m AS (SELECT doc_id, text, length(text) AS total FROM documents),
        |fr0 AS (SELECT doc_id, unnest([{'i': i, 'f': substr(text, greatest(CAST(floor(CAST(total - 64 AS DOUBLE) * i / 3) AS INTEGER) + 1, 1), 64)} for i in [0,1,2,3]]) AS s FROM m),
        |fr2 AS (SELECT doc_id * 4 + s.i AS fid, s.f AS frame FROM fr0 WHERE length(s.f) >= 64),
        |smp AS (SELECT fid, [ascii(frame[63 * i // 59 + 1]) for i in range(0, 60)] AS s FROM fr2),
        |h AS (SELECT fid, s, list_sum(s) AS tot FROM smp),
        |fp AS (SELECT fid, CAST(list_sum([CASE WHEN s[i+1] * 60 > tot THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT) END for i in range(0, 60)]) AS BIGINT) AS ph FROM h),
        |p AS (SELECT a.fid AS fa, b.fid AS fb FROM fp a JOIN fp b
        |      ON a.fid < b.fid AND bit_count(xor(a.ph, b.ph)) <= 2)
        |SELECT fa // 4 AS video_a, fb // 4 AS video_b, count(*) AS n_frame_pairs
        |FROM p WHERE fa // 4 <> fb // 4 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the batch replay of the streaming lifetime cap: first 5 per user in
    // (ts_ns, event_id) order
    "q140_stream_quota" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS ts_ns FROM events),
        |r AS (SELECT user_id, event_id, ts_ns,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts_ns, event_id) AS rn FROM e)
        |SELECT user_id, event_id, ts_ns FROM r WHERE rn <= 5
        |ORDER BY user_id, ts_ns, event_id""".stripMargin,

    // same distinct-shingle convention as d22/d61 (n=5 windows over the
    // space-split token stream), df via a count window, portable ratio
    "t139_novelty" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct([array_to_string(t[i:i+4], ' ') for i in range(1, len(t)-3)])) AS s FROM toks),
        |dfc AS (SELECT doc_id, count(*) OVER (PARTITION BY s) AS df FROM sh)
        |SELECT doc_id, count(*) AS n_shingles,
        |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
        |  floor(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS novelty
        |FROM dfc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the same moment quantization (terms to DECIMAL(27,7), expectations
    // floor-rounded) replayed over 1-based subscripts shifted to 0-based
    "s137_embedding_covariance" ->
      """WITH u AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
        |  CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings WHERE len(embedding) = 64),
        |mu AS (SELECT i, floor(CAST(sum(CAST(x AS DECIMAL(27,7))) AS DOUBLE)
        |                      / count(*) * 1e6 + 0.5) / 1e6 AS mu
        |       FROM u GROUP BY i),
        |m2 AS (SELECT a.i AS i, b.i AS j, count(*) AS n,
        |         sum(CAST(a.x * b.x AS DECIMAL(27,7))) AS s
        |       FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.i <= b.i
        |       GROUP BY a.i, b.i)
        |SELECT m2.i, m2.j,
        |  floor((floor(CAST(s AS DOUBLE) / n * 1e6 + 0.5) / 1e6 - ma.mu * mb.mu)
        |        * 1e6 + 0.5) / 1e6 AS cov
        |FROM m2 JOIN mu ma ON ma.i = m2.i JOIN mu mb ON mb.i = m2.j
        |ORDER BY m2.i, m2.j""".stripMargin,

    // probe side: non-overlapping 6-token eval windows (stride 6);
    // corpus side: stride-1 6-grams distinct per doc; token-aligned
    // verbatim hit = equality
    "d135_phrase_contamination" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |ph AS (SELECT DISTINCT unnest([array_to_string(t[i:i+5], ' ') for i in range(1, len(t)-4, 6)]) AS p
        |       FROM toks WHERE doc_id % 25 = 0 AND len(t) >= 6),
        |cg AS (SELECT doc_id, unnest(list_distinct([array_to_string(t[i:i+5], ' ') for i in range(1, len(t)-4)])) AS p
        |       FROM toks WHERE doc_id % 25 <> 0 AND len(t) >= 6),
        |hits AS (SELECT cg.doc_id, count(*) AS n_hits
        |         FROM cg JOIN ph USING (p) GROUP BY cg.doc_id)
        |SELECT doc_id, n_hits FROM hits ORDER BY doc_id""".stripMargin,

    // the water-filling solve replayed in SQL: T = min(n/p), per-stratum
    // threshold floor(p*T/n * 2^20) as 5-hex — identical IEEE op order,
    // so both engines compare against the same literal threshold
    "d136_target_mix" ->
      """WITH tgt AS (SELECT doc_id, lang,
        |  CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.2
        |            WHEN 'es' THEN 0.15 WHEN 'de' THEN 0.15 END AS p
        |  FROM documents),
        |c AS (SELECT lang, p, count(*) AS n FROM tgt WHERE p IS NOT NULL GROUP BY lang, p),
        |tv AS (SELECT min(n / p) AS t_total FROM c),
        |th AS (SELECT lang,
        |  CASE WHEN CAST(floor(p * t_total / n * 1048576) AS BIGINT) >= 1048576 THEN 'g'
        |       ELSE printf('%05x', CAST(floor(p * t_total / n * 1048576) AS BIGINT)) END AS thresh
        |  FROM c, tv)
        |SELECT d.doc_id, d.lang FROM documents d JOIN th USING (lang)
        |WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 5) < th.thresh
        |ORDER BY d.doc_id""".stripMargin,

    // t63's quality CTE + a per-source top-k window; identical md5
    // tie-break on both sides
    "d132_source_cap" ->
      """WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
        |parts AS (SELECT doc_id,
        |  least(len(t) / 50.0, 1.0) AS len_score,
        |  round(CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / length(text), 4) AS alpha,
        |  round(CAST(len([x for x in t if x = 'the' OR x = 'a']) AS DOUBLE) / len(t), 4) AS stop
        |  FROM toks),
        |q AS (SELECT doc_id, round(greatest(0.0, least(1.0,
        |  (len_score + alpha + (1.0 - abs(stop - 0.15))) / 3.0)), 4) AS quality FROM parts),
        |d AS (SELECT q.doc_id, doc.source, q.quality FROM q JOIN documents doc USING (doc_id)),
        |r AS (SELECT doc_id, source, quality, row_number() OVER (
        |  PARTITION BY source ORDER BY quality DESC, md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM d)
        |SELECT doc_id, source, quality FROM r WHERE rk <= 10
        |ORDER BY source, quality DESC, doc_id""".stripMargin,

    // identical unit-cost Levenshtein in both engines; the ratio uses the
    // portable floor form
    "d129_pair_explain" ->
      s"""WITH $simHashPairsCte,
         |j AS (SELECT p.id_a, p.id_b, a.text AS ta, b.text AS tb
         |  FROM p JOIN documents a ON a.doc_id = p.id_a
         |  JOIN documents b ON b.doc_id = p.id_b)
         |SELECT id_a, id_b,
         |  CAST(length(ta) AS BIGINT) AS len_a, CAST(length(tb) AS BIGINT) AS len_b,
         |  CAST(levenshtein(ta, tb) AS BIGINT) AS edit_distance,
         |  floor(CAST(levenshtein(ta, tb) AS DOUBLE) / greatest(length(ta), length(tb), 1) * 1e6 + 0.5) / 1e6 AS edit_ratio
         |FROM j ORDER BY id_a, id_b""".stripMargin,

    // one violation count per named constraint; NULL predicate = violation
    "q127_data_quality" ->
      """WITH rowc AS (
        |  SELECT 'l_quantity_in_1_50' AS "check", CAST(sum(CASE WHEN coalesce(l_quantity BETWEEN 1 AND 50, false) THEN 0 ELSE 1 END) AS BIGINT) AS n_violations FROM lineitem
        |  UNION ALL SELECT 'l_quantity_le_30', CAST(sum(CASE WHEN coalesce(l_quantity <= 30, false) THEN 0 ELSE 1 END) AS BIGINT) FROM lineitem
        |  UNION ALL SELECT 'l_price_positive', CAST(sum(CASE WHEN coalesce(l_extendedprice > 0, false) THEN 0 ELSE 1 END) AS BIGINT) FROM lineitem
        |  UNION ALL SELECT 'l_shipdate_nonnull', CAST(sum(CASE WHEN l_shipdate IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) FROM lineitem),
        |uq AS (SELECT 'orders_key_unique' AS "check",
        |  CAST(coalesce(sum(n - 1), 0) AS BIGINT) AS n_violations
        |  FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey)),
        |fk AS (SELECT 'lineitem_order_fk' AS "check", CAST(count(*) AS BIGINT) AS n_violations
        |  FROM (SELECT l_orderkey FROM lineitem WHERE l_orderkey IS NOT NULL) l
        |  ANTI JOIN (SELECT o_orderkey AS l_orderkey FROM orders) o USING (l_orderkey))
        |SELECT * FROM rowc UNION ALL SELECT * FROM uq UNION ALL SELECT * FROM fk
        |ORDER BY "check"""".stripMargin,

    // last-per-day via (ts, id)-desc row_number; the grid from
    // generate_series; forward fill via IGNORE NULLS last_value
    "e126_resample_ffill" ->
      """WITH e AS (SELECT user_id AS u, CAST(ts AS DATE) AS d, ts, event_id, value FROM events),
        |r AS (SELECT u, d, value,
        |  row_number() OVER (PARTITION BY u, d ORDER BY ts DESC, event_id DESC) AS rn FROM e),
        |dv AS (SELECT u, d, value AS dayv FROM r WHERE rn = 1),
        |cnt AS (SELECT u, d, count(*) AS n_events FROM e GROUP BY u, d),
        |span AS (SELECT u, min(d) AS d0, max(d) AS d1 FROM e GROUP BY u),
        |grid AS (SELECT u, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d FROM span),
        |j AS (SELECT g.u, g.d, coalesce(c.n_events, 0) AS n_events, dv.dayv
        |  FROM grid g LEFT JOIN cnt c ON g.u = c.u AND g.d = c.d
        |  LEFT JOIN dv ON g.u = dv.u AND g.d = dv.d),
        |f AS (SELECT u, d, n_events,
        |  last_value(dayv IGNORE NULLS) OVER (PARTITION BY u ORDER BY d ROWS UNBOUNDED PRECEDING) AS value_ffill
        |  FROM j)
        |SELECT u AS user_id, d AS day, CAST(n_events AS BIGINT) AS n_events, value_ffill
        |FROM f ORDER BY user_id, day""".stripMargin,

    // last-change-wins compaction over the log, anti-join + union apply;
    // U@1-then-D@2 keys must vanish
    "q121_cdc_apply" ->
      """WITH base AS (SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer),
        |chg AS (
        |  SELECT c_custkey, c_name, c_acctbal + 1000 AS c_acctbal, c_mktsegment, 'U' AS op, 1 AS ord
        |    FROM base WHERE c_custkey % 10 = 0
        |  UNION ALL SELECT c_custkey, c_name, c_acctbal, c_mktsegment, 'D', 2
        |    FROM base WHERE c_custkey % 20 = 0
        |  UNION ALL SELECT c_custkey + 100000, c_name, c_acctbal, c_mktsegment, 'I', 1
        |    FROM base WHERE c_custkey % 25 = 0),
        |last AS (SELECT * FROM (
        |  SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY ord DESC, op) AS rn FROM chg)
        |  WHERE rn = 1),
        |kept AS (SELECT b.* FROM base b ANTI JOIN last l USING (c_custkey)),
        |ins AS (SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM last WHERE op <> 'D')
        |SELECT * FROM kept UNION ALL SELECT * FROM ins ORDER BY c_custkey""".stripMargin,

    // the e119 chain + integer-midpoint as-of instant + interval
    // containment (integer // — epoch ns exceed double's exact range)
    "e122_dim_asof" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  epoch_ns(ts) AS ts_ns FROM events),
        |sel AS (SELECT CAST(min(ts_ns) + (max(ts_ns) - min(ts_ns)) // 2 AS BIGINT) AS as_of FROM e),
        |f AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |    OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)),
        |r AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
        |    ROWS UNBOUNDED PRECEDING) AS run FROM f),
        |g AS (SELECT user_id, run, min(event_type) AS event_type,
        |  CAST(min(ts_ns) AS BIGINT) AS valid_from, count(*) AS n_events
        |  FROM r GROUP BY user_id, run),
        |v AS (SELECT user_id, event_type, valid_from,
        |  CAST(lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, run) AS BIGINT) AS valid_to,
        |  n_events FROM g)
        |SELECT user_id, event_type, valid_from, n_events,
        |  valid_to IS NULL AS is_current
        |FROM v, sel
        |WHERE valid_from <= as_of AND (valid_to IS NULL OR valid_to > as_of)
        |ORDER BY user_id, valid_from, event_type""".stripMargin,

    // the s30 bucket-replay oracle generalized to every node as its own
    // query (rank ≤ k per node, both directions)
    "s170_knn_graph" -> lshOracle(planes = 6, tables = 2, dim = 64, k = 5,
      queryPred = "TRUE", outId = "node_id"),

    // append ≡ rebuild is the operator's contract, so the oracle is the
    // FULL-rebuild replay over the union corpus — hash-exact means the
    // incremental path provably lost (and invented) nothing
    "s172_knn_graph_append" -> lshOracle(planes = 6, tables = 2, dim = 64,
      k = 5, queryPred = "TRUE", outId = "node_id"),

    // s170's CTE chain + two unrolled vote rounds on DECIMAL(14,4) weights
    // (exact sums → portable argmax); seeds clamped via NOT IN
    "s173_label_propagation" ->
      s"""WITH ${lshKnnCtes(planes = 6, tables = 2, dim = 64,
             queryPred = "TRUE", outId = "node_id")},
         |g AS MATERIALIZED (SELECT node_id, neighbor_id,
         |  CAST(round(cosine, 4) AS DECIMAL(14,4)) AS w FROM ranked WHERE rn <= 5),
         |seeds AS MATERIALIZED (SELECT vec_id AS id, label AS lab FROM embeddings WHERE vec_id % 3 <> 0),
         |v1 AS (SELECT node_id, lab, sum(w) AS v FROM g JOIN seeds ON seeds.id = g.neighbor_id GROUP BY 1, 2),
         |w1 AS (SELECT node_id AS id, lab FROM
         |  (SELECT node_id, lab, row_number() OVER (PARTITION BY node_id ORDER BY v DESC, lab) AS rn FROM v1)
         |  WHERE rn = 1),
         |l1 AS MATERIALIZED (SELECT * FROM seeds
         |  UNION ALL SELECT * FROM w1 WHERE id NOT IN (SELECT id FROM seeds)),
         |v2 AS (SELECT node_id, lab, sum(w) AS v FROM g JOIN l1 ON l1.id = g.neighbor_id GROUP BY 1, 2),
         |w2 AS (SELECT node_id AS id, lab FROM
         |  (SELECT node_id, lab, row_number() OVER (PARTITION BY node_id ORDER BY v DESC, lab) AS rn FROM v2)
         |  WHERE rn = 1),
         |l2 AS MATERIALIZED (SELECT * FROM seeds
         |  UNION ALL SELECT * FROM w2 WHERE id NOT IN (SELECT id FROM seeds))
         |SELECT e.vec_id, e.label, l2.lab AS pred_label, (e.label = l2.lab) AS agree
         |FROM embeddings e LEFT JOIN l2 ON l2.id = e.vec_id
         |WHERE e.vec_id % 3 = 0 ORDER BY e.vec_id""".stripMargin,

    // s170's CTE chain extended by the cosine gate (on the same 4dp
    // rounded value the engine filters), mutuality, and the d73 recursive
    // closure; singletons filled from the corpus, sizes recounted. The
    // multiply-referenced CTEs are MATERIALIZED: DuckDB re-evaluates plain
    // CTEs per reference, and `edges` is referenced by every recursion
    // step — unhinted, the whole LSH+cosine chain re-runs per iteration
    // (measured 7.5 min → 20 s at sf0.1 with the hints)
    "d171_mutual_knn_clusters" ->
      s"""WITH RECURSIVE ${lshKnnCtes(planes = 6, tables = 2, dim = 64,
             queryPred = "TRUE", outId = "node_id")},
         |g AS MATERIALIZED (SELECT node_id, neighbor_id FROM ranked
         |  WHERE rn <= 5 AND round(cosine, 4) >= 0.35),
         |mutual AS (SELECT x.node_id AS a, x.neighbor_id AS b FROM g x
         |  JOIN g y ON x.node_id = y.neighbor_id AND x.neighbor_id = y.node_id
         |  WHERE x.node_id < x.neighbor_id),
         |edges AS MATERIALIZED (SELECT a, b FROM mutual UNION SELECT b, a FROM mutual),
         |reach(node, lbl) AS (SELECT a, a FROM edges
         |  UNION SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.lbl),
         |comp AS MATERIALIZED (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node),
         |allc AS MATERIALIZED (SELECT node AS vec_id, cluster_id FROM comp
         |  UNION ALL SELECT vec_id, vec_id FROM embeddings
         |  WHERE vec_id NOT IN (SELECT node FROM comp)),
         |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM allc GROUP BY 1)
         |SELECT a.vec_id, a.cluster_id, sz.cluster_size
         |FROM allc a JOIN sz USING (cluster_id) ORDER BY a.vec_id""".stripMargin,

    // both aggregation paths replayed: per-slice decimal moments merged
    // algebraically, the full-recompute moments beside them, and the
    // merged-equals-full assertion as a column (the q163 pattern). The
    // decimal casts/sums are the q09 recipe, so every derived double is
    // identical in both engines
    "p170_incremental_stats" -> {
      val fields = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      def sk(alias: String, pred: String): String = fields.map { c =>
        s"""SELECT '$c' AS field, count($c) AS n, count(*) - count($c) AS n_na,
           |    min(CAST($c AS DECIMAL(18,2))) AS mn, max(CAST($c AS DECIMAL(18,2))) AS mx,
           |    coalesce(sum(CAST($c AS DECIMAL(18,2))), 0) AS s,
           |    coalesce(sum(CAST($c AS DECIMAL(18,2)) * CAST($c AS DECIMAL(18,2))), 0) AS sq
           |  FROM lineitem $pred""".stripMargin
      }.mkString(s"$alias AS (", " UNION ALL ", ")")
      s"""WITH ${sk("mb", "WHERE l_shipdate < TIMESTAMP '1997-01-01 00:00:00'")},
         |${sk("md", "WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'")},
         |${sk("mf", "")},
         |mm AS (SELECT field, CAST(sum(n) AS BIGINT) AS n, CAST(sum(n_na) AS BIGINT) AS n_na, min(mn) AS mn, max(mx) AS mx,
         |  sum(s) AS s, sum(sq) AS sq FROM (SELECT * FROM mb UNION ALL SELECT * FROM md) GROUP BY field),
         |rep AS (SELECT field, n, n_na, round(CAST(mn AS DOUBLE), 4) AS min, round(CAST(mx AS DOUBLE), 4) AS max,
         |  round(CAST(s AS DOUBLE), 2) AS sum,
         |  CASE WHEN n > 0 THEN round(CAST(s AS DOUBLE) / n, 6) END AS mean,
         |  CASE WHEN n > 1 THEN round(sqrt(greatest((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1), 0.0)), 6) END AS stdev
         |  FROM mm),
         |repf AS (SELECT field, n AS f_n, round(CAST(s AS DOUBLE), 2) AS f_sum,
         |  CASE WHEN n > 0 THEN round(CAST(s AS DOUBLE) / n, 6) END AS f_mean,
         |  CASE WHEN n > 1 THEN round(sqrt(greatest((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1), 0.0)), 6) END AS f_stdev
         |  FROM mf)
         |SELECT rep.field, n, n_na, min, max, sum, mean, stdev,
         |  (n = f_n AND sum = f_sum AND mean = f_mean AND stdev = f_stdev) AS matches_full
         |FROM rep JOIN repf ON rep.field = repf.field
         |ORDER BY rep.field""".stripMargin
    },

    // base-range bins + add-0.5 probabilities + decimal-rounded terms —
    // every float op in the same IEEE order as the engine's. SHARED by
    // p174 (batch) and q175 (streaming current side): stream ≡ batch is
    // exactly what the same-oracle equality witnesses
    "p174_psi_drift" -> psiEnZhOracle,

    "q175_stream_psi" -> psiEnZhOracle,



    // the d73 pair chain up to `pairs` (already a < b), then the
    // canonical-orientation triangle join + degrees + the portable
    // coefficient
    "d173_triangle_stats" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)])) AS s FROM toks),
        |shsz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS MATERIALIZED (SELECT id_a, id_b FROM inter
        |          JOIN shsz sa ON sa.doc_id = id_a JOIN shsz sb ON sb.doc_id = id_b
        |          WHERE n * 1.0 / (sa.sz + sb.sz - n) >= 0.8),
        |tris AS (SELECT e1.id_a AS x, e1.id_b AS y, e2.id_b AS z
        |  FROM pairs e1 JOIN pairs e2 ON e2.id_a = e1.id_b
        |  JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
        |tpn AS (SELECT id, count(*) AS t FROM
        |  (SELECT unnest([x, y, z]) AS id FROM tris) GROUP BY id),
        |deg AS (SELECT id, count(*) AS degree FROM
        |  (SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs) GROUP BY id)
        |SELECT deg.id, deg.degree, CAST(coalesce(tpn.t, 0) AS BIGINT) AS triangles,
        |  CASE WHEN deg.degree < 2 THEN 0.0
        |       ELSE floor(2.0 * coalesce(tpn.t, 0) / (deg.degree * (deg.degree - 1)) * 1e6 + 0.5) / 1e6 END AS clustering
        |FROM deg LEFT JOIN tpn USING (id) ORDER BY deg.id""".stripMargin,

    // d73's recursive-CC chain + singleton fill + the portable 1/size
    // weight; the d171 MATERIALIZED lesson applied to the multi-referenced
    // CTEs (edges feeds every recursion step)
    "d172_dup_weights" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)])) AS s FROM toks),
        |shsz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM inter
        |          JOIN shsz sa ON sa.doc_id = id_a JOIN shsz sb ON sb.doc_id = id_b
        |          WHERE n * 1.0 / (sa.sz + sb.sz - n) >= 0.8),
        |edges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(node, lbl) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.lbl),
        |comp AS MATERIALIZED (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node),
        |allc AS MATERIALIZED (SELECT node AS doc_id, cluster_id FROM comp
        |  UNION ALL SELECT doc_id, doc_id FROM documents
        |  WHERE doc_id NOT IN (SELECT node FROM comp)),
        |csz AS (SELECT cluster_id, count(*) AS cluster_size FROM allc GROUP BY 1)
        |SELECT a.doc_id, a.cluster_id, csz.cluster_size,
        |  floor(1e6 / csz.cluster_size + 0.5) / 1e6 AS weight
        |FROM allc a JOIN csz USING (cluster_id) ORDER BY a.doc_id""".stripMargin,

    // the same (c desc, w) top-N cut, ranks by row_number, decimal term
    // sums, and the rounded slope feeding the intercept
    "t174_zipf_fit" ->
      """WITH tok AS (SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS w FROM documents),
        |c AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        |top AS (SELECT w, c FROM c ORDER BY c DESC, w LIMIT 1000),
        |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rank FROM top),
        |t AS (SELECT CAST(ln(CAST(rank AS DOUBLE)) AS DECIMAL(27,7)) AS x,
        |  CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(27,7)) AS y,
        |  CAST(ln(CAST(rank AS DOUBLE)) * ln(CAST(c AS DOUBLE)) AS DECIMAL(27,7)) AS xy,
        |  CAST(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE)) AS DECIMAL(27,7)) AS xx FROM r),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |  CAST(sum(xy) AS DOUBLE) AS sxy, CAST(sum(xx) AS DOUBLE) AS sxx FROM t)
        |SELECT n AS n_tokens,
        |  floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e6 + 0.5) / 1e6 AS slope,
        |  floor((sy - (floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e6 + 0.5) / 1e6) * sx) / n * 1e6 + 0.5) / 1e6 AS intercept
        |FROM s""".stripMargin,

    // t169's rank re-derivation per language: partitioned-window ranks for
    // the median, the same over per-group |x − med| for the MAD
    "t171_robust_z_by_lang" ->
      """WITH toks AS (SELECT doc_id, lang, text, string_split(text, ' ') AS t FROM documents),
        |parts AS (SELECT doc_id, lang,
        |  least(len(t) / 50.0, 1.0) AS len_score,
        |  round(CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / length(text), 4) AS alpha,
        |  round(CAST(len([x for x in t if x = 'the' OR x = 'a']) AS DOUBLE) / len(t), 4) AS stop
        |  FROM toks),
        |s AS (SELECT doc_id, lang, round(greatest(0.0, least(1.0,
        |  (len_score + alpha + (1.0 - abs(stop - 0.15))) / 3.0)), 4) AS quality FROM parts),
        |r1 AS (SELECT lang, quality,
        |  row_number() OVER (PARTITION BY lang ORDER BY quality) - 1 AS idx,
        |  count(*) OVER (PARTITION BY lang) AS n FROM s),
        |med AS (SELECT lang, quality AS med FROM r1
        |        WHERE idx = greatest(CAST(ceil(0.5 * n) AS BIGINT) - 1, 0)),
        |d AS (SELECT s.lang, abs(s.quality - med.med) AS dd FROM s JOIN med USING (lang)),
        |r2 AS (SELECT lang, dd,
        |  row_number() OVER (PARTITION BY lang ORDER BY dd) - 1 AS idx,
        |  count(*) OVER (PARTITION BY lang) AS n FROM d),
        |mad AS (SELECT lang, dd AS mad FROM r2
        |        WHERE idx = greatest(CAST(ceil(0.5 * n) AS BIGINT) - 1, 0))
        |SELECT s.doc_id, s.lang, s.quality,
        |  CASE WHEN mad.mad = 0 THEN 0.0
        |       ELSE floor((s.quality - med.med) / mad.mad * 1e6 + 0.5) / 1e6 END AS z
        |FROM s JOIN med USING (lang) JOIN mad USING (lang) ORDER BY doc_id""".stripMargin,

    // the streaming state is an exact decimal sketch, so the oracle is a
    // plain batch aggregation + the p170/q09 derivations
    "q172_stream_moments" ->
      """WITH m AS (SELECT event_type, count(value) AS n,
        |    count(*) - count(value) AS n_na,
        |    min(CAST(value AS DECIMAL(18,2))) AS mn, max(CAST(value AS DECIMAL(18,2))) AS mx,
        |    coalesce(sum(CAST(value AS DECIMAL(18,2))), 0) AS s,
        |    coalesce(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))), 0) AS sq
        |  FROM events GROUP BY event_type)
        |SELECT event_type, n, n_na,
        |  round(CAST(mn AS DOUBLE), 4) AS min, round(CAST(mx AS DOUBLE), 4) AS max,
        |  round(CAST(s AS DOUBLE), 2) AS sum,
        |  CASE WHEN n > 0 THEN round(CAST(s AS DOUBLE) / n, 6) END AS mean,
        |  CASE WHEN n > 1 THEN round(sqrt(greatest((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1), 0.0)), 6) END AS stdev
        |FROM m ORDER BY event_type""".stripMargin,

    // the t110 LM chain as a per-label classifier: model counts per
    // (label, token), matched mass via the inner token join, unseen mass
    // as the algebraic (n_tok − matched)·floor term — every ln
    // DECIMAL(27,7)-rounded pre-sum, the argmax on exact decimal scores
    "t170_nb_label_audit" ->
      """WITH d AS (SELECT doc_id, lang AS label,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t FROM documents),
        |tok AS (SELECT doc_id, label, unnest(t) AS token FROM d),
        |c AS (SELECT label, token, count(*) AS c_lt FROM tok GROUP BY 1, 2),
        |tot AS (SELECT label, CAST(sum(c_lt) AS BIGINT) AS c_l FROM c GROUP BY 1),
        |v AS (SELECT count(DISTINCT token) AS v FROM c),
        |pri AS (SELECT label, count(*) AS n_docs FROM d GROUP BY 1),
        |nt AS (SELECT count(*) AS n_total, count(DISTINCT label) AS n_labels FROM d),
        |ls AS (SELECT pri.label AS cand,
        |    CAST(ln((n_docs + 0.5) / (n_total + 0.5 * n_labels)) AS DECIMAL(27,7)) AS prior_lp,
        |    CAST(ln(0.5 / (c_l + 0.5 * v)) AS DECIMAL(27,7)) AS miss_lp
        |  FROM pri JOIN tot ON pri.label = tot.label, v, nt),
        |m AS (SELECT doc_id, c.label AS cand,
        |    sum(CAST(ln((c_lt + 0.5) / (c_l + 0.5 * v)) AS DECIMAL(27,7))) AS m_sum,
        |    count(*) AS m_cnt
        |  FROM tok JOIN c ON tok.token = c.token JOIN tot ON c.label = tot.label, v
        |  GROUP BY 1, 2),
        |pd AS (SELECT doc_id, label, len(t) AS n_tok FROM d),
        |sc AS (SELECT pd.doc_id, pd.label, ls.cand,
        |    CAST(ls.prior_lp AS DECIMAL(30,7)) + CAST(coalesce(m.m_sum, 0) AS DECIMAL(30,7)) +
        |    CAST(CAST(pd.n_tok - coalesce(m.m_cnt, 0) AS DECIMAL(10,0)) * ls.miss_lp AS DECIMAL(30,7)) AS score
        |  FROM pd CROSS JOIN ls LEFT JOIN m ON m.doc_id = pd.doc_id AND m.cand = ls.cand),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rn FROM sc)
        |SELECT doc_id, label, cand AS pred_label,
        |  floor(CAST(score AS DOUBLE) * 1e6 + 0.5) / 1e6 AS score,
        |  (label = cand) AS agree
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin
  )

  /** Oracle for d24: recompute the 60-bit md5 simhash per doc in SQL, then
    * naive all-pairs Hamming distance (exactly equals the banded search for
    * maxDist 3 < 4 bands, by pigeonhole). */
  /** CTE chain reproducing the simhash near-dup PAIRS relation `p`
    * (dist ≤ 3) — shared by the d24 oracle and d128's graph oracle. */
  private def simHashPairsCte: String = {
    val bits = graft.ops.Dedup.SimHashBits
    val votes = (0 until bits)
      .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b").mkString(", ")
    val fp = (0 until bits)
      .map(b => s"CASE WHEN b$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    s"""toks AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents),
       |h AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM toks),
       |votes AS (SELECT doc_id, $votes FROM h GROUP BY doc_id),
       |fp AS (SELECT doc_id, $fp AS simhash FROM votes),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS dist
       |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id AND
       |    bit_count(xor(a.simhash, b.simhash)) <= 3)""".stripMargin
  }

  private def simHashOracle: String =
    s"""WITH $simHashPairsCte
       |SELECT id_a, id_b, dist FROM p ORDER BY id_a, id_b""".stripMargin

  /** d130 oracle: the simhash pair graph → recursive-CTE connected
    * components → split of coalesce(component, own id) via md5 against the
    * cumulative [[graft.ops.Sampling.hex5]] thresholds — the exact
    * constants the engine compares against. */
  private def clusterSplitOracle(trainCum: Double, valCum: Double): String = {
    val t1 = graft.ops.Sampling.hex5(trainCum)
    val t2 = graft.ops.Sampling.hex5(valCum)
    s"""WITH RECURSIVE $simHashPairsCte,
       |edges AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
       |reach(node, lbl) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.lbl),
       |comp AS (SELECT node, min(lbl) AS comp FROM reach GROUP BY node),
       |rep AS (SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS rep_id
       |        FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
       |SELECT doc_id, rep_id,
       |  CASE WHEN substr(md5(CAST(rep_id AS VARCHAR)), 1, 5) < '$t1' THEN 'train'
       |       WHEN substr(md5(CAST(rep_id AS VARCHAR)), 1, 5) < '$t2' THEN 'val'
       |       ELSE 'test' END AS split
       |FROM rep ORDER BY doc_id""".stripMargin
  }

  /** d128 oracle: the simhash pair graph symmetrized, then the engine's
    * PageRank iteration replayed bit-for-bit by a recursive CTE. */
  private def pageRankOracle(iters: Int): String =
    s"""WITH RECURSIVE $simHashPairsCte,
       |sym AS (SELECT id_a AS n, id_b AS m FROM p UNION ALL SELECT id_b, id_a FROM p),
       |deg AS (SELECT n AS node, count(*) AS deg FROM sym GROUP BY n),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS nv FROM deg),
       |pr AS (
       |  SELECT 0 AS it, node, deg, floor(1.0 / nv * 1e6 + 0.5) / 1e6 AS pr
       |  FROM deg, nn
       |  UNION ALL
       |  SELECT s.it + 1, d.node, d.deg,
       |    floor((0.15 / nn.nv + 0.85 * CAST(s.s AS DOUBLE)) * 1e6 + 0.5) / 1e6
       |  FROM (SELECT p2.it, sym.m AS node,
       |          sum(CAST(floor(p2.pr / p2.deg * 1e6 + 0.5) / 1e6 AS DECIMAL(27,7))) AS s
       |        FROM pr p2 JOIN sym ON sym.n = p2.node
       |        WHERE p2.it < $iters GROUP BY p2.it, sym.m) s
       |  JOIN deg d ON d.node = s.node, nn)
       |SELECT node, pr FROM pr WHERE it = $iters ORDER BY node""".stripMargin

  /** Oracle for s30: same hyperplane literals as the engine (inlined), same
    * sign-signature bucketing, same cosine rerank as the s29 oracle. */
  /** OR-amplified LSH top-k oracle: table `t` buckets with hyperplane rows
    * [t·planes, (t+1)·planes) of planeMatrix(tables·planes, dim) — identical
    * to Similarity.lshTopK — candidates unioned across tables (UNION dedups,
    * mirroring the pre-rerank dropDuplicates), then exact cosine rerank. */
  /** t102 oracle: the frozen merge list re-applied in DuckDB — each word
    * rendered as the boundary-wrapped symbol string and every merge ONE
    * literal `replace`, nested in rank order (string replace is
    * left-to-right non-overlapping in both engines — the applyMerge fold
    * semantics, spec-pinned). */
  /** Shared CTE chain of the BPE-encode reproduction (word stream -> frozen
    * merge replay -> per-doc token stats as `g`); t102 selects `g` directly,
    * t117 aggregates it per language. */
  private def bpeEncodeCte(merges: Seq[(String, String)], cap: Int): String = {
    // the same non-printable \u0001/\u0002 symbol delimiters as Bpe.encode,
    // embedded as raw bytes in the SQL literals (DuckDB passes them through)
    val bo = "\u0001"; val bc = "\u0002"
    val fused = merges.foldLeft("f") { case (c, (a, b)) =>
      s"replace($c, '$bo$a$bc$bo$b$bc', '$bo$a$b$bc')"
    }
    s"""w0 AS (SELECT doc_id,
       |    unnest(string_split(text, ' ')) AS w,
       |    generate_subscripts(string_split(text, ' '), 1) AS wpos
       |  FROM documents),
       |w AS (SELECT * FROM w0 WHERE w <> ''
       |  AND NOT contains(w, chr(1)) AND NOT contains(w, chr(2))),
       |v AS (SELECT DISTINCT w FROM w),
       |e0 AS (SELECT w, '$bo' || array_to_string([w[i] for i in range(1, len(w)+1)], '$bc$bo') || '$bc' AS f FROM v),
       |e1 AS (SELECT w, $fused AS f FROM e0),
       |enc AS (SELECT w, string_split(f[2:len(f)-1], '$bc$bo') AS toks FROM e1),
       |j AS (SELECT doc_id, wpos, toks FROM w JOIN enc USING (w)),
       |g AS (SELECT doc_id, CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
       |  array_to_string(flatten(list(toks ORDER BY wpos))[1:$cap], ',') AS tokens_head
       |  FROM j GROUP BY doc_id)""".stripMargin
  }

  private def bpeEncodeOracle(merges: Seq[(String, String)], cap: Int): String =
    s"""WITH ${bpeEncodeCte(merges, cap)}
       |SELECT doc_id, n_tokens, tokens_head FROM g ORDER BY doc_id""".stripMargin

  /** t117 oracle: the same encode chain aggregated per language with the
    * portable floor-rounded efficiency ratios. */
  private def bpeCoverageOracle(merges: Seq[(String, String)], cap: Int): String =
    s"""WITH ${bpeEncodeCte(merges, cap)},
       |d AS (SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words FROM documents),
       |jj AS (SELECT d.lang, d.n_chars, d.n_words, g.n_tokens FROM d JOIN g USING (doc_id)),
       |a AS (SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(sum(n_words) AS BIGINT) AS n_words, CAST(sum(n_chars) AS BIGINT) AS n_chars
       |  FROM jj GROUP BY lang)
       |SELECT lang, n_docs, n_tokens, n_words, n_chars,
       |  floor(CAST(n_chars AS DOUBLE) / n_tokens * 1e6 + 0.5) / 1e6 AS bytes_per_token,
       |  floor(CAST(n_tokens AS DOUBLE) / n_words * 1e6 + 0.5) / 1e6 AS tokens_per_word
       |FROM a ORDER BY lang""".stripMargin

  /** s120 oracle: the md5-grid PQ codebook inlined ONCE as a nested list
    * literal (every component n/1024 — exact in decimal AND double, so
    * the decimal→double promotion is lossless); codes = first-position
    * argmin per subspace, ADC = per-subspace query-table lookup summed in
    * subspace order, re-rank = the s29 cosine chain. Every reduction is a
    * sequential list_sum in the same index order as the engine's
    * left-assoc folds — bit-identical doubles end to end. */
  private def pqOracle(m: Int, kc: Int, subDim: Int, kTop: Int, expand: Int): String = {
    val cb = graft.ops.Similarity.pqCodebook(m, kc, subDim)
    def num(d: Double) = java.math.BigDecimal.valueOf(d).toPlainString
    val cLit = cb.map(sc => sc.map(cv => cv.map(num).mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")).mkString("[", ", ", "]")
    // per-subspace 16-entry squared-L2 distance list for vector column $v
    def dsFor(v: String) =
      s"[ list_sum([ ($v[(s-1)*$subDim + j] - C[s][c][j]) * ($v[(s-1)*$subDim + j] - C[s][c][j]) for j in range(1, ${subDim + 1}) ]) for c in range(1, ${kc + 1}) ]"
    val dsE = dsFor("e"); val dsQ = dsFor("qe")
    s"""WITH cb AS (SELECT $cLit AS C),
       |v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
       |codes AS (SELECT vec_id,
       |  [ list_position($dsE, list_min($dsE)) for s in range(1, ${m + 1}) ] AS codes
       |  FROM v, cb),
       |qs AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 8),
       |coarse AS (SELECT query_id, c.vec_id AS neighbor_id,
       |  list_sum([ $dsQ[c.codes[s]] for s in range(1, ${m + 1}) ]) AS adc
       |  FROM qs, cb, codes c WHERE c.vec_id <> query_id),
       |cand AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rn
       |  FROM coarse) WHERE rn <= ${kTop * expand}),
       |ex AS (SELECT cand.query_id, cand.neighbor_id,
       |  list_sum([qs.qe[i] * ce.e[i] for i in range(1, len(qs.qe) + 1)]) /
       |  (sqrt(list_sum([qs.qe[i] * qs.qe[i] for i in range(1, len(qs.qe) + 1)])) *
       |   sqrt(list_sum([ce.e[i] * ce.e[i] for i in range(1, len(ce.e) + 1)]))) AS cosine
       |  FROM cand JOIN qs USING (query_id) JOIN v ce ON ce.vec_id = cand.neighbor_id),
       |r AS (SELECT query_id, neighbor_id, cosine,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk FROM ex)
       |SELECT query_id, neighbor_id, round(cosine, 4) AS cosine FROM r
       |WHERE rk <= $kTop ORDER BY query_id, neighbor_id""".stripMargin
  }

  /** s123 oracle: the s100 bucket derivation + the s120 PQ chain with the
    * coarse pass restricted to the query's own bucket (the equi-join the
    * engine runs). Same sequential list_sums, same first-position argmin,
    * same tie-broken windows — bit-identical end to end. */
  private def lshPqOracle(m: Int, kc: Int, subDim: Int, planes: Int, dim: Int,
                          kTop: Int, expand: Int): String = {
    val cb = graft.ops.Similarity.pqCodebook(m, kc, subDim)
    val mat = graft.ops.Similarity.planeMatrix(planes, dim)
    def num(d: Double) = java.math.BigDecimal.valueOf(d).toPlainString
    def lst(a: Array[Double]): String = a.map(num).mkString("[", ", ", "]")
    val bucketExpr = (0 until planes).map { p =>
      s"(CASE WHEN list_sum([e[i] * (${lst(mat(p))})[i] for i in range(1, len(e)+1)]) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    val cLit = cb.map(sc => sc.map(cv => cv.map(num).mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")).mkString("[", ", ", "]")
    def dsFor(v: String) =
      s"[ list_sum([ ($v[(s-1)*$subDim + j] - C[s][c][j]) * ($v[(s-1)*$subDim + j] - C[s][c][j]) for j in range(1, ${subDim + 1}) ]) for c in range(1, ${kc + 1}) ]"
    val dsE = dsFor("e"); val dsQ = dsFor("qe")
    s"""WITH cbk AS (SELECT $cLit AS C),
       |v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
       |b AS (SELECT vec_id, e, CAST($bucketExpr AS BIGINT) AS bkt FROM v),
       |codes AS (SELECT vec_id, bkt,
       |  [ list_position($dsE, list_min($dsE)) for s in range(1, ${m + 1}) ] AS codes
       |  FROM b, cbk),
       |qs AS (SELECT vec_id AS query_id, e AS qe, bkt AS qbkt FROM b WHERE vec_id < 8),
       |coarse AS (SELECT query_id, c.vec_id AS neighbor_id,
       |  list_sum([ $dsQ[c.codes[s]] for s in range(1, ${m + 1}) ]) AS adc
       |  FROM qs, cbk, codes c WHERE c.bkt = qs.qbkt AND c.vec_id <> query_id),
       |cand AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rn
       |  FROM coarse) WHERE rn <= ${kTop * expand}),
       |ex AS (SELECT cand.query_id, cand.neighbor_id,
       |  list_sum([qs.qe[i] * ce.e[i] for i in range(1, len(qs.qe) + 1)]) /
       |  (sqrt(list_sum([qs.qe[i] * qs.qe[i] for i in range(1, len(qs.qe) + 1)])) *
       |   sqrt(list_sum([ce.e[i] * ce.e[i] for i in range(1, len(ce.e) + 1)]))) AS cosine
       |  FROM cand JOIN qs USING (query_id) JOIN v ce ON ce.vec_id = cand.neighbor_id),
       |r AS (SELECT query_id, neighbor_id, cosine,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk FROM ex)
       |SELECT query_id, neighbor_id, round(cosine, 4) AS cosine FROM r
       |WHERE rk <= $kTop ORDER BY query_id, neighbor_id""".stripMargin
  }

  /** s100 oracle: single-table sign-signature buckets (rows [0, planes) of
    * the md5 plane matrix, the [[graft.ops.Similarity.lshBucket]]
    * derivation), then per-(bucket, dimension) means with the component sum
    * taken through DECIMAL(27,7) — both engines round double→decimal
    * half-away-from-zero, so the sum (hence the mean) is reduction-order
    * independent and hash-comparable. */
  private def centroidOracle(planes: Int, dim: Int): String = {
    val mat = graft.ops.Similarity.planeMatrix(planes, dim)
    def lst(a: Array[Double]): String =
      a.map(w => java.math.BigDecimal.valueOf(w).toPlainString).mkString("[", ", ", "]")
    val bucketExpr = (0 until planes).map { p =>
      s"(CASE WHEN list_sum([e[i] * (${lst(mat(p))})[i] for i in range(1, len(e)+1)]) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH v AS (SELECT [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
       |b AS (SELECT e, CAST($bucketExpr AS BIGINT) AS bucket FROM v),
       |x AS (SELECT bucket, i - 1 AS dim_pos, CAST(e[i] AS DECIMAL(27,7)) AS comp
       |  FROM b, (SELECT unnest(range(1, ${dim + 1})) AS i) u),
       |g AS (SELECT bucket, dim_pos, count(*) AS n_vectors, sum(comp) AS s
       |  FROM x GROUP BY bucket, dim_pos)
       |SELECT bucket, dim_pos, n_vectors,
       |  floor(CAST(s AS DOUBLE) / n_vectors * 1e6 + 0.5) / 1e6 AS centroid
       |FROM g ORDER BY bucket, dim_pos""".stripMargin
  }

  /** Shared CTE chain (v → buckets → candidates → exact cosine → per-query
    * rank) replaying the md5-hyperplane LSH search in SQL; composed by the
    * s30/s170 top-k oracles and d171's cluster oracle. */
  private def lshKnnCtes(planes: Int, tables: Int, dim: Int,
                         queryPred: String, outId: String): String = {
    val mat = graft.ops.Similarity.planeMatrix(planes * tables, dim)
    def lst(a: Array[Double]): String =
      a.map(w => java.math.BigDecimal.valueOf(w).toPlainString).mkString("[", ", ", "]")
    def bucketExpr(tbl: Int): String = (0 until planes).map { p =>
      s"(CASE WHEN list_sum([e[i] * (${lst(mat(tbl * planes + p))})[i] for i in range(1, len(e)+1)]) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    val bucketCols = (0 until tables).map(tb => s"${bucketExpr(tb)} AS b$tb").mkString(", ")
    val cand = (0 until tables).map(tb =>
      s"SELECT q.vec_id AS $outId, c.vec_id AS neighbor_id FROM b q JOIN b c ON q.b$tb = c.b$tb " +
        s"WHERE $queryPred AND c.vec_id <> q.vec_id")
      .mkString(" UNION ")
    s"""v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
       |b AS (SELECT vec_id, e, $bucketCols FROM v),
       |cand AS ($cand),
       |scored AS (SELECT $outId, neighbor_id,
       |  list_sum([qv.e[i]*cv.e[i] for i in range(1, len(qv.e)+1)]) /
       |  (sqrt(list_sum([qv.e[i]*qv.e[i] for i in range(1, len(qv.e)+1)])) *
       |   sqrt(list_sum([cv.e[i]*cv.e[i] for i in range(1, len(cv.e)+1)]))) AS cosine
       |  FROM cand JOIN v qv ON qv.vec_id = $outId JOIN v cv ON cv.vec_id = neighbor_id),
       |ranked AS (SELECT $outId, neighbor_id, cosine,
       |  row_number() OVER (PARTITION BY $outId ORDER BY cosine DESC, neighbor_id) AS rn FROM scored)""".stripMargin
  }

  private def lshOracle(planes: Int, tables: Int, dim: Int, k: Int,
                        queryPred: String = "q.vec_id < 8",
                        outId: String = "query_id"): String =
    s"""WITH ${lshKnnCtes(planes, tables, dim, queryPred, outId)}
       |SELECT $outId, neighbor_id, round(cosine, 4) AS cosine
       |FROM ranked WHERE rn <= $k ORDER BY $outId, neighbor_id""".stripMargin

  /** s142 oracle: the s30 LSH chain and the s29 exact chain joined into a
    * per-query recall report — exact side LEFT-joined to the approximate
    * hits so an empty-bucket query still reports with n_approx = 0. */
  private def annRecallOracle(planes: Int, tables: Int, dim: Int, k: Int): String = {
    val mat = graft.ops.Similarity.planeMatrix(planes * tables, dim)
    def lst(a: Array[Double]): String =
      a.map(w => java.math.BigDecimal.valueOf(w).toPlainString).mkString("[", ", ", "]")
    def bucketExpr(tbl: Int): String = (0 until planes).map { p =>
      s"(CASE WHEN list_sum([e[i] * (${lst(mat(tbl * planes + p))})[i] for i in range(1, len(e)+1)]) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    val bucketCols = (0 until tables).map(tb => s"${bucketExpr(tb)} AS b$tb").mkString(", ")
    val cand = (0 until tables).map(tb =>
      s"SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id FROM b q JOIN b c ON q.b$tb = c.b$tb " +
        s"WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id")
      .mkString(" UNION ")
    s"""WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
       |b AS (SELECT vec_id, e, $bucketCols FROM v),
       |cand AS ($cand),
       |scored AS (SELECT query_id, neighbor_id,
       |  list_sum([qv.e[i]*cv.e[i] for i in range(1, len(qv.e)+1)]) /
       |  (sqrt(list_sum([qv.e[i]*qv.e[i] for i in range(1, len(qv.e)+1)])) *
       |   sqrt(list_sum([cv.e[i]*cv.e[i] for i in range(1, len(cv.e)+1)]))) AS cosine
       |  FROM cand JOIN v qv ON qv.vec_id = query_id JOIN v cv ON cv.vec_id = neighbor_id),
       |ranked AS (SELECT query_id, neighbor_id, cosine,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn FROM scored),
       |approx AS (SELECT query_id, neighbor_id FROM ranked WHERE rn <= $k),
       |ex_scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  list_sum([q.e[i]*c.e[i] for i in range(1, len(q.e)+1)]) /
       |  (sqrt(list_sum([q.e[i]*q.e[i] for i in range(1, len(q.e)+1)])) *
       |   sqrt(list_sum([c.e[i]*c.e[i] for i in range(1, len(c.e)+1)]))) AS cosine
       |  FROM v q, v c WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id),
       |ex_ranked AS (SELECT query_id, neighbor_id, cosine,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn FROM ex_scored),
       |exact AS (SELECT query_id, neighbor_id FROM ex_ranked WHERE rn <= $k),
       |hits AS (SELECT e.query_id, count(*) AS n_exact,
       |  sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS n_overlap
       |  FROM exact e LEFT JOIN approx a
       |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
       |  GROUP BY e.query_id),
       |ac AS (SELECT query_id, count(*) AS n_approx FROM approx GROUP BY query_id)
       |SELECT hits.query_id, coalesce(ac.n_approx, 0) AS n_approx, hits.n_exact,
       |  CAST(hits.n_overlap AS BIGINT) AS n_overlap,
       |  floor(CAST(hits.n_overlap AS DOUBLE) / hits.n_exact * 1e6 + 0.5) / 1e6 AS recall
       |FROM hits LEFT JOIN ac ON ac.query_id = hits.query_id
       |ORDER BY hits.query_id""".stripMargin
  }

  /** t150 oracle: BM25 replayed term by term in the query's fixed order,
    * every float constant printed from the SAME Scala double the operator
    * computes (k1+1, 1−b — shortest-roundtrip decimals), the same
    * tokenization as the t84/t110 oracles. Association mirrors the
    * operator exactly: ((idf·tf)·k1p1)/(tf + k1·((1−b) + (b·dl)/(Σdl/N))). */
  private def bm25Oracle(terms: Seq[String], k1: Double, b: Double,
                         topN: Int): String = {
    def num(d: Double) = java.math.BigDecimal.valueOf(d).toPlainString
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(t, x -> x = '$t')) AS DOUBLE) AS tf$i"
    }.mkString(", ")
    val dfCols = terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i").mkString(", ")
    val scoreExpr = terms.indices.map { i =>
      s"ln(1 + (n - df$i + 0.5) / (df$i + 0.5)) * tf$i * ${num(k1 + 1.0)} / " +
        s"(tf$i + ${num(k1)} * (${num(1.0 - b)} + ${num(b)} * dl / (sumdl / n)))"
    }.mkString(" + ")
    // terms are interpolated into SQL string literals — keep the guard in
    // lockstep with the tokenizer's alphabet so no escaping is ever needed
    require(terms.forall(_.matches("[a-z0-9]+")),
      s"bm25Oracle terms must be [a-z0-9]+ tokens: $terms")
    // the top-N select keeps the UNROUNDED score (s0) as its sort key at
    // every level: in DuckDB an ORDER BY on the rounded output alias would
    // bind to the alias, silently diverging from the operator's
    // unrounded-score ordering whenever two scores differ by < 1e-6
    s"""WITH tk AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t FROM documents),
       |d AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl, $tfCols FROM tk),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) AS sumdl, $dfCols FROM d),
       |sc AS (SELECT doc_id, $scoreExpr AS s0 FROM d, st),
       |top AS (SELECT doc_id, s0 FROM sc WHERE s0 > 0 ORDER BY s0 DESC, doc_id LIMIT $topN)
       |SELECT doc_id, floor(s0 * 1e6 + 0.5) / 1e6 AS score FROM top
       |ORDER BY s0 DESC, doc_id""".stripMargin
  }

  private def autoPlanesOracleError: String =
    "SELECT error('auto-knob oracle (d74/p92/s151): run the query first to stash " +
      "the run''s derived plane count for this dir (Verify dumps oracle SQL " +
      "after the queries run)')"

  /** s143 oracle: ALL THREE PQ serving tiers replayed in SQL — the s120
    * ADC chain (full-scan coarse pass) and the s123 bucket-pruned chain
    * share one codes CTE (the md5-grid codebook inlined once,
    * first-position argmin, sequential list_sums — pqOracle/lshPqOracle's
    * determinism argument verbatim); the round-15 trained tier gets its
    * own codes CTE from the TRAINED constants stashed by the query run
    * (CAST('…' AS DOUBLE) literals — Double.toString's shortest-roundtrip
    * form parsed by strtod reproduces the exact double, sidestepping
    * DECIMAL-width unification on arbitrary mantissas). Each tier is
    * graded against the s29 exact top-k with annRecallOracle's left-join
    * recall shape, union'd under a tier tag. The k-means FIT itself is
    * not replayed (no SQL replays Lloyd) — it is a deterministic,
    * capped, driver-local artifact spec-bounded in ScaleJoinsSpec; what
    * the oracle verifies bit-for-bit is the entire distributed serving
    * chain downstream of it (encode, ADC, prune, re-rank, recall). */
  private def pqRecallOracle(m: Int, kc: Int, subDim: Int, planes: Int,
                             dim: Int, kTop: Int, expand: Int,
                             cbT: Option[Array[Array[Array[Double]]]]): String = {
    val cb = graft.ops.Similarity.pqCodebook(m, kc, subDim)
    val mat = graft.ops.Similarity.planeMatrix(planes, dim)
    def num(d: Double) = java.math.BigDecimal.valueOf(d).toPlainString
    def lst(a: Array[Double]): String = a.map(num).mkString("[", ", ", "]")
    val bucketExpr = (0 until planes).map { p =>
      s"(CASE WHEN list_sum([e[i] * (${lst(mat(p))})[i] for i in range(1, len(e)+1)]) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    val cLit = cb.map(sc => sc.map(cv => cv.map(num).mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")).mkString("[", ", ", "]")
    if (cbT.isEmpty)
      return "SELECT error('s143 pqt tier: the trained codebook is stashed by the query run; " +
        "run s143_pq_recall before dumping oracle SQL (Verify does)')"
    def numT(d: Double) = s"CAST('${java.lang.Double.toString(d)}' AS DOUBLE)"
    val cLitT = cbT.get.map(sc => sc.map(cv => cv.map(numT).mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")).mkString("[", ", ", "]")
    def dsFor(v: String, cbVar: String) =
      s"[ list_sum([ ($v[(s-1)*$subDim + j] - $cbVar[s][c][j]) * ($v[(s-1)*$subDim + j] - $cbVar[s][c][j]) for j in range(1, ${subDim + 1}) ]) for c in range(1, ${kc + 1}) ]"
    val dsE = dsFor("e", "C"); val dsQ = dsFor("qe", "C")
    val dsET = dsFor("e", "T"); val dsQT = dsFor("qe", "T")
    // one tier's approx top-k: coarse ADC pass (optionally bucket-pruned),
    // kTop·expand candidates, exact-cosine re-rank, keep rk <= kTop
    def tierCtes(tag: String, bucketPred: String, cbkCte: String,
                 codesCte: String, dsq: String) =
      s"""coarse_$tag AS (SELECT query_id, c.vec_id AS neighbor_id,
         |  list_sum([ $dsq[c.codes[s]] for s in range(1, ${m + 1}) ]) AS adc
         |  FROM qs, $cbkCte, $codesCte c WHERE $bucketPred c.vec_id <> query_id),
         |cand_$tag AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rn
         |  FROM coarse_$tag) WHERE rn <= ${kTop * expand}),
         |exr_$tag AS (SELECT cand_$tag.query_id, cand_$tag.neighbor_id,
         |  list_sum([qs.qe[i] * ce.e[i] for i in range(1, len(qs.qe) + 1)]) /
         |  (sqrt(list_sum([qs.qe[i] * qs.qe[i] for i in range(1, len(qs.qe) + 1)])) *
         |   sqrt(list_sum([ce.e[i] * ce.e[i] for i in range(1, len(ce.e) + 1)]))) AS cosine
         |  FROM cand_$tag JOIN qs USING (query_id) JOIN v ce ON ce.vec_id = cand_$tag.neighbor_id),
         |approx_$tag AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
         |  FROM exr_$tag) WHERE rk <= $kTop)""".stripMargin
    // one tier's recall report rows against the shared exact CTE
    def tierReport(tag: String, label: String) =
      s"""hits_$tag AS (SELECT e.query_id, count(*) AS n_exact,
         |  sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS n_overlap
         |  FROM exact e LEFT JOIN approx_$tag a
         |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         |  GROUP BY e.query_id),
         |ac_$tag AS (SELECT query_id, count(*) AS n_approx FROM approx_$tag GROUP BY query_id),
         |rep_$tag AS (SELECT '$label' AS tier, hits_$tag.query_id,
         |  coalesce(ac_$tag.n_approx, 0) AS n_approx, hits_$tag.n_exact,
         |  CAST(hits_$tag.n_overlap AS BIGINT) AS n_overlap,
         |  floor(CAST(hits_$tag.n_overlap AS DOUBLE) / hits_$tag.n_exact * 1e6 + 0.5) / 1e6 AS recall
         |  FROM hits_$tag LEFT JOIN ac_$tag ON ac_$tag.query_id = hits_$tag.query_id)""".stripMargin
    s"""WITH cbk AS (SELECT $cLit AS C),
       |cbkt AS (SELECT $cLitT AS T),
       |v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
       |b AS (SELECT vec_id, e, CAST($bucketExpr AS BIGINT) AS bkt FROM v),
       |codes AS (SELECT vec_id, bkt,
       |  [ list_position($dsE, list_min($dsE)) for s in range(1, ${m + 1}) ] AS codes
       |  FROM b, cbk),
       |codes_t AS (SELECT vec_id,
       |  [ list_position($dsET, list_min($dsET)) for s in range(1, ${m + 1}) ] AS codes
       |  FROM b, cbkt),
       |qs AS (SELECT vec_id AS query_id, e AS qe, bkt AS qbkt FROM b WHERE vec_id < 8),
       |${tierCtes("pq", "", "cbk", "codes", dsQ)},
       |${tierCtes("lp", "c.bkt = qs.qbkt AND", "cbk", "codes", dsQ)},
       |${tierCtes("pt", "", "cbkt", "codes_t", dsQT)},
       |ex_scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  list_sum([q.e[i]*c.e[i] for i in range(1, len(q.e)+1)]) /
       |  (sqrt(list_sum([q.e[i]*q.e[i] for i in range(1, len(q.e)+1)])) *
       |   sqrt(list_sum([c.e[i]*c.e[i] for i in range(1, len(c.e)+1)]))) AS cosine
       |  FROM v q, v c WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id),
       |exact AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
       |  FROM ex_scored) WHERE rn <= $kTop),
       |${tierReport("pq", "pq")},
       |${tierReport("lp", "lshpq")},
       |${tierReport("pt", "pqt")}
       |SELECT * FROM rep_pq UNION ALL SELECT * FROM rep_lp UNION ALL SELECT * FROM rep_pt
       |ORDER BY tier, query_id""".stripMargin
  }

  /** OR-amplified LSH near-dup oracle: table `t` buckets with hyperplane
    * rows [t·planes, (t+1)·planes) of planeMatrix(tables·planes, dim) —
    * identical to Similarity.nearDupPairs — candidates unioned across
    * tables (UNION dedups), then exact cosine against `threshold`. */
  private def nearDupLshOracle(planes: Int, tables: Int, dim: Int,
                               threshold: Double): String = {
    val mat = graft.ops.Similarity.planeMatrix(planes * tables, dim)
    def lst(a: Array[Double]): String =
      a.map(w => java.math.BigDecimal.valueOf(w).toPlainString).mkString("[", ", ", "]")
    def bucketExpr(tbl: Int): String = (0 until planes).map { p =>
      s"(CASE WHEN list_sum([e[i] * (${lst(mat(tbl * planes + p))})[i] for i in range(1, len(e)+1)]) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    val bucketCols = (0 until tables).map(tb => s"${bucketExpr(tb)} AS b$tb").mkString(", ")
    val cand = (0 until tables).map(tb =>
      s"SELECT a.vec_id AS id_a, b2.vec_id AS id_b FROM b a JOIN b b2 ON a.b$tb = b2.b$tb AND a.vec_id < b2.vec_id")
      .mkString(" UNION ")
    s"""WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
       |b AS (SELECT vec_id, e, $bucketCols FROM v),
       |cand AS ($cand),
       |p AS (SELECT id_a, id_b,
       |  list_sum([va.e[i]*vb.e[i] for i in range(1, len(va.e)+1)]) /
       |  (sqrt(list_sum([va.e[i]*va.e[i] for i in range(1, len(va.e)+1)])) *
       |   sqrt(list_sum([vb.e[i]*vb.e[i] for i in range(1, len(vb.e)+1)]))) AS cosine
       |  FROM cand JOIN v va ON va.vec_id = id_a JOIN v vb ON vb.vec_id = id_b)
       |SELECT id_a, id_b, round(cosine, 4) AS cosine FROM p WHERE cosine >= $threshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Whitening oracle (s162): replays the k-component projection from the
    * RUN's stashed model — exact-double constants via the
    * CAST('&lt;Double.toString&gt;' AS DOUBLE) form (the s143 trained-constant
    * rule), terms in the same index order and operand order as the Spark
    * zip_with/aggregate chain, floor-rounded identically. The fit itself
    * (moments + Jacobi) needs no SQL: it is a deterministic driver
    * artifact, and replaying its OUTPUT is the whole point of the stash
    * technique. */
  /** One DuckDB expression per whitened component: the projection replayed
    * from the stashed constants (exact-double CAST('…' AS DOUBLE) form),
    * same index/operand order as the Spark zip_with/aggregate chain, same
    * floor rounding. Shared by the s162 and s166 oracles. */
  private def whitenYExprs(mu: Array[Double], w: Array[Array[Double]]): Seq[String] = {
    def numT(d: Double) = s"CAST('${java.lang.Double.toString(d)}' AS DOUBLE)"
    def lst(a: Array[Double]): String = a.map(numT).mkString("[", ", ", "]")
    val dim = mu.length
    w.toSeq.map { row =>
      s"floor(list_sum([ ((e[i] - (${lst(mu)})[i]) * (${lst(row)})[i]) " +
        s"for i in range(1, ${dim + 1}) ]) * 1e6 + 0.5) / 1e6"
    }
  }

  private def whitenOracle(model: Option[(Array[Double], Array[Array[Double]])]): String = {
    if (model.isEmpty)
      return "SELECT error('s162 whitening: the fitted model is stashed by the query run; " +
        "run s162_whitening before dumping oracle SQL (Verify does)')"
    val (mu, w) = model.get
    val ys = whitenYExprs(mu, w).zipWithIndex
      .map { case (e, c) => s"$e AS y$c" }.mkString(",\n  ")
    s"""WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e
       |  FROM embeddings WHERE len(embedding) = ${mu.length})
       |SELECT vec_id AS id,
       |  $ys
       |FROM v ORDER BY id""".stripMargin
  }

  /** Whitened-ANN oracle (s166): the s162 projection as a CTE (list-valued
    * this time), then the s29 exact-cosine top-k chain verbatim over the
    * whitened vectors. */
  private def whitenedAnnOracle(model: Option[(Array[Double], Array[Array[Double]])],
                                kTop: Int): String = {
    if (model.isEmpty)
      return "SELECT error('s166 whitened ANN: the fitted model is stashed by the query run; " +
        "run s166_whitened_ann before dumping oracle SQL (Verify does)')"
    val (mu, w) = model.get
    val yList = whitenYExprs(mu, w).mkString("[", ",\n    ", "]")
    s"""WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e
       |  FROM embeddings WHERE len(embedding) = ${mu.length}),
       |wy AS (SELECT vec_id, $yList AS yv FROM v),
       |q AS (SELECT vec_id AS qid, yv AS qv FROM wy WHERE vec_id < 8),
       |c AS (SELECT vec_id AS nid, yv AS cv FROM wy),
       |scored AS (
       |  SELECT qid, nid,
       |    list_sum([qv[i] * cv[i] for i in range(1, len(qv)+1)]) /
       |    (sqrt(list_sum([qv[i] * qv[i] for i in range(1, len(qv)+1)])) *
       |     sqrt(list_sum([cv[i] * cv[i] for i in range(1, len(cv)+1)]))) AS cosine
       |  FROM q, c WHERE qid <> nid),
       |ranked AS (SELECT qid, nid, cosine,
       |  row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rn FROM scored)
       |SELECT qid AS query_id, nid AS neighbor_id, round(cosine, 4) AS cosine
       |FROM ranked WHERE rn <= $kTop ORDER BY query_id, neighbor_id""".stripMargin
  }

  /** RRF fusion oracle (s160): both tier SQLs embedded as subqueries, each
    * re-ranked over its PUBLISHED (cosine desc, neighbor_id) order, exact
    * integer micro-unit contributions floor(1e6/(rrfK+rank)), summed and
    * top-k'd exactly as [[graft.ops.Similarity.rrfFuse]] does. */
  private def rrfOracle(tierSql: Seq[String], kTop: Int, rrfK: Int): String = {
    val tiers = tierSql.zipWithIndex.map { case (sql, i) =>
      s"t$i AS (SELECT * FROM ($sql))"
    }
    val ranks = tierSql.indices.map { i =>
      s"""r$i AS (SELECT query_id, neighbor_id,
         |  CAST(floor(1e6 / ($rrfK + row_number() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id))) AS BIGINT) AS pts
         |  FROM t$i)""".stripMargin
    }
    val unioned = tierSql.indices.map(i => s"SELECT * FROM r$i").mkString(" UNION ALL ")
    s"""WITH ${(tiers ++ ranks).mkString(",\n")},
       |u AS ($unioned),
       |g AS (SELECT query_id, neighbor_id, CAST(sum(pts) AS BIGINT) AS rrf_score,
       |  count(*) AS n_lists FROM u GROUP BY 1, 2),
       |f AS (SELECT *, row_number() OVER (
       |  PARTITION BY query_id ORDER BY rrf_score DESC, neighbor_id) AS rk FROM g)
       |SELECT query_id, neighbor_id, rrf_score, n_lists FROM f
       |WHERE rk <= $kTop ORDER BY query_id, neighbor_id""".stripMargin
  }

  /** Cross-relation decontamination oracle (d159): [[nearDupLshOracle]]'s
    * bucket/verify chain with the two sides drawn from the %25 split —
    * candidates are the cross equi-join per table (no id_a < id_b
    * orientation: the sides are disjoint relations), UNION-deduped. */
  private def crossNearDupOracle(planes: Int, tables: Int, dim: Int,
                                 threshold: Double): String = {
    val mat = graft.ops.Similarity.planeMatrix(planes * tables, dim)
    def lst(a: Array[Double]): String =
      a.map(w => java.math.BigDecimal.valueOf(w).toPlainString).mkString("[", ", ", "]")
    def bucketExpr(tbl: Int): String = (0 until planes).map { p =>
      s"(CASE WHEN list_sum([e[i] * (${lst(mat(tbl * planes + p))})[i] for i in range(1, len(e)+1)]) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    val bucketCols = (0 until tables).map(tb => s"${bucketExpr(tb)} AS b$tb").mkString(", ")
    val cand = (0 until tables).map(tb =>
      s"SELECT c.vec_id AS id, p2.vec_id AS probe_id FROM bc c JOIN bp p2 ON c.b$tb = p2.b$tb")
      .mkString(" UNION ")
    s"""WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
       |bc AS (SELECT vec_id, e, $bucketCols FROM v WHERE vec_id % 25 <> 0),
       |bp AS (SELECT vec_id, e, $bucketCols FROM v WHERE vec_id % 25 = 0),
       |cand AS ($cand),
       |p AS (SELECT id, probe_id,
       |  list_sum([vc.e[i]*vp.e[i] for i in range(1, len(vc.e)+1)]) /
       |  (sqrt(list_sum([vc.e[i]*vc.e[i] for i in range(1, len(vc.e)+1)])) *
       |   sqrt(list_sum([vp.e[i]*vp.e[i] for i in range(1, len(vp.e)+1)]))) AS cosine
       |  FROM cand JOIN v vc ON vc.vec_id = id JOIN v vp ON vp.vec_id = probe_id)
       |SELECT id, probe_id, round(cosine, 4) AS cosine FROM p WHERE cosine >= $threshold
       |ORDER BY id, probe_id""".stripMargin
  }

  /** Semantic-dedup oracle (p92): the [[nearDupLshOracle]] candidate/verify
    * chain feeding the d73-shaped recursive-CTE connected components, then
    * the min-id keep rule; singletons survive as their own cluster of 1. */
  private def semanticDedupOracle(planes: Int, tables: Int, dim: Int,
                                  threshold: Double): String = {
    val mat = graft.ops.Similarity.planeMatrix(planes * tables, dim)
    def lst(a: Array[Double]): String =
      a.map(w => java.math.BigDecimal.valueOf(w).toPlainString).mkString("[", ", ", "]")
    def bucketExpr(tbl: Int): String = (0 until planes).map { p =>
      s"(CASE WHEN list_sum([e[i] * (${lst(mat(tbl * planes + p))})[i] for i in range(1, len(e)+1)]) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    val bucketCols = (0 until tables).map(tb => s"${bucketExpr(tb)} AS b$tb").mkString(", ")
    val cand = (0 until tables).map(tb =>
      s"SELECT a.vec_id AS id_a, b2.vec_id AS id_b FROM b a JOIN b b2 ON a.b$tb = b2.b$tb AND a.vec_id < b2.vec_id")
      .mkString(" UNION ")
    s"""WITH RECURSIVE v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
       |b AS (SELECT vec_id, e, $bucketCols FROM v),
       |cand AS ($cand),
       |p AS (SELECT id_a, id_b,
       |  list_sum([va.e[i]*vb.e[i] for i in range(1, len(va.e)+1)]) /
       |  (sqrt(list_sum([va.e[i]*va.e[i] for i in range(1, len(va.e)+1)])) *
       |   sqrt(list_sum([vb.e[i]*vb.e[i] for i in range(1, len(vb.e)+1)]))) AS cosine
       |  FROM cand JOIN v va ON va.vec_id = id_a JOIN v vb ON vb.vec_id = id_b),
       |pr AS (SELECT id_a, id_b FROM p WHERE cosine >= $threshold),
       |edges AS (SELECT id_a AS a, id_b AS b FROM pr
       |          UNION SELECT id_b, id_a FROM pr),
       |reach(node, lbl) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT r.node, e2.b FROM reach r JOIN edges e2 ON e2.a = r.lbl),
       |comp AS (SELECT node, min(lbl) AS cid FROM reach GROUP BY node),
       |sz AS (SELECT cid, count(*) AS cluster_size FROM comp GROUP BY cid)
       |SELECT emb.vec_id,
       |  coalesce(c.cid, emb.vec_id) AS cluster_id,
       |  CAST(coalesce(s.cluster_size, 1) AS BIGINT) AS cluster_size,
       |  CAST(CASE WHEN c.node IS NULL OR c.cid = emb.vec_id THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM embeddings emb
       |LEFT JOIN comp c ON c.node = emb.vec_id
       |LEFT JOIN sz s ON s.cid = c.cid
       |ORDER BY emb.vec_id""".stripMargin
  }
}
