package graft.query

import graft.core.Tables
import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Shared._

/** Streaming driver queries: each runs a structured-streaming query
  * (AvailableNow trigger) inside its builder. */
object StreamQueries {

  val specs: Seq[QuerySpec] = Seq(
    // true Structured Streaming execution: file source → watermarked tumbling
    // window agg → memory sink (one AvailableNow run); result equals the
    // batch oracle because windows align to epoch hours and sums are decimal
    QuerySpec("q58_stream_window", (s0, dir) => {
      // the MEMOIZED streaming child session (see streamSession): scopes
      // the reduced shuffle-partition conf away from the main session
      // while keeping one stable classloader so codegen cache-hits
      val s = streamSession(s0)
      val ev = eventStream(s, dir)
      val agged = graft.streaming.Streams.windowedAgg(ev, "ts", "event_type", "1 hour",
        aggs = Seq(count(lit(1)).as("n"), round(dsum(col("value")), 2).as("total")))
      drainToMemory(s, "graft_q58_sink", agged, "complete")
        .select(col("event_type"), unix_timestamp(col("window_start")).as("window_start_s"),
          col("n"), col("total"))
        .orderBy(col("event_type"), col("window_start_s"))
    }, Sql(
      """SELECT event_type, CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start_s,
        |  count(*) AS n, round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM events GROUP BY event_type, window_start_s
        |ORDER BY event_type, window_start_s""".stripMargin), streaming = true),

    // true streaming dedup run: the event stream unioned with itself (every
    // row duplicated) → dropDuplicatesWithinWatermark → append sink; the
    // batch aggregate over the sink must equal the ORIGINAL per-type counts,
    // proving the duplicate copy was dropped with watermark-bounded state
    // Oracle: the doubled stream deduped on event_id must equal the original table
    QuerySpec("q68_stream_dedup", (s0, dir) => {
      val s = streamSession(s0) // memoized scoped child, see q58
      val ev = eventStream(s, dir)
        .select(col("event_id"), col("ts"), col("event_type"))
      val deduped = graft.streaming.Streams.dedupStream(
        ev.union(ev), Seq("event_id"), "ts")
      drainToMemory(s, "graft_q68_sink", deduped, "append")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), countDistinct(col("event_id")).as("n_distinct"))
        .orderBy(col("event_type"))
    }, Sql(
      """SELECT event_type, count(*) AS n, count(DISTINCT event_id) AS n_distinct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin), streaming = true),

    // the streaming twin of p67: landing-dir file stream (doubled to simulate
    // duplicate arrivals) → watermark-bounded exact dedup → PII scrub +
    // quality score/filter → checkpointed parquet file sink, read back for
    // verification. One real AvailableNow run per call, conf scoped to a
    // child session; every stage is the same operator the batch pipeline uses
    // Oracle: streaming pipeline oracle: the doubled stream deduped on doc_id equals
    // the original table, so the batch scrub+quality over `documents` is the
    // exact expected sink content
    QuerySpec("p72_stream_pipeline", (s0, dir) => {
      val s = streamSession(s0) // memoized scoped child, see q58
      val schema = Tables.schemaOf(s, s"$dir/documents.parquet")
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
      val tmp = scratchDir("p72")
      val sq = graft.streaming.Streams.writeStreamParquet(
        scored, s"$tmp/out", s"$tmp/ck", availableNow = true)
      sq.awaitTermination()
      s.read.parquet(s"$tmp/out").orderBy(col("doc_id"))
    }, Sql(
      raw"""WITH toks AS (SELECT doc_id, lang, text, string_split(text, ' ') AS t FROM documents),
        |q AS (SELECT doc_id, lang, $qualitySql AS quality,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^\s]+', '<URL>', 'g'),
        |    '[0-9]{7,}', '<NUM>', 'g')) AS scrub_md5
        |  FROM toks)
        |SELECT doc_id, lang, quality, scrub_md5 FROM q
        |WHERE quality >= 0.3 ORDER BY doc_id""".stripMargin), streaming = true),

    // ONLINE near-dup dedup: documents stream in (arrival order = doc_id)
    // and each is dropped iff an earlier arrival shares an LSH band bucket
    // and verifies at exact trigram Jaccard ≥ 0.8 — stateful per-bucket
    // flatMapGroupsWithState, state bounded by the event-time TTL. Survivors
    // anti-join the marker stream. Oracle = docs minus the later side of
    // every exact-Jaccard ≥0.8 pair (LSH recall is total at these knobs on
    // this corpus — d23's oracle row proves it)
    QuerySpec("q94_stream_neardup", (s0, dir) => {
      val s = streamSession(s0) // memoized scoped child, see q58
      val schema = Tables.schemaOf(s, s"$dir/documents.parquet")
      val docs = graft.streaming.Streams.readStream(s, dir, schema,
        glob = Some("documents.parquet"))
      // synthetic event-time from doc_id (see p72): arrival order is id order
      val ev = docs.withColumn("ts", timestamp_micros((col("doc_id") + 1) * 1000000L))
      val markers = graft.streaming.Streams.nearDupMarkStream(
        ev, "doc_id", "text", "ts", n = 3, numHashes = 64, bands = 16,
        threshold = 0.8)
      val dropped = drainToMemory(s, "graft_q94_sink", markers, "append").distinct()
        .withColumnRenamed("id", "doc_id")
      t(s, dir, "documents").join(dropped, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }, Sql(
      s"""WITH ${setPairCtes(0.8)}
         |SELECT d.doc_id, d.lang FROM documents d
         |WHERE d.doc_id NOT IN (SELECT id_b FROM pairs) ORDER BY d.doc_id""".stripMargin), streaming = true),

    // STREAM-STREAM interval join (real run): click→view attribution — every
    // view by the same user in the 6 h before a click. Watermarks on both
    // sides bound the join state; the batch oracle is the same range join
    QuerySpec("q96_stream_join", (s0, dir) => {
      val s = streamSession(s0) // memoized scoped child, see q58
      def stream() = eventStream(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      val clicks = stream().filter(col("event_type") === "click")
      val views = stream().filter(col("event_type") === "view")
      val joined = graft.streaming.Streams.intervalJoin(
          clicks, views, "user_id", "ts", window = "6 HOUR")
        .select(col("l_event_id").as("click_id"), col("r_event_id").as("view_id"),
          col("l_user_id").as("user_id"))
      drainToMemory(s, "graft_q96_sink", joined, "append").orderBy(col("click_id"), col("view_id"))
    }, Sql(
      """SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id
        |FROM events c JOIN events v
        |  ON c.user_id = v.user_id
        | AND c.event_type = 'click' AND v.event_type = 'view'
        | AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 6 HOUR
        |ORDER BY click_id, view_id""".stripMargin), streaming = true),

    // streaming per-key quota (ingestion rate cap): at most 5 events per
    // user over the stream, first-by-(event-time, id) — a REAL
    // AvailableNow run; one counter per key in state, no watermark (a
    // lifetime cap never expires). Oracle = the batch window replay
    // Oracle: the batch replay of the streaming lifetime cap: first 5 per user in
    // (ts_ns, event_id) order
    QuerySpec("q140_stream_quota", (s0, dir) => {
      val s = streamSession(s0) // memoized scoped child, see q58
      import s.implicits._
      val ev = eventStream(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_ns"))
        .as[graft.streaming.Streams.QuotaEvt]
      val kept = graft.streaming.Streams.quotaStream(ev, quota = 5)
      drainToMemory(s, "graft_q140_sink", kept.toDF(), "append")
        .select(col("user_id"), col("event_id"), col("ts_ns"))
        .orderBy(col("user_id"), col("ts_ns"), col("event_id"))
    }, Sql(
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS ts_ns FROM events),
        |r AS (SELECT user_id, event_id, ts_ns,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts_ns, event_id) AS rn FROM e)
        |SELECT user_id, event_id, ts_ns FROM r WHERE rn <= 5
        |ORDER BY user_id, ts_ns, event_id""".stripMargin), streaming = true),

    // streaming SCD2: the e119 history maintained INCREMENTALLY — per-key
    // open-run state (O(|keys|), the dimension-table bound), closed
    // intervals emitted as changes arrive; a real AvailableNow run whose
    // output the batch oracle's non-current rows reproduce exactly
    // Oracle: the streaming emission is exactly the batch history's CLOSED rows
    QuerySpec("q124_stream_scd2", (s0, dir) => {
      val s = streamSession(s0) // memoized scoped child, see q58
      import s.implicits._
      val ev = eventStream(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts_ns"))
        .as[graft.streaming.Streams.Scd2Evt]
      val closed = graft.streaming.Streams.scd2Stream(ev)
      drainToMemory(s, "graft_q124_sink", closed.toDF(), "append")
        .orderBy(col("user_id"), col("valid_from"), col("event_type"))
    }, Sql(
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
        |ORDER BY user_id, valid_from, event_type""".stripMargin), streaming = true),

    // STREAMING drift alarm (round 17): p174's PSI with the CURRENT side
    // arriving as a stream — the calibration range and base counts are
    // static (batch-derived), the stream is binned by the same codegen'd
    // cell expression, and the engine's state store keeps the per-bin
    // counts (complete mode, O(bins) state); the report tail runs
    // batch-side on the sink. Monitoring-on-ingest: the alarm is current
    // after every micro-batch without rescanning history. Same
    // computation as p174 ⇒ the SAME oracle proves stream ≡ batch
    QuerySpec("q175_stream_psi", (s0, dir) => {
      val s = streamSession(s0)
      val static = t(s, dir, "documents")
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
      val cur = drainToMemory(s, "graft_q175_sink", curBinned, "complete")
      graft.ops.Stats.psiReport(s, baseCounts,
          cur.select(col("bin"), col("n")), mn, w, 10)
        .orderBy(col("bin"))
    }, Sql(psiEnZhOracle), streaming = true),

    // STREAMING moments maintenance (round 17): p170's mergeable moment
    // algebra run BY THE ENGINE'S STATE STORE — per-event-type
    // n/min/max/Σx/Σx² as a streaming complete-mode aggregate (decimal
    // state: map-side partials and micro-batch merges are exact in any
    // order), report derived batch-side by the same q09 recipe. The
    // monitoring feed a 100 TB ingest keeps current without rescans;
    // state is O(event types)
    // Oracle: the streaming state is an exact decimal sketch, so the oracle is a
    // plain batch aggregation + the p170/q09 derivations
    QuerySpec("q172_stream_moments", (s0, dir) => {
      val s = streamSession(s0)
      val ev = eventStream(s, dir)
      val sk = graft.ops.Stats.momentsSketchBy(ev, Seq("event_type"), "value")
      graft.ops.Stats.momentsReport(
          drainToMemory(s, "graft_q172_sink", sk, "complete"), keys = Seq("event_type"))
        .orderBy(col("event_type"))
    }, Sql(
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
        |FROM m ORDER BY event_type""".stripMargin), streaming = true)
  )

  /** The streaming queries' shared child: 8 shuffle partitions = 8
    * state-store instances — the keyspaces here are tiny (event types,
    * LSH buckets, ≤150 users), so 8 stores cut the per-micro-batch
    * checkpoint fsync count 4× without changing any result. */
  private def streamSession(s0: SparkSession): SparkSession =
    childSession(s0, "stream8", "spark.sql.shuffle.partitions" -> "8")

  /** The events table as a file stream (glob-filtered out of the table
    * directory), `ts` normalized as in the batch table. */
  private def eventStream(s: SparkSession, dir: String): DataFrame =
    Tables.normalizeEventTs(graft.streaming.Streams.readStream(s, dir,
      Tables.schemaOf(s, s"$dir/events.parquet"), glob = Some("events.parquet")))

  /** One AvailableNow run of `df` into the memory sink `name`, returning
    * the sink's table. The checkpoint is a fresh scratch dir, deleted once
    * the run has terminated, so no run resumes an earlier one.
    *
    * Memory-sink hygiene for the SHARED stream session: with
    * newSession()-per-run each run's sink view died with its session; the
    * memoized child retains them, so before (re)starting a fixed-name
    * memory sink we stop any still-active query of that name (an
    * interrupted prior run would otherwise fail every later .start() with
    * "already active") and drop the stale temp view (releasing the prior
    * rep's MemorySink rows). Callers must consume a run's result before
    * the NEXT invocation of the same query — true of every driver surface
    * (Bench counts, Verify writes, specs collect, each before moving on). */
  private def drainToMemory(s: SparkSession, name: String, df: DataFrame,
                            mode: String): DataFrame = {
    s.streams.active.filter(q => q.name == name).foreach(_.stop())
    s.catalog.dropTempView(name)
    val ck = scratchDir("ckpt")
    df.writeStream.format("memory").queryName(name).outputMode(mode)
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
    s.table(name)
  }
}
