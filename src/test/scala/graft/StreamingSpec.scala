package graft

import graft.streaming.Streams
import graft.streaming.Streams.{Event, Session}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Structured Streaming operators driven synchronously through
  * MemoryStream → memory sink (the standard local harness). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  private val batch = Seq(
    Event(1, ts(0), 1, "click", 1.0),
    Event(2, ts(5), 1, "click", 2.0),
    Event(3, ts(40), 1, "click", 3.0),  // > 10 min gap → new session
    Event(4, ts(2), 2, "view", 4.0))

  test("sessionize (batch): gap splits sessions, totals correct") {
    val out = Streams.sessionize(batch.toDS(), gapMs = 10 * 60 * 1000L)
      .collect().sortBy(s => (s.user_id, s.session_start.getTime))
    assert(out.length == 3)
    val s1 = out(0)
    assert(s1.user_id == 1 && s1.n_events == 2 && s1.total_value == 3.0 &&
      s1.session_start == ts(0) && s1.session_end == ts(5))
    assert(out(1).n_events == 1 && out(1).total_value == 3.0)
    assert(out(2).user_id == 2 && out(2).n_events == 1)
  }

  test("sessionize (streaming): incremental via MemoryStream, timeout closes sessions") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.sessionize(mem.toDS(), gapMs = 10 * 60 * 1000L)
      .writeStream.format("memory").queryName("sessions_out").outputMode("append").start()
    try {
      mem.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(5), 1, "click", 2.0))
      q.processAllAvailable()
      // session still open — nothing emitted yet
      assert(spark.table("sessions_out").count() == 0)
      // an event far past the gap advances the watermark and times out user 1
      mem.addData(Event(3, ts(59), 2, "view", 9.0))
      q.processAllAvailable()
      mem.addData(Event(4, Timestamp.valueOf("2024-01-01 12:00:00"), 2, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("sessions_out").as[Session].collect()
      assert(rows.exists(s => s.user_id == 1 && s.n_events == 2 && s.total_value == 3.0))
    } finally q.stop()
  }

  test("windowedAgg (streaming): tumbling window counts via MemoryStream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val agg = Streams.windowedAgg(mem.toDF(), "ts", "event_type", "10 minutes")
    val q = agg.writeStream.format("memory").queryName("win_out").outputMode("complete").start()
    try {
      mem.addData(batch: _*)
      q.processAllAvailable()
      val rows = spark.table("win_out").collect()
      val clicks00 = rows.find(r => r.getAs[String]("event_type") == "click" &&
        r.getAs[Timestamp]("window_start") == ts(0)).get
      assert(clicks00.getAs[Long]("n") == 2 && clicks00.getAs[Double]("total") == 3.0)
    } finally q.stop()
  }

  test("intervalJoin (streaming): cross-batch match, window excludes stale rows") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val views = MemoryStream[Event]
    val joined = Streams.intervalJoin(clicks.toDF(), views.toDF(),
        "user_id", "ts", window = "10 MINUTE", watermark = "5 minutes")
      .select(col("l_event_id").as("click_id"), col("r_event_id").as("view_id"))
    val q = joined.writeStream.format("memory").queryName("ij_out")
      .outputMode("append").start()
    try {
      // view arrives in batch 1; the matching click only in batch 2 —
      // buffered stream-stream state must produce the pair across batches
      views.addData(Event(10, ts(0), 1, "view", 1.0))
      q.processAllAvailable()
      clicks.addData(Event(20, ts(8), 1, "click", 1.0), // 8 min after view ✓
        Event(21, ts(15), 1, "click", 1.0),             // 15 min after    ✗
        Event(22, ts(5), 2, "click", 1.0))              // other user      ✗
      q.processAllAvailable()
      val got = spark.table("ij_out").as[(Long, Long)].collect().toSet
      assert(got == Set((20L, 10L)))
      // batch input runs the same call as a plain range join (oracle shape)
      val b = Streams.intervalJoin(
          Seq(Event(20, ts(8), 1, "click", 1.0)).toDF(),
          Seq(Event(10, ts(0), 1, "view", 1.0), Event(11, ts(9), 1, "view", 1.0)).toDF(),
          "user_id", "ts", window = "10 MINUTE")
      assert(b.count() == 1) // ts(9) view is AFTER the click — excluded
    } finally q.stop()
  }

  test("scd2Stream: cross-batch run continuation, in-batch ordering, open run withheld") {
    implicit val sqlCtx = spark.sqlContext
    import Streams.{Scd2Evt, Scd2Row}
    val in = MemoryStream[Scd2Evt]
    val q = Streams.scd2Stream(in.toDS()).toDF()
      .writeStream.format("memory").queryName("scd2_out")
      .outputMode("append").start()
    try {
      // batch 1 (out of order in the batch): A@1, A@2, then B@5 starts —
      // closes A[1,5) with 2 events; B stays OPEN in state (not emitted)
      in.addData(Scd2Evt(1, 11, "A", 2), Scd2Evt(1, 10, "A", 1), Scd2Evt(1, 12, "B", 5))
      q.processAllAvailable()
      val after1 = spark.table("scd2_out").as[Scd2Row].collect().toSet
      assert(after1 == Set(Scd2Row(1, "A", 1, 5, 2)))
      // batch 2: B continues (n grows across the batch boundary), then C
      // closes it — B's interval spans both batches
      in.addData(Scd2Evt(1, 13, "B", 7), Scd2Evt(1, 14, "C", 9))
      q.processAllAvailable()
      val after2 = spark.table("scd2_out").as[Scd2Row].collect().toSet
      assert(after2 == Set(Scd2Row(1, "A", 1, 5, 2), Scd2Row(1, "B", 5, 9, 2)))
    } finally q.stop()
  }

  test("scd2Stream ≡ batch scd2's closed rows on randomized logs") {
    implicit val sqlCtx = spark.sqlContext
    import Streams.{Scd2Evt, Scd2Row}
    val rnd = new scala.util.Random(42)
    (0 until 3).foreach { trial =>
      // in-order delivery ACROSS batches (the operator's documented CDC
      // contract) — within a batch the operator sorts for itself
      val evts = (0 until 40).map { i =>
        Scd2Evt(rnd.nextInt(4).toLong, 100L + i,
          s"T${rnd.nextInt(3)}", rnd.nextInt(20).toLong)
      }.sortBy(e => (e.ts_ns, e.event_id))
      val in = MemoryStream[Scd2Evt]
      val q = Streams.scd2Stream(in.toDS()).toDF()
        .writeStream.format("memory").queryName(s"scd2_prop_$trial")
        .outputMode("append").start()
      try {
        // split across two batches at an arbitrary point — cross-batch
        // state must make the emission independent of the batching
        val (b1, b2) = evts.splitAt(13 + trial * 7)
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
        val got = spark.table(s"scd2_prop_$trial").as[Scd2Row].collect().toSet
        val batch = graft.ops.Events.scd2(
            evts.toDF("user_id", "event_id", "event_type", "ts_ns"),
            "user_id", "event_type")
          .filter(!col("is_current"))
          .select(col("user_id"), col("event_type"), col("valid_from"),
            col("valid_to"), col("n_events"))
          .as[Scd2Row].collect().toSet
        assert(got == batch, s"trial $trial: stream != batch closed rows")
      } finally q.stop()
    }
  }

  test("writeStreamParquet: file sink lands rows with checkpointing") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val dir = tempDir().toString
    val q = Streams.writeStreamParquet(mem.toDF(), s"$dir/out", s"$dir/ckpt", triggerMs = 100)
    try {
      mem.addData(batch: _*)
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/out").count() == 4)
    } finally q.stop()
  }

  test("dedupStream: duplicate keys within the watermark are dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val dd = Streams.dedupStream(mem.toDF(), Seq("event_id"), "ts", "1 hour")
    val q = dd.writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      mem.addData(Event(1, ts(0), 1, "click", 1.0), Event(1, ts(1), 1, "click", 1.0),
        Event(2, ts(2), 1, "view", 2.0))
      q.processAllAvailable()
      mem.addData(Event(1, ts(3), 1, "click", 1.0), Event(3, ts(4), 2, "view", 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("nearDupMarkStream: later near-dup marked, state survives across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val markers = Streams.nearDupMarkStream(
      mem.toDS().toDF("doc_id", "ts", "text"), "doc_id", "text", "ts",
      threshold = 0.5)
    val query = markers.writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, ts(0), "the quick brown fox jumps over the lazy dog"),
        (3L, ts(1), "completely different content here entirely now"))
      query.processAllAvailable()
      assert(spark.table("neardup_out").count() == 0) // no earlier dup yet
      mem.addData(
        (5L, ts(2), "the quick brown fox jumps over the lazy cat"), // J=0.75 vs doc 1 (state)
        (7L, ts(3), "totally unrelated words appearing only here"),
        (9L, ts(4), "the quick brown fox jumps over the lazy dog")) // exact dup of 1
      query.processAllAvailable()
      val got = spark.table("neardup_out").distinct().as[Long].collect().toSet
      assert(got == Set(5L, 9L))
    } finally query.stop()
  }

  test("nearDupMarkStream (streaming) ≡ batch path on the sf0.001 corpus") {
    implicit val sqlCtx = spark.sqlContext
    val d = core.Tables.documents(spark, sf("sf0.001"))
      .withColumn("ts", timestamp_micros((col("doc_id") + 1) * 1000000L))
    val batchMarkers = Streams.nearDupMarkStream(d, "doc_id", "text", "ts")
      .distinct().as[Long].collect().toSet
    assert(batchMarkers.nonEmpty) // the corpus has planted near-dups
    val rows = d.select(col("doc_id"), col("ts"), col("text"))
      .as[(Long, Timestamp, String)].collect().toSeq
    val mem = MemoryStream[(Long, Timestamp, String)]
    val sm = Streams.nearDupMarkStream(
      mem.toDS().toDF("doc_id", "ts", "text"), "doc_id", "text", "ts")
    val query = sm.writeStream.format("memory").queryName("neardup_eq_out")
      .outputMode("append").start()
    try {
      mem.addData(rows: _*)
      query.processAllAvailable()
      val streamMarkers =
        spark.table("neardup_eq_out").distinct().as[Long].collect().toSet
      assert(streamMarkers == batchMarkers)
    } finally query.stop()
  }

  test("dedupStream (batch) equals dropDuplicates") {
    val df = batch.toDF()
    assert(Streams.dedupStream(df, Seq("user_id"), "ts").count() == 2)
  }

  test("windowedAgg (batch) equals the q18-style grouped aggregation") {
    val ev = core.Tables.events(spark, sf("sf0.001"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val viaOp = Streams.windowedAgg(ev, "ts", "event_type", "1 hour")
      .agg(sum("n")).as[Long].collect().head
    assert(viaOp == 1000L)
  }

  test("quotaStream: counter survives batches, in-batch order, boundary exact") {
    implicit val sqlCtx = spark.sqlContext
    import Streams.QuotaEvt
    val in = MemoryStream[QuotaEvt]
    val q = Streams.quotaStream(in.toDS(), quota = 3).toDF()
      .writeStream.format("memory").queryName("quota_out")
      .outputMode("append").start()
    try {
      // batch 1 arrives out of order: the operator keeps the 2 EARLIEST by
      // (ts, id), not arrival order
      in.addData(QuotaEvt(1, 12, 30), QuotaEvt(1, 10, 10), QuotaEvt(2, 20, 5))
      q.processAllAvailable()
      val after1 = spark.table("quota_out").as[QuotaEvt].collect().toSet
      assert(after1 == Set(QuotaEvt(1, 12, 30), QuotaEvt(1, 10, 10), QuotaEvt(2, 20, 5)))
      // batch 2: user 1 has used 2 of 3 — exactly ONE more survives (the
      // earliest of the batch), the boundary row and beyond are dropped;
      // user 2 keeps accumulating
      in.addData(QuotaEvt(1, 13, 40), QuotaEvt(1, 14, 50), QuotaEvt(2, 21, 6))
      q.processAllAvailable()
      val after2 = spark.table("quota_out").as[QuotaEvt].collect().toSet
      assert(after2 == after1 + QuotaEvt(1, 13, 40) + QuotaEvt(2, 21, 6))
      // batch 3: user 1 exhausted — nothing passes
      in.addData(QuotaEvt(1, 15, 60))
      q.processAllAvailable()
      assert(spark.table("quota_out").count() == 5)
    } finally q.stop()
  }

  test("quotaStream ≡ batch window replay on the sf0.001 events") {
    implicit val sqlCtx = spark.sqlContext
    import Streams.QuotaEvt
    val ev = core.Tables.events(spark, sf("sf0.001"))
      .select(col("user_id"), col("event_id"), col("ts_ns")).as[QuotaEvt]
      .collect().toSeq
    val in = MemoryStream[QuotaEvt]
    val q = Streams.quotaStream(in.toDS(), quota = 4).toDF()
      .writeStream.format("memory").queryName("quota_replay")
      .outputMode("append").start()
    try {
      in.addData(ev)
      q.processAllAvailable()
      val got = spark.table("quota_replay").as[QuotaEvt].collect().toSet
      val want = ev.groupBy(_.user_id).values
        .flatMap(_.sortBy(e => (e.ts_ns, e.event_id)).take(4)).toSet
      assert(got == want)
    } finally q.stop()
  }

  test("momentsSketchBy (streaming, complete mode): state across micro-batches ≡ batch sketch") {
    implicit val sqlCtx = spark.sqlContext
    val b1 = Seq(("a", Some(1.25)), ("a", None: Option[Double]), ("b", Some(2.0)))
    val b2 = Seq(("a", Some(3.75)), ("b", Some(-1.5)), ("b", Some(2.0)))
    val in = MemoryStream[(String, Option[Double])]
    val sk = ops.Stats.momentsSketchBy(in.toDF().toDF("k", "v"), Seq("k"), "v")
    val q = sk.writeStream.format("memory").queryName("graft_moments_spec")
      .outputMode("complete").start()
    def rowsOf(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("k").collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2), String.valueOf(r.get(3)), String.valueOf(r.get(4)),
        String.valueOf(r.get(5)), String.valueOf(r.get(6)))).toSeq
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      val mid = rowsOf(spark.table("graft_moments_spec"))
      assert(mid == rowsOf(ops.Stats.momentsSketchBy(b1.toDF("k", "v"), Seq("k"), "v")),
        "first micro-batch state must equal the batch sketch of batch 1")
      in.addData(b2: _*)
      q.processAllAvailable()
      val fin = rowsOf(spark.table("graft_moments_spec"))
      val full = rowsOf(ops.Stats.momentsSketchBy((b1 ++ b2).toDF("k", "v"), Seq("k"), "v"))
      assert(fin == full,
        "state merged across micro-batches must equal the full batch sketch")
      // and the batch-side merge algebra agrees with the engine's state
      // store: mergeMoments over the two per-batch sketches = same sketch
      val merged = rowsOf(ops.Stats.mergeMoments(Seq(
        ops.Stats.momentsSketchBy(b1.toDF("k", "v"), Seq("k"), "v"),
        ops.Stats.momentsSketchBy(b2.toDF("k", "v"), Seq("k"), "v")), keys = Seq("k")))
      assert(merged == full)
    } finally q.stop()
  }

  test("streaming reruns hit the codegen cache (the r16 JIT-class fix)") {
    // Four rounds of bench incidents (d22 r10, q94 r13, s131/q127 r14,
    // q94 r15) traced to one cause: Spark 4 keys its codegen cache by
    // (classloader, source), a started streaming query runs on a CLONED
    // session, and with session-artifact isolation on every clone carries
    // a fresh artifact classloader — so each run re-Janino'd every
    // generated class (q94: 25/rep, 23 byte-identical to the prior rep's).
    // The fix is two-part: Engine.builder sets
    // spark.sql.artifact.isolation.enabled=false (graft adds no session
    // artifacts), and SparkEntry's conf-scoped queries reuse ONE memoized
    // child session instead of newSession() per run. This pin runs a real
    // AvailableNow streaming query twice and asserts the second run
    // compiles nothing: measured with `graft.Dev exec` at sf0.01, a warm
    // q68 rep compiles 0 classes (a warm q94 rep compiles its 2
    // fresh-lambda-id serde projections). If either half of the fix
    // regresses, the second run recompiles ~25 classes and this fails.
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    val fn = SparkEntry.queries("q68_stream_dedup")
    fn(spark, sf("sf0.001")).count() // warm: compile + populate the cache
    val cg = org.apache.spark.metrics.source.CodegenMetrics
    val c0 = cg.METRIC_COMPILATION_TIME.getCount
    fn(spark, sf("sf0.001")).count()
    val compiles = cg.METRIC_COMPILATION_TIME.getCount - c0
    assert(compiles == 0,
      s"second streaming run Janino-compiled $compiles classes — codegen cache not reused")
  }
}
