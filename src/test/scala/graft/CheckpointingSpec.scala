package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.storage.StorageLevel

/** Pins the EAGER-truncate discipline shared by connectedComponents and
  * pageRank (graft.ops.Checkpointing). The round-11 verdict caught an
  * intermittent driver deadlock whose fix is exactly "the checkpoint is
  * materialized inside truncate, in the calling thread, before any
  * concurrent planner exists" — these tests make deleting the eager
  * materializing job (an RDD-level `runJob` that also returns the
  * caller's per-partition fold) a DETERMINISTIC failure instead of a
  * re-opened race. */
class CheckpointingSpec extends SparkSpec {
  import spark.implicits._

  /** Suite-lifetime checkpoint dir: tests that point the shared session's
    * context at a per-test [[tempDir]] MUST reset here in `finally` —
    * the checkpoint dir is JVM-global state on the shared session, and any
    * later checkpoint (this suite or another) would otherwise write into a
    * deleted directory. (Suites run serially under sbt's single test JVM —
    * SparkSpec's documented contract — so no parallel test can observe the
    * mid-test mutation.) The dir must outlive this suite, so it is a plain
    * scratch dir, deleted with the scratch root at JVM exit. */
  private lazy val suiteCkptDir = {
    val d = graft.query.Shared.scratchDir("spec_ckpt")
    spark.sparkContext.setCheckpointDir(d)
    d
  }

  test("eager(): RDD is already checkpointed when the call returns") {
    val t = new ops.Checkpointing.Truncator(reliable = false)
    val rdd = spark.range(1000).rdd
    assert(!rdd.isCheckpointed)
    val out = t.eager(rdd)
    // the discipline itself: materialization happened inside eager(), in
    // this thread — NOT deferred to some later multi-threaded job (the
    // deadlock window). A lazy localCheckpoint leaves this false until the
    // first external action.
    assert(out.isCheckpointed, "eager() returned a NOT-yet-checkpointed RDD — " +
      "the serial materializing job (deadlock fix, r11 verdict) has been removed")
    assert(out eq rdd)
  }

  test("eager() rotates out older rounds' blocks; newest stays live") {
    val t = new ops.Checkpointing.Truncator(reliable = false)
    val r1 = t.eager(spark.range(100).rdd)
    assert(r1.getStorageLevel != StorageLevel.NONE) // newest: blocks live
    val r2 = t.eager(spark.range(200).rdd)
    // r1's label-map blocks are unreachable once r2 is checkpointed — on a
    // long maxIter loop they would otherwise pile up in executor storage
    val persistent = spark.sparkContext.getPersistentRDDs
    assert(!persistent.contains(r1.id), "older round's blocks not unpersisted")
    assert(persistent.contains(r2.id) && r2.getStorageLevel != StorageLevel.NONE)
    assert(r2.isCheckpointed)
  }

  test("connectedComponents on longPath frees every rotated round's blocks") {
    // the rotation drops blocks through the context, not RDD.unpersist
    // (which WARNs for each locally checkpointed round): every persisted
    // RDD the loop's stages touched is gone from the context's registry
    // except the final round, which the result frame reads
    val persisted = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val l = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        e.stageInfo.rddInfos.filter(_.storageLevel.isValid).foreach(r => persisted.add(r.id))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      val cc = ops.Dedup.connectedComponents(DeadlockSoak.longPath.toDF("a", "b"), "a", "b")
      assert(cc.count() == 20000)
      ListenerBus.drain(sc)
      val seen = persisted.asScala.toSet
      val live = seen.filter(sc.getPersistentRDDs.contains)
      val rotated = seen -- live
      assert(live.size <= 1, s"persisted RDDs left after the loop: $live")
      assert(rotated.size >= 3, s"expected several rotated rounds, saw $rotated")
    } finally sc.removeSparkListener(l)
  }

  test("connectedComponents and pageRank run their edge lineage once and keep only their result") {
    // the edge projection bumps an accumulator per row: building the
    // symmetric edge cache as a union over both directions of the raw
    // lineage runs it twice per edge row; the loops checkpoint the edge
    // list once and count it in that same job. After
    // each call only the returned label or rank checkpoint stays persisted
    // (the edge checkpoint and the edge and node caches are freed).
    val sc = spark.sparkContext
    val bumps = sc.longAccumulator("edge rows")
    val bump = org.apache.spark.sql.functions.udf { (x: Long) => bumps.add(1); x }
    // 100 stars: 600 edges fit one cache partition, 40,000 take three
    for (n <- Seq(600L, 40000L)) {
      val edges = spark.range(100L, 100L + n, 1L, 4)
        .select(bump($"id").as("a"), ($"id" % 100L).as("b"))
      val calls = Seq[() => org.apache.spark.sql.DataFrame](
        () => ops.Dedup.connectedComponents(edges, "a", "b"),
        () => ops.Graph.pageRank(edges, "a", "b", iters = 2))
      for (call <- calls) {
        bumps.reset()
        val before = sc.getPersistentRDDs.keySet
        val out = call()
        val grown = sc.getPersistentRDDs.keySet -- before
        assert(bumps.value == n, s"$n edges: the edge projection ran ${bumps.value} times")
        assert(grown.size <= 1, s"$n edges: persisted RDDs left after the call: $grown")
        assert(out.count() == n + 100)
      }
    }
  }

  test("truncate(): resets carried plan Statistics (the per-round stats cube)") {
    val t = new ops.Checkpointing.Truncator(reliable = false)
    val df = (1L to 50L).map(i => (i, i * 2)).toDF("a", "b")
    val out = t.truncate(df)
    assert(out.count() == 50)
    assert(out.schema == df.schema)
    // the frame must be rebuilt over the checkpointed RDD (fresh LogicalRDD,
    // session-default stats), not a checkpoint() of the Dataset (which
    // carries the source plan's stats — the compounding-BigInt planning
    // blowup documented on Checkpointing)
    val stats = out.queryExecution.optimizedPlan.stats
    val conf = spark.sessionState.conf.defaultSizeInBytes
    assert(stats.sizeInBytes == conf,
      s"truncate carried source stats (${stats.sizeInBytes}) instead of the session default ($conf)")
  }

  test("stage(): local tier by default; reliable tier under the flag writes files") {
    val df = (1L to 40L).map(i => (i, s"doc$i")).toDF("id", "text")
    // default: Dataset-level localCheckpoint (eager, executor-local blocks)
    val local = ops.Checkpointing.stage(df)
    assert(local.count() == 40)
    // flagged: real checkpoint files (executor churn re-reads files instead
    // of recomputing the composed pass's shared prefix — p90/p91's tier)
    val dir = tempDir()
    spark.sparkContext.setCheckpointDir(dir.toString)
    System.setProperty("graft.stage.reliableCheckpoint", "1")
    try {
      val rel = ops.Checkpointing.stage(df)
      assert(rel.count() == 40)
      assert(rel.collect().map(_.getLong(0)).sorted.sameElements(1L to 40L))
      import scala.jdk.CollectionConverters._
      val files = java.nio.file.Files.walk(dir).iterator().asScala
        .count(p => p.getFileName.toString.startsWith("rdd-"))
      assert(files > 0, s"reliable stage() wrote no checkpoint data under $dir")
    } finally {
      System.clearProperty("graft.stage.reliableCheckpoint")
      spark.sparkContext.setCheckpointDir(suiteCkptDir) // before deleting the active dir
    }
  }

  test("reliable tier writes real checkpoint files eagerly") {
    val dir = tempDir().toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val t = new ops.Checkpointing.Truncator(reliable = true)
      val rdd = spark.range(500).rdd
      val out = t.eager(rdd)
      assert(out.isCheckpointed)
      // reliably checkpointed: files exist on disk (an executor-churn
      // cluster re-reads these instead of recomputing lineage)
      assert(out.getCheckpointFile.isDefined, "reliable tier produced no checkpoint file")
      // rotation must also delete the RETIRED round's checkpoint files —
      // Spark leaves them forever by default, and a long iterative loop
      // would pile one node-sized file set per round onto the store
      val firstFiles = new java.io.File(new java.net.URI(out.getCheckpointFile.get))
      assert(firstFiles.exists)
      val out2 = t.eager(spark.range(600).rdd)
      assert(out2.isCheckpointed && out2.getCheckpointFile.isDefined)
      assert(!firstFiles.exists,
        s"retired round's checkpoint files survived rotation: $firstFiles")
      assert(new java.io.File(new java.net.URI(out2.getCheckpointFile.get)).exists)
      // and the survivor still reads back (its files, not the old ones)
      assert(out2.count() == 600)
    } finally {
      spark.sparkContext.setCheckpointDir(suiteCkptDir) // before deleting the active dir
    }
  }

  test("p90 composed pass: reliable stage tier ≡ local tier (sf0.001, end to end)") {
    // the composed pass's correctness must not depend on which stage-
    // checkpoint tier it runs on — executor-churn clusters flip the flag
    def run(): Seq[(String, Long)] =
      SparkEntry.queries("p90_composed_corpus")(spark, sf("sf0.001"))
        .select("lang", "n_docs").as[(String, Long)].collect().toSeq
    val local = run()
    assert(local.nonEmpty)
    val dir = tempDir()
    spark.sparkContext.setCheckpointDir(dir.toString)
    System.setProperty("graft.stage.reliableCheckpoint", "1")
    try {
      assert(run() == local, "p90 output differs between stage-checkpoint tiers")
    } finally {
      System.clearProperty("graft.stage.reliableCheckpoint")
      spark.sparkContext.setCheckpointDir(suiteCkptDir) // before deleting the active dir
    }
  }
}
