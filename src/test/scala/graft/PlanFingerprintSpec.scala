package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Plan-shape regression pins for the most expensive driver queries.
  *
  * Bench timings on this class of VM swing 2-4× run-to-run, so a slow
  * BENCH_r{N} row alone cannot distinguish host noise from a real plan
  * regression (a lost broadcast, a new shuffle, a widened scan). These pins
  * make that decidable from artifacts: if the fingerprint spec is green, the
  * plan did not change — inflation is noise; if it is red, the diff names
  * exactly what changed (join strategy, Exchange count, scan width).
  *
  * The fingerprint is the plan's scale-relevant skeleton ONLY — shuffle and
  * broadcast Exchange counts, join strategies, per-scan top-level column
  * counts — so benign refactors (aliases, expression order) don't trip it.
  */
class PlanFingerprintSpec extends SparkSpec {

  /** Count top-level fields of a `ReadSchema: struct<...>` line (commas at
    * bracket depth 0 inside the outer struct — decimal(12,2) and nested
    * structs/arrays don't inflate the count). */
  private def scanWidth(line: String): Int = {
    val body = line.substring(line.indexOf("struct<") + "struct<".length)
    var depth = 0; var fields = 1
    for (c <- body) c match {
      case '<' | '(' => depth += 1
      case '>' if depth == 0 => return fields // outer struct closes
      case '>' | ')' => depth -= 1
      case ',' if depth == 0 => fields += 1
      case _ =>
    }
    fields
  }

  private def fingerprint(df: DataFrame): String = {
    val fmt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val opLine = """^\(\d+\)\s+(\S+).*$""".r
    val ops = fmt.linesIterator.collect { case opLine(name) => name }.toSeq
    def n(p: String) = ops.count(_ == p)
    val joins = Seq("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin",
        "BroadcastNestedLoopJoin", "CartesianProduct")
      .map(j => j -> n(j)).filter(_._2 > 0)
      .map { case (j, c) => s"$j=$c" }.mkString(",")
    val scans = fmt.linesIterator.filter(_.contains("ReadSchema: struct<"))
      .map(scanWidth).toSeq.sorted.mkString(",")
    s"shuffles=${n("Exchange")} bcast=${n("BroadcastExchange")} " +
      s"joins=[$joins] scans=[$scans]"
  }

  private def pin(name: String, expected: String): Unit = test(s"plan fingerprint: $name") {
    val got = fingerprint(SparkEntry.queries(name)(spark, sf("sf0.001")))
    assert(got == expected, s"\n$name plan shape changed:\n  got      $got\n  expected $expected")
  }

  // Pinned at sf0.001 (plan shape is data-independent here except for the
  // stats-driven broadcast choices, which are deterministic for fixed data).
  // shuffles counts EVERY Exchange node, including the small post-aggregation
  // ones — only the first exchange of each corpus-sized relation moves bulk
  // data, so read these as shape pins, not byte counts.
  pin("q01_pricing_summary", "shuffles=2 bcast=0 joins=[] scans=[6]")
  pin("q03_join_agg_revenue",
    "shuffles=2 bcast=3 joins=[BroadcastHashJoin=3] scans=[2,2,2,3]")
  pin("q07_melt", "shuffles=1 bcast=0 joins=[] scans=[6]")
  pin("q09_stats", "shuffles=1 bcast=0 joins=[] scans=[4]")
  pin("q34_pivot", "shuffles=3 bcast=0 joins=[] scans=[4]")
  // the broadcast short-circuit: 2-col pruned lineitem scan, no salt, 1 bcast
  pin("q49_salted_join",
    "shuffles=2 bcast=1 joins=[BroadcastHashJoin=1] scans=[2,2]")
  // r7 streamed form: intersection counts via the codegen'd (shingle) self
  // equi-join + pair hash-agg — no per-shingle collect_list anywhere (the
  // PipelineSpec degenerate test pins that); the static plan prints the
  // shingle-index subtree once per join side (hence the 4th scan), but the
  // exchange feeds both sides at runtime via AQE stage reuse.
  // r8: the shipped maxShingleDf cap adds the df Window over
  // hashpartitioning(shingle) — 2 more static exchanges (one per printed
  // side, AQE-reused into one runtime stage), and that same exchange IS
  // the distribution the self equi-join requires, so the cap costs one
  // sort-within-partitions, not an extra bulk shuffle
  pin("d22_jaccard_pairs",
    "shuffles=10 bcast=3 joins=[BroadcastHashJoin=3] scans=[2,2,2,2]")
  // r6 streamed-bucket form: candidates via the codegen'd (band, bsig)
  // self equi-join (first-collision-band emission, no distinct pass, no
  // per-bucket collected list); verify joins broadcast at this scale.
  // r7: signatures come from the codegen'd min_hash64 banded projection —
  // the explode + k-min signature-agg shuffle is gone; in its place an
  // explicit (band, bsig) repartition below the per-side renames (the very
  // distribution the self-join needs at scale) whose two statically-planned
  // copies AQE reuses at runtime, so the signature projection executes
  // once. Static count unchanged at 7 (2 widen + 2 repartition + 2 verify
  // + 1 final); runtime stages: d23 1.47 → 1.20 s
  pin("d23_minhash_lsh",
    "shuffles=7 bcast=3 joins=[BroadcastHashJoin=3] scans=[2,2,2,2]")
  // r7: the fingerprint is the codegen'd sim_hash60 projection (ZERO
  // exchange — the 60-sum hash-agg shuffle is gone); the bucket equi-join
  // broadcasts at this scale. r9: the explicit (band, bsig) repartition
  // below the per-side renames (the d23 exchange-reuse trick) adds 2
  // static exchanges whose copies AQE fuses into ONE runtime stage — the
  // caller's whole fingerprint pipeline now executes once, not per side
  // (m141's frame+pHash derivation: 3.9 s -> 1.8 s)
  pin("d24_simhash_pairs",
    "shuffles=5 bcast=1 joins=[BroadcastHashJoin=1] scans=[2,2]")
  // broadcast queries × streamed corpus — the NL join is the intended shape
  pin("s29_ann_brute",
    "shuffles=3 bcast=1 joins=[BroadcastNestedLoopJoin=1] scans=[2,2]")
  // r7 OR-amplified form: bucket equi-join against the broadcast query
  // buckets carries (id, tbl, bucket) only; candidates dedup (1 exchange)
  // before the vector-fetch joins (corpus scan pruned to 2 cols, AQE
  // broadcasts the candidate side at this scale) and the top-k window
  pin("s30_ann_lsh", "shuffles=4 bcast=3 joins=[BroadcastHashJoin=3] scans=[2,2,2,2]")
  // r9 pins. Notes on shapes worth pinning:
  //  - d111: widen + segment-text window exchange + doc regroup + sort;
  //    no join anywhere (the decision rides the window).
  //  - t112: ONLY the range-sort exchange is visible — the running-total
  //    stages live behind the LogicalRDD boundary (see docs/PLANS.md).
  //  - m113: zero exchange before the banded pair join (fingerprints are
  //    a pure projection); the join broadcasts at spec scale.
  //  - p114: two narrow fingerprint exchanges into a full-outer SMJ (a
  //    full outer cannot broadcast — this IS the floor).
  //  - s115/s120: identical two-stage ANN skeleton — broadcast-cross
  //    coarse pass, WindowGroupLimit candidates, broadcast-back re-rank.
  //  - e119: ONE user exchange (the (user, run) aggregate reuses the
  //    window's distribution) + the presentation sort.
  //  - q121: changelog-only window; the snapshot side joins broadcast.
  pin("d111_segment_dedup", "shuffles=4 bcast=0 joins=[] scans=[2]")
  pin("t112_token_budget", "shuffles=1 bcast=0 joins=[] scans=[]")
  pin("m113_phash_neardup", "shuffles=3 bcast=1 joins=[BroadcastHashJoin=1] scans=[2,2]")
  pin("p114_snapshot_diff", "shuffles=3 bcast=0 joins=[SortMergeJoin=1] scans=[3,3]")
  pin("s115_rerank_exact", "shuffles=5 bcast=3 joins=[BroadcastHashJoin=2,BroadcastNestedLoopJoin=1] scans=[2,2,2,2]")
  pin("s120_pq_topk", "shuffles=5 bcast=3 joins=[BroadcastHashJoin=2,BroadcastNestedLoopJoin=1] scans=[2,2,2,2]")
  pin("e118_event_paths", "shuffles=2 bcast=0 joins=[] scans=[4]")
  pin("e119_scd2", "shuffles=2 bcast=0 joins=[] scans=[4]")
  pin("q121_cdc_apply", "shuffles=3 bcast=1 joins=[BroadcastHashJoin=1] scans=[1,1,1,4,4,4,4]")
  //  - s123: the coarse pass is an equi BHJ on the bucket id (the prune)
  //    instead of s120's nested-loop cross — same two-stage skeleton.
  pin("s123_lshpq_topk", "shuffles=5 bcast=3 joins=[BroadcastHashJoin=3] scans=[2,2,2,2]")
  // r9 late additions:
  //  - s131: s29's broadcast-cross skeleton + the salted pre-rank — both
  //    window exchanges are fed by partial WindowGroupLimits, so neither
  //    carries the corpus-sized score stream.
  //  - d132: ONE corpus exchange (the per-source window); quality is a
  //    map-side codegen'd projection.
  //  - t133: only the presentation sort is visible — the rank window and
  //    the terasort range sort both live behind the row-index machinery's
  //    LogicalRDD boundary (t112's shape, see docs/PLANS.md).
  //  - d134: d22's capped candidate skeleton ending in a 10-row hash-agg.
  //  - d135: a hash equi-join of the corpus n-gram stream against the
  //    eval phrase set (the contains-NL form was 31x superlinear at 10x);
  //    probe side broadcasts at this scale, shuffle-join at corpus scale.
  //  - d136: two strata-sized aggregates (the 1-row T side enters as a
  //    broadcast NL cross) + a broadcast-joined map-side filter —
  //    temperatureBalance's shape with the water-filling solve.
  pin("d135_phrase_contamination", "shuffles=4 bcast=1 joins=[BroadcastHashJoin=1] scans=[2,2]")
  pin("d136_target_mix", "shuffles=4 bcast=2 joins=[BroadcastHashJoin=1,BroadcastNestedLoopJoin=1] scans=[1,1,2]")
  //  - s137: the d²-pair generate feeds a partial hash-agg IN-STAGE (the
  //    exchange carries ≤ d(d+1)/2 rows per map partition); means
  //    broadcast back onto the dimension-sized moment relation. The
  //    static plan prints the means subtree once per broadcast branch
  //    (hence the 3rd scan + extra exchanges); AQE stage reuse
  //    materializes it once at runtime.
  pin("s137_embedding_covariance", "shuffles=7 bcast=2 joins=[BroadcastHashJoin=2] scans=[1,1,1]")
  //  - t139: widen + the (shingle) window exchange for global df + the
  //    (id) aggregate + presentation sort — the d22 df-cap distribution
  //    with no join anywhere.
  pin("t139_novelty", "shuffles=4 bcast=0 joins=[] scans=[2]")
  pin("s131_hard_negatives", "shuffles=4 bcast=1 joins=[BroadcastNestedLoopJoin=1] scans=[3,3]")
  pin("d132_source_cap", "shuffles=2 bcast=0 joins=[] scans=[3]")
  pin("t133_interleave", "shuffles=1 bcast=0 joins=[] scans=[]")
  pin("d134_jaccard_hist", "shuffles=11 bcast=3 joins=[BroadcastHashJoin=3] scans=[2,2,2,2]")
  // r7 token_counts form: tf is a per-row codegen'd map projection (zero
  // exchange — term frequency is per-document); the df agg and N are
  // broadcast; the only corpus-sized exchange is the top-k window's, fed
  // by a partial WindowGroupLimit so it carries ≤ k·docs rows
  // (the static plan re-prints the scan/widen/tokenize subtree under the df
  // branch — AQE stage reuse materializes it once at runtime)
  pin("t75_tfidf",
    "shuffles=7 bcast=2 joins=[BroadcastHashJoin=1,BroadcastNestedLoopJoin=1] scans=[1,1,2]")
  // contains ONE intentional single-partition sort: the vocab-rank
  // row_number's global Window.orderBy — bounded by the orderBy+limit(vocab)
  // TakeOrderedAndProject feeding it (≤ vocab rows by construction, never
  // corpus-sized). If a refactor ever lets corpus-scale rows reach that
  // window, the exchange/scan counts here change and this pin goes red.
  pin("t66_token_rarity",
    "shuffles=5 bcast=1 joins=[BroadcastHashJoin=1] scans=[1,2]")
  pin("p67_pipeline",
    "shuffles=3 bcast=1 joins=[BroadcastHashJoin=1] scans=[2,3]")

  // bucket join + pair-dedup exchanges carry ids only (vector-free — the
  // dedicated PipelineSpec assertion); vectors enter via the two candidate
  // fetch joins, broadcast at this scale by AQE stats
  pin("d74_embed_neardup_lsh",
    "shuffles=4 bcast=3 joins=[BroadcastHashJoin=3] scans=[2,2,2,2]")
  // r6 bounded shape: the (h,id) occurrence agg feeds BOTH the thin per-span
  // distinct-doc agg and the flag join (a diamond) — the static plan prints
  // that subtree (and its 2-col scan) twice, but AQE's stage cache
  // materializes it once at runtime (pinned by the PipelineSpec reuse test).
  // No aggregate row is ever wider than O(1) bytes — the r5 collect_list
  // shape held one k-element array per k-doc span
  pin("d87_repeated_spans",
    "shuffles=7 bcast=1 joins=[BroadcastHashJoin=1] scans=[2,2]")
  // the rewrite sibling (d88): same bounded (h,id)+thin-h aggregate diamond
  // over SEGMENTS, hot-set broadcast into the flag join, one doc-keyed
  // reassembly agg; the per-doc collected list is document-sized by
  // construction (it rebuilds one input row's text)
  pin("d88_boilerplate_prune",
    "shuffles=6 bcast=1 joins=[BroadcastHashJoin=1] scans=[2,2]")

  // single-scan form: each arrivals union leg is scanned ONCE (the nulled
  // probe key lets definite-new rows ride through the anti-join unmatched),
  // and the confirm anti is pushed through the union — one broadcast anti
  // per leg, history key scans pruned to 2 cols
  pin("d79_bloom_increment",
    "shuffles=3 bcast=2 joins=[BroadcastHashJoin=2] scans=[2,2,3,3]")
  // count agg (1-col scans) → crossJoin(min) is the 1-row BNL, thresholds
  // broadcast-hash-joined back into the 2-col corpus scan
  pin("d81_lang_balance",
    "shuffles=4 bcast=2 joins=[BroadcastHashJoin=1,BroadcastNestedLoopJoin=1] scans=[1,1,2]")
  // one 3-col scan; the two exchanges are the per-lang window hash
  // partitioning and the final presentation sort
  pin("t82_sequence_pack", "shuffles=2 bcast=0 joins=[] scans=[3]")
  // the text family's bigram LM and quality score. t89: the counts are
  // localCheckpointed (no scan in the plan), window-summed and cross-joined
  // with the one-row vocabulary; t110: the 2-col pair stream joins the
  // checkpointed counts and totals; t144's builder runs the row-index jobs,
  // so only the final sort is left; t63: one 2-col scan and the output sort
  pin("t89_bigram_lm",
    "shuffles=3 bcast=1 joins=[BroadcastNestedLoopJoin=1] scans=[]")
  pin("t110_doc_logprob",
    "shuffles=5 bcast=3 joins=[BroadcastHashJoin=2,BroadcastNestedLoopJoin=1] scans=[2]")
  pin("t144_dsir_resample", "shuffles=1 bcast=0 joins=[] scans=[]")
  pin("t63_quality_score", "shuffles=1 bcast=0 joins=[] scans=[2]")
  // r8: pinned after their r7 local inflations (0.49→0.72 s / 0.32→0.39 s)
  // plan-dumped identical to the documented round-6 shapes — host noise.
  // q83: one round-robin exchange bounds the sink file count; the sort is
  // the oracle-compare orderBy. m31: 2-col pruned scan → widen exchange →
  // mapPartitions feature extraction → codegen'd array math → output sort
  pin("q83_compacted_write", "shuffles=1 bcast=0 joins=[] scans=[4]")
  pin("m31_multimodal", "shuffles=2 bcast=0 joins=[] scans=[2]")
  // the CDC shape: the update KEYSET broadcasts (two 1-col key scans),
  // the snapshot is anti-joined in place and never shuffles pre-union
  pin("q85_upsert_snapshot",
    "shuffles=2 bcast=1 joins=[BroadcastHashJoin=1] scans=[1,1,4,4,4]")

  // vector-family pins (the operators whose top-k, bucket projection and
  // dim lookup share one definition in Similarity):
  //  - s170: nearDupPairs' ids-only bucket self-join, candidate dedup,
  //    two vector-fetch joins, the per-node top-k window.
  //  - s172: the s170 graph plus the append: staged corpus buckets, the
  //    affected set, the recompute joins and the left-anti carry.
  //  - d159: the bucket equi-join between corpus and probes, candidate
  //    dedup, two vector-fetch joins; no top-k (cosine threshold).
  //  - s164: ivfTopK's cell join (shuffled at this scale) against the
  //    exact brute-force side, graded by recallAtK.
  //  - s166: the s29 broadcast-cross skeleton over the whitened vectors.
  pin("s170_knn_graph", "shuffles=5 bcast=3 joins=[BroadcastHashJoin=3] scans=[2,2,2,2]")
  pin("s172_knn_graph_append",
    "shuffles=17 bcast=10 joins=[BroadcastHashJoin=10] scans=[1,1,2,2,2,2,2,2,2,2,2,2,2,2]")
  pin("d159_semantic_decontam", "shuffles=3 bcast=3 joins=[BroadcastHashJoin=3] scans=[2,2,2,2]")
  pin("s164_ivf_recall",
    "shuffles=10 bcast=3 joins=[BroadcastHashJoin=2,SortMergeJoin=2,BroadcastNestedLoopJoin=1] scans=[2,2,2,2,2,2]")
  pin("s166_whitened_ann", "shuffles=4 bcast=1 joins=[BroadcastNestedLoopJoin=1] scans=[2,2]")

  /** Jobs the builder of `name` starts before it returns that broadcast a
    * checkpointed relation: a stage holding both an RDD of a
    * BroadcastExchange and a LocalCheckpointRDD. An iterative operator
    * runs its rounds inside the builder call and checkpoints each round's
    * result, so its final plan shows none of the rounds' joins; a round
    * that broadcasts the previous round's result into a
    * BroadcastHashJoin shows here as one such job. */
  private def checkpointBroadcasts(name: String): (DataFrame, Long) = {
    val n = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.stageInfos.exists { st =>
              st.rddInfos.exists(_.scope.exists(_.name == "BroadcastExchange")) &&
                st.rddInfos.exists(_.name == "LocalCheckpointRDD")
            }) n.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val df = SparkEntry.queries(name)(spark, sf("sf0.001"))
      org.apache.spark.graft.ListenerBus.drain(sc)
      (df, n.get)
    } finally sc.removeSparkListener(l)
  }

  //  - d93: the batch's band rows probe batch ∪ history band rows through
  //    one (band, bsig) exchange per side, then the broadcast verify tail.
  //  - d73/d130: connectedComponents' rounds run inside the builder; the
  //    final plan joins the checkpointed label map back (sizes for d73,
  //    the split's broadcast map for d130).
  //  - d128: pageRank's final plan is the checkpointed last round; each of
  //    the 5 rounds broadcasts the rank relation into its edge join.
  pin("d93_incremental_lsh",
    "shuffles=6 bcast=3 joins=[BroadcastHashJoin=3] scans=[2,2,2,2,2,2,2]")
  pin("d73_dup_clusters", "shuffles=3 bcast=0 joins=[SortMergeJoin=1] scans=[]")
  pin("d130_cluster_split", "shuffles=1 bcast=1 joins=[BroadcastHashJoin=1] scans=[1]")
  test("plan fingerprint: d128_pagerank") {
    val (df, rounds) = checkpointBroadcasts("d128_pagerank")
    val got = s"${fingerprint(df)} checkpoint_broadcasts=$rounds"
    val expected = "shuffles=1 bcast=0 joins=[] scans=[] checkpoint_broadcasts=5"
    assert(got == expected,
      s"\nd128_pagerank plan shape changed:\n  got      $got\n  expected $expected")
  }

  test("Engine.session keys shuffle parallelism off the real session width") {
    // every pin above runs under this session — their being green IS the
    // "local plans unchanged by the scale knobs" evidence; here pin the
    // knobs themselves: the AQE floor tracks defaultParallelism and shuffles
    // START 8x wider so AQE coalesces down per-stage from observed bytes
    val par = spark.sparkContext.defaultParallelism
    assert(spark.conf.get("spark.sql.shuffle.partitions") == par.toString)
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
      == (par * 8L).toString)
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true")
  }

  /** Every partitionless WindowExec reachable from `p` — including through
    * the AQE wrapper, cached relations, and subquery plans. LogicalRDD
    * boundaries (the row-index machinery) genuinely end the walk — a
    * window hidden INSIDE that machinery is invisible to any plan
    * inspection, which is why RelationalSpec pins globalNtile at the
    * EXECUTION level instead: its task-metrics test fails if any single
    * task processes ~the whole relation, wherever in the lineage the
    * single-partition stage hides. */
  private def partitionlessWindows(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val buf = scala.collection.mutable.ListBuffer[String]()
    def walk(n: org.apache.spark.sql.execution.SparkPlan): Unit =
      n.foreach { node =>
        node match {
          case w: WindowExec if w.partitionSpec.isEmpty =>
            buf += w.windowExpression.mkString(";").take(160)
          case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
          case im: InMemoryTableScanExec => walk(im.relation.cachedPlan)
          case _ =>
        }
        node.subqueries.foreach(walk)
      }
    walk(p)
    buf.toList
  }

  test("no corpus-sized partitionless window in any driver query plan") {
    // A WindowExec with an EMPTY partition spec moves its entire input
    // through ONE task (Spark's own "Moving all data to a single partition"
    // warning) — fine over a pre-reduced relation, fatal over a corpus at
    // 100 TB. r13's audit left exactly four legitimate sites, each windowing
    // over an input already bounded by orderBy+limit / per-step aggregates;
    // every other query must have ZERO. The allowlist is asserted in BOTH
    // directions so it cannot rot: an allowlisted query that LOSES its
    // bounded window must be removed from this list.
    val allowlisted = Map(
      "t66_token_rarity" -> "vocab-rank row_number over orderBy+limit(vocab) terms (Sampling.tokenRarityScore)",
      "e103_funnel" -> "lag over one row per funnel step (Events.funnel)",
      "e118_event_paths" -> "rank over orderBy+limit(topN) paths (Events.topPaths)",
      "q101_skew_profile" -> "rank/cum_share over orderBy+limit(topN) keys (Diagnostics.keySkewProfile)")
    val dir = sf("sf0.001")
    val offenders = scala.collection.mutable.LinkedHashMap[String, Seq[String]]()
    SparkEntry.queries.foreach { case (name, fn) =>
      val ws = partitionlessWindows(fn(spark, dir).queryExecution.executedPlan)
      if (ws.nonEmpty) offenders(name) = ws
      spark.catalog.clearCache()
    }
    val illegal = offenders.view.filterKeys(!allowlisted.contains(_)).toMap
    assert(illegal.isEmpty,
      s"partitionless corpus-window reintroduced (the r13 q55 shape):\n" +
        illegal.map { case (n, ws) => s"  $n: ${ws.mkString(" | ")}" }.mkString("\n"))
    val stale = allowlisted.keySet -- offenders.keySet
    assert(stale.isEmpty,
      s"allowlisted queries no longer have a partitionless window — prune the allowlist: $stale")
  }

  test("q78 scan is partition-pruned to exactly the 3 filtered days") {
    val df = SparkEntry.queries("q78_partition_prune")(spark, sf("sf0.001"))
    val plan = df.queryExecution.executedPlan match {
      // AQE wraps the physical plan in a leaf node; unwrap to see the scan
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    // the date filter must reach the directory layout, not the row level:
    // 3 of the ~30 day-partitions selected, and the pushed partition filter
    // names the partition column
    assert(scans.head.selectedPartitions.partitionCount == 3,
      s"expected 3 pruned partitions, got ${scans.head.selectedPartitions.partitionCount}")
    val meta = scans.head.metadata.getOrElse("PartitionFilters", "")
    assert(meta.contains("event_date"), s"no partition filter pushed: $meta")
  }
}
