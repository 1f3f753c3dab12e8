package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Portable.floor6

/** Graph analytics over candidate-pair graphs (the near-dup graph being
  * the one a training-data pipeline actually owns). [[Dedup.connectedComponents]]
  * answers "which docs are the same"; PageRank answers "which copy is the
  * most CENTRAL" — a principled canonical-pick signal when clusters merge
  * many sources (the hub that everything near-duplicates is usually the
  * original).
  */
object Graph {

  /** PageRank over an UNDIRECTED edge list, fixed iteration count —
    * engineered for exact cross-engine reproducibility, which no floating
    * PageRank normally has:
    *  - every per-node quantity (init, out-contribution, new rank) is
    *    rounded through [[floor6]] at the SAME points in both engines;
    *  - the neighbor-contribution sum runs through DECIMAL(27,7), so the
    *    distributed reduction is order-independent (the bucketCentroids
    *    trick) — two runs, two partitionings, or two ENGINES cannot
    *    disagree in any bit the 6-dp rounding keeps.
    * The result is a deterministic fixed-point iteration the SQL oracle
    * replays with a recursive CTE.
    *
    * Scale shape (the [[Dedup.connectedComponents]] discipline): the
    * symmetrized edge list is cached pre-partitioned on the contribution
    * key `m` at the width its size calls for and crosses the network ONCE
    * ([[graft.core.Par.edgeCache]]); each round BROADCASTS the
    * node-sized rank relation into the edge join, so the edge cache never
    * moves again (the rank relation is re-sent to every executor every
    * round: 4M nodes × ~16 B ≈ 64 MB serialized, so the cost at cluster
    * scale is rounds × executors × nodes), and `localCheckpoint`
    * truncates lineage per round (superseded round blocks released after
    * the next round materializes). Isolated nodes don't exist in an edge
    * list; every node has degree ≥ 1, so no dangling-mass correction is
    * needed.
    *
    * `iters` guidance: each round is one edge-join job, so cost is
    * iters × |edges|. For the canonical-pick use the ranking ORDER is
    * what matters, and on near-dup graphs — tight, dense clusters — the
    * within-cluster order stabilizes within about the cluster diameter
    * (the d73 convergence argument); 5 rounds ranks them, 10+ is for
    * rank VALUES on long-diameter graphs. Returns (node, pr). */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 10, damping: Double = 0.85,
               teleport: Double = 0.15): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    // teleport is an EXPLICIT constant, never computed as 1 − damping:
    // 1.0 - 0.85 = 0.15000000000000002 in IEEE double, a different number
    // than the literal 0.15 the SQL oracle would write — the kind of
    // last-ulp divergence the whole design exists to exclude
    // Shared eager-truncate discipline (see Checkpointing's scaladoc,
    // pinned by CheckpointingSpec): pageRank was the WIDER deadlock window
    // pre-fix — every round runs an explicit broadcast(prIn) exchange, and
    // all rounds' lazy checkpoints used to materialize in one cascaded
    // post-loop action right into those exchange threads.
    val truncator = new Checkpointing.Truncator(reliable = false)
    // The edge cache (Par.edgeCache) is partitioned on the CONTRIBUTION-SUM
    // key `m`, not the join key `n`: the broadcast join imposes no
    // distribution on the edge list, but the per-round groupBy(m) does, and
    // alias-aware output partitioning carries m→node through the project,
    // so after the one-time build NO round shuffles the edge list at all.
    val (sym, _, release) = graft.core.Par.edgeCache(edges, col(srcCol), col(dstCol), truncator)
    // Degrees are node-sized and read every round — cache them too, or
    // each round re-runs the edge-sized degree aggregation. The edge list
    // is symmetric, so a node's degree is its row count under m as well as
    // under n, and grouping the cache on m lays the nodes out on node at
    // the edge cache's width with no shuffle: the per-round `sums`
    // aggregate has that same layout, so the nodes⋈sums join shuffles
    // neither side.
    val nodes = sym.groupBy(col("m")).agg(count(lit(1)).as("deg"))
      .select(col("m").as("node"), col("deg")).cache()
    val nN = nodes.count() // node-sized aggregate, one driver scalar; materializes both caches
    var pr = truncator.truncate(nodes.select(col("node"), col("deg"),
      floor6(lit(1.0) / lit(nN.toDouble)).as("pr")))
    for (_ <- 1 to iters) {
      // Explicit broadcast: the truncated rank relation is a LogicalRDD
      // with no stats, so the planner would otherwise shuffle-join against
      // the (much larger) edge cache every round. The rank side is
      // NODE-sized — the same candidate-sized-broadcast contract
      // dedupByClusters runs on — and broadcasting it keeps the edge list
      // where its cache already lives. (At sf0.1 the d128 cost is
      // dominated by building the 271k-pair graph plus ~1 s/round of
      // join+agg — the iterative floor of the CC family.)
      val prIn = pr.select(col("node").as("n"), floor6(col("pr") / col("deg")).as("__c"))
      val sums = sym.join(broadcast(prIn), "n")
        .select(col("m").as("node"), col("__c"))
        .groupBy(col("node"))
        .agg(sum(col("__c").cast("decimal(27,7)")).as("__s"))
      pr = truncator.truncate(nodes.join(sums, Seq("node"), "left")
        .select(col("node"), col("deg"),
          floor6(lit(teleport) / lit(nN.toDouble) +
            lit(damping) * coalesce(col("__s").cast("double"), lit(0.0))).as("pr")))
    }
    // Every round already materialized and released its predecessor inside
    // truncate (the eager discipline above) — no post-loop cascade. The
    // per-round-action pacing was also the faster, lower-variance shape
    // when both were measured at sf0.1 on the 271k-edge near-dup graph
    // (per-round 13.5 s vs cascade 12.8-26.8 s); the cost is the ten
    // edge-join rounds themselves, see the iters guidance above.
    release()
    nodes.unpersist()
    pr.select(col("node"), col("pr"))
  }

  /** Per-node TRIANGLE COUNTS + local clustering coefficient over an
    * undirected edge list — the community-structure diagnostic on a
    * near-dup or mutual-kNN graph: a node whose neighbors all know each
    * other (coefficient → 1) sits in a tight duplicate/template clique; a
    * hub with coefficient → 0 chains unrelated regions (the thing the
    * mutual-kNN gate exists to prevent — this measures that it worked).
    *
    * Triangles via the canonical-orientation join: edges deduped to
    * a < b, then (x,y)⋈(y,z)⋈(x,z) — each triangle counted exactly once.
    * Work is Σ_v deg(v)², so the join is cheap where degree is small:
    * [[Similarity.mutualKnnEdges]] caps degree at k by construction; a
    * near-dup graph's degree is a doc's near-duplicate count, which is not
    * capped (a template copied m times is a clique of degree m − 1).
    * On a high-degree graph, orient by (degree, id) before the wedge join
    * (bounds work by arboricity) — not done here: the extra degree join
    * costs on every call.
    *
    * coefficient = 2·T / (deg·(deg−1)) through the portable 6 dp floor;
    * deg < 2 → 0.0 (division-free). Output: (id, degree, triangles,
    * clustering) — one row per node WITH at least one edge. */
  def triangleStats(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val e1 = e.toDF("x", "y")
    val e2 = e.toDF("y2", "z")
    val e3 = e.toDF("x3", "z3")
    val tris = e1.join(e2, col("y") === col("y2"))
      .join(e3, col("x") === col("x3") && col("z") === col("z3"))
      .select(col("x"), col("y"), col("z"))
    val triPerNode = tris
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("__t"))
    val deg = e.select(col("a").as("id")).unionAll(e.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    deg.join(triPerNode, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("__t"), lit(0L)).as("triangles"),
        when(col("degree") < 2, lit(0.0))
          .otherwise(floor6(lit(2.0) * coalesce(col("__t"), lit(0L)) /
            (col("degree") * (col("degree") - 1))))
          .as("clustering"))
  }

  /** LABEL PROPAGATION over a similarity graph — pseudo-labeling: seed
    * labels spread to unlabeled nodes by similarity-weighted neighbor
    * vote, `rounds` fixed iterations (the semi-supervised workhorse for
    * labeling the 99% of a crawl no classifier has seen, off a small
    * trusted seed set).
    *
    * `graph` is a directed edge list (node_id, neighbor_id, cosine) — the
    * [[Similarity.knnGraph]] shape: a node's vote pool is its OWN top-k
    * list. Votes are weighted by the edge's 4dp cosine carried in
    * DECIMAL(14,4) — exact sums in any reduction order, so the winner
    * (max weight, ties to the smallest label) is engine-portable with NO
    * float accumulation to disagree on. Seeds are CLAMPED (a seed never
    * re-labels); an unlabeled node with zero labeled reachables in
    * `rounds` hops stays unlabeled (absent from the output — the caller's
    * left join reads that as NULL, the honest answer).
    *
    * Scale shape per round: one edge×labels shuffled hash join, built on
    * the node-sized label map (ids+label only), one
    * (node,label)-keyed aggregate bounded by nodes × |labels|, one
    * per-node WindowGroupLimit rank; the label map is staged per round
    * (the CC plan-growth discipline, bounded by `rounds` ≤ 5). */
  def labelPropagate(graph: DataFrame, seeds: DataFrame, idCol: String,
                     labelCol: String, rounds: Int = 2): DataFrame = {
    require(rounds >= 1 && rounds <= 5,
      s"labelPropagate: rounds=$rounds out of [1,5] — each round is an " +
        "edge join; label quality saturates fast and plans grow per round")
    import org.apache.spark.sql.expressions.Window
    // the edge list is consumed by EVERY round's vote join — staged once,
    // or a heavy producer lineage (knnGraph: bucket join + cosine + rank)
    // would re-run per round (r17 review; the t169 staging rule)
    val g = graft.ops.Checkpointing.stage(
      graph.select(col("node_id"), col("neighbor_id"),
        col("cosine").cast("decimal(14,4)").as("__w")))
    val seedMap = seeds.select(col(idCol).as("__id"), col(labelCol).as("__lab"))
    var lab = seedMap
    for (_ <- 1 to rounds) {
      // the hint builds the hash table on the label map: both sides are
      // shuffle stages of unknown size, so AQE would broadcast whichever
      // finished first, and the join's generated class would change with
      // that race (the Relational.bindColumns case)
      val votes = g
        .join(lab.withColumnRenamed("__id", "neighbor_id").hint("shuffle_hash"), Seq("neighbor_id"))
        .groupBy(col("node_id"), col("__lab"))
        .agg(sum(col("__w")).as("__v"))
      val w = Window.partitionBy(col("node_id"))
        .orderBy(col("__v").desc, col("__lab").asc)
      val winners = votes.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("node_id").as("__id"), col("__lab"))
      lab = graft.ops.Checkpointing.stage(seedMap.unionByName(
        winners.join(seedMap.select(col("__id")), Seq("__id"), "left_anti")))
    }
    lab.select(col("__id").as(idCol), col("__lab").as("pred_label"))
  }
}
