package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Portable.floor6

/** Sampling operators for training-data pipelines (beyond the reference
  * surface). Two flavors:
  *  - fractional: per-stratum keep rates via a content-hash threshold;
  *  - exact-count: deterministic k-per-stratum via a content-hash order.
  * Every sample here is a pure function of row content (md5 is portable):
  * reproducible across runs, repartitioning, task retries AND engines. A
  * seeded-RNG form (Spark's `df.stat.sampleBy`) existed through round 4 and
  * was retired: it is reproducible only within one Spark version's RNG and
  * is strictly dominated by [[stratifiedHashFraction]] — callers who want
  * the RNG behavior can call `sampleBy` directly.
  */
object Sampling {

  /** A fraction as a 5-hex-char md5-prefix threshold, quantized to 1/2^20.
    * 'g' sorts above every hex char, so a full fraction keeps all rows
    * exactly; quantization can round a near-1.0 fraction up to 2^20, whose
    * 6-char hex would break the 5-char lexicographic compare — any
    * quantized value at the cap means "keep everything" too. Shared by the
    * samplers AND the oracle-SQL builders, so both engines inline the SAME
    * constant. */
  private[graft] def hex5(f: Double): String = {
    val q = math.round(f * (1 << 20))
    if (q >= (1 << 20)) "g" else f"$q%05x"
  }

  /** Content-hash fractional sample per stratum: keep a row iff the first 5
    * hex chars of md5(id) sort below the stratum's threshold (the fraction
    * quantized to 1/2^20). Engine-portable (md5 + lexicographic hex compare
    * — no RNG state), a stateless map-side filter (zero shuffles at any
    * corpus size), and stable under repartitioning, task retries, and
    * engine swaps — the sample is a pure function of row content. Strata
    * absent from `fractions` are dropped (same contract as `sampleBy`). */
  def stratifiedHashFraction(df: DataFrame, stratumCol: String, idCol: String,
                             fractions: Map[String, Double]): DataFrame = {
    require(fractions.values.forall(f => f >= 0.0 && f <= 1.0),
      "fractions must be in [0, 1]")
    val thresh = fractions.toSeq.sortBy(_._1)
      .foldLeft(lit(null).cast("string")) { case (acc, (sv, f)) =>
        when(col(stratumCol) === sv, lit(hex5(f))).otherwise(acc)
      }
    df.filter(substring(md5(col(idCol).cast("string")), 1, 5) < thresh)
  }

  /** Temperature-balanced stratum mixing at α = 0.5 — the pretraining
    * source-weighting step that flattens a skewed corpus toward (but not
    * all the way to) uniform: each stratum keeps fraction
    * `f_s = sqrt(min_n / n_s)`, so the smallest stratum keeps 100% and a
    * stratum 4× the smallest keeps 50%. The fractions come from the data
    * (one count aggregate, broadcast back); the keep decision is the same
    * engine-portable md5-threshold rule as [[stratifiedHashFraction]].
    *
    * α is fixed at 0.5 because `sqrt` is IEEE correctly-rounded in every
    * engine while `pow`/`ln` are libm-dependent in their last ulp — this
    * keeps the sample bit-reproducible across engines. The ×2^20 quantize
    * is a power-of-two scale (exact), so no rounding ambiguity exists
    * anywhere in the pipeline.
    *
    * Scale shape: one stratum-count shuffle over the corpus, then a
    * stateless broadcast-joined map-side filter — nothing corpus-sized
    * shuffles twice. */
  def temperatureBalance(df: DataFrame, stratumCol: String, idCol: String): DataFrame = {
    // NULL-stratum rows are dropped (the sampleBy/stratifiedHashFraction
    // contract for unlisted strata) — and they must not join the counts
    // either, or a large NULL group would shrink min_n and silently
    // under-sample every real stratum
    val counts = df.filter(col(stratumCol).isNotNull)
      .groupBy(col(stratumCol)).agg(count(lit(1)).as("__n"))
    val minN = counts.agg(min(col("__n")).as("__minn"))
    val thresh = counts.crossJoin(broadcast(minN))
      .withColumn("__q", floor(sqrt(col("__minn").cast("double") /
        col("__n").cast("double")) * (1 << 20)).cast("long"))
      // the min stratum's f = 1.0 exactly → q = 2^20, whose 6-char hex would
      // break the 5-char compare; 'g' sorts above all hex → keep everything
      .withColumn("__thresh", when(col("__q") >= (1 << 20), lit("g"))
        .otherwise(format_string("%05x", col("__q"))))
      .select(col(stratumCol), col("__thresh"))
    df.join(broadcast(thresh), Seq(stratumCol))
      .filter(substring(md5(col(idCol).cast("string")), 1, 5) < col("__thresh"))
      .drop("__thresh")
  }

  /** Water-filling reweight to a TARGET mixture: given target proportions
    * `targets` (summing to 1), keep the LARGEST total T such that every
    * stratum can supply its share — T = min_s n_s / p_s — and sample each
    * stratum down to `f_s = p_s·T / n_s` (the binding stratum keeps ~all
    * rows; everything else is trimmed to match). This is the static
    * mixture-reweighting step (set the en/code/math proportions of a
    * pretraining mix) that [[temperatureBalance]]'s fixed sqrt flattening
    * cannot express: here the MIX is the spec, the data supplies the cap.
    *
    * Deterministic end to end: the solve is two tiny aggregates (stratum
    * counts and a min — the counts relation is strata-sized), the keep
    * decision is the same engine-portable md5-vs-hex-threshold rule as
    * [[stratifiedHashFraction]], and every float op (n/p, p·T/n, ×2^20,
    * floor) runs in the same IEEE order in the oracle, so both engines
    * quantize to the SAME 5-hex threshold. Strata absent from `targets`
    * are dropped (the unlisted-stratum contract).
    *
    * Scale shape: one stratum-count shuffle over the corpus, then a
    * stateless broadcast-joined map-side filter — identical to
    * [[temperatureBalance]]. */
  def targetMix(df: DataFrame, stratumCol: String, idCol: String,
                targets: Map[String, Double]): DataFrame = {
    require(targets.nonEmpty && targets.values.forall(p => p > 0.0 && p <= 1.0),
      "targets must be positive fractions")
    require(math.abs(targets.values.sum - 1.0) < 1e-9,
      s"target proportions must sum to 1, got ${targets.values.sum}")
    val tgt = targets.toSeq.sortBy(_._1)
      .foldLeft(lit(null).cast("double")) { case (acc, (sv, p)) =>
        when(col(stratumCol) === sv, lit(p)).otherwise(acc)
      }
    val counts = df.withColumn("__tgt", tgt).filter(col("__tgt").isNotNull)
      .groupBy(col(stratumCol), col("__tgt")).agg(count(lit(1)).as("__n"))
    val tMax = counts.agg(min(col("__n").cast("double") / col("__tgt")).as("__T"))
    val thresh = counts.crossJoin(broadcast(tMax))
      .withColumn("__q",
        floor(col("__tgt") * col("__T") / col("__n").cast("double") * lit(1048576))
          .cast("long"))
      .withColumn("__thresh", when(col("__q") >= (1 << 20), lit("g"))
        .otherwise(format_string("%05x", col("__q"))))
      .select(col(stratumCol), col("__thresh"))
    df.join(broadcast(thresh), Seq(stratumCol))
      .filter(substring(md5(col(idCol).cast("string")), 1, 5) < col("__thresh"))
      .drop("__thresh")
  }

  /** Quality-percentile pruning: keep the top `frac` of each stratum by
    * `scoreCol` — the relative-threshold curation step (an absolute score
    * cutoff like p67's keeps different amounts per source as quality
    * drifts; a percentile keeps the mix stable). Rank = row_number over
    * (score desc, md5(id), id) — fully deterministic under ties and
    * engine-reproducible; keep rank ≤ ceil(frac · stratum size), the
    * stratum size from a frame-less count over the SAME window partition
    * (no second shuffle). One window shuffle total. */
  def topFractionByScore(df: DataFrame, stratumCol: String, idCol: String,
                         scoreCol: String, frac: Double): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, s"frac=$frac must be in (0, 1]")
    val rankW = Window.partitionBy(col(stratumCol))
      .orderBy(col(scoreCol).desc, md5(col(idCol).cast("string")).asc, col(idCol).asc)
    val sizeW = Window.partitionBy(col(stratumCol))
    df.withColumn("__rk", row_number().over(rankW))
      .withColumn("__n", count(lit(1)).over(sizeW))
      .filter(col("__rk") <= ceil(col("__n") * frac))
      .drop("__rk", "__n")
  }

  /** Exactly `k` rows per stratum, chosen by md5 order of `idCol` — a
    * deterministic pseudo-random total order that any engine reproduces.
    * One window shuffle on the stratum key. */
  def stratifiedExact(df: DataFrame, stratumCol: String, idCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(md5(col(idCol).cast("string")).asc, col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Per-stratum cap: keep at most `k` rows per stratum, the k BEST by
    * `scoreCol` — the C4/Gopher-style per-domain cap that stops one huge
    * source (a crawl dump, a boilerplate-heavy domain) from dominating the
    * training mix no matter how large it grows. Differs from
    * [[stratifiedExact]] (k by hash — unbiased, score-blind) and
    * [[topFractionByScore]] (relative fraction — unbounded count): a cap
    * bounds the ABSOLUTE contribution of a stratum, which is the contract
    * domain balancing needs. Rank = row_number over (score desc, md5(id),
    * id) — fully deterministic under score ties and engine-reproducible.
    * One window shuffle on the stratum key; per-stratum state in the window
    * operator is O(1) rows retained beyond the frame (row_number needs no
    * buffering), so a pathologically hot stratum costs sort spill, not
    * memory. */
  def topKByScore(df: DataFrame, stratumCol: String, idCol: String,
                  scoreCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col(scoreCol).desc, md5(col(idCol).cast("string")).asc, col(idCol).asc)
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .drop("__rk")
  }

  /** Leakage-safe train/val/test split: every row gets exactly one split
    * label, and rows of the same near-dup cluster ALWAYS land in the same
    * split — the property a plain per-row hash split lacks, and without
    * which near-duplicate copies of one document straddle the train/eval
    * boundary and leak evaluation content into training (the
    * split-boundary analogue of d61-style benchmark decontamination).
    *
    * `clusters` is a (nodeCol, componentCol) map as produced by
    * [[Dedup.connectedComponents]] — CANDIDATE-sized (only rows that
    * appear in some near-dup pair). The split key is the cluster
    * representative for clustered rows and the row's own id otherwise, so
    * the decision stays a pure function of content: reproducible across
    * runs, engines, and corpus growth (a new singleton doc never moves an
    * existing cluster's split).
    *
    * `cuts` are (name, fraction) in priority order, fractions summing to
    * 1; the assignment compares the first 5 hex chars of md5(rep) against
    * the cumulative [[hex5]] thresholds — the same engine-portable rule as
    * [[stratifiedHashFraction]].
    *
    * Scale shape: the cluster map is broadcast (candidate-sized — the
    * [[Dedup.dedupByClustersPriority]] contract); the assignment itself is
    * a stateless map-side projection. The corpus is never shuffled. */
  def clusterSplit(df: DataFrame, idCol: String,
                   clusters: DataFrame, nodeCol: String, componentCol: String,
                   cuts: Seq[(String, Double)]): DataFrame = {
    require(cuts.nonEmpty && cuts.forall(_._2 > 0.0), "cuts must be positive")
    require(math.abs(cuts.map(_._2).sum - 1.0) < 1e-9,
      s"cut fractions must sum to 1, got ${cuts.map(_._2).sum}")
    val cum = cuts.map(_._2).scanLeft(0.0)(_ + _).tail
    val comp = clusters.select(col(nodeCol).as(idCol), col(componentCol).as("__comp"))
    val rep = coalesce(col("__comp"), col(idCol))
    val h = substring(md5(rep.cast("string")), 1, 5)
    // last cut is the unconditional else-branch: its cumulative threshold
    // is 1.0, which quantizes to the keep-everything cap anyway
    val splitExpr = cuts.init.zip(cum.init).foldRight(lit(cuts.last._1): Column) {
      case (((name, _), c), els) => when(h < lit(hex5(c)), lit(name)).otherwise(els)
    }
    df.join(broadcast(comp), Seq(idCol), "left")
      .withColumn("rep_id", rep)
      .withColumn("split", splitExpr)
      .drop("__comp")
  }

  /** SOFT DEDUP: inverse-cluster-size training weights — keep every
    * duplicate but downweight it so a document duplicated k times
    * contributes ~one document of gradient mass (the reweight-instead-of-
    * drop alternative to [[Dedup.dedupByClusters]]: duplication frequency
    * often correlates with quality, so dropping loses signal a weight
    * keeps). `clusters` is any (node → component) map (e.g.
    * [[Dedup.connectedComponents]] over near-dup pairs); docs absent from
    * it are singletons under their own id with weight 1.0.
    *
    * weight = 1/cluster_size through [[floor6]], the portable 6 dp
    * floor. Scale shape: the cluster map is candidate-sized; one
    * groups-sized size aggregate; two joins the
    * corpus streams through (AQE broadcasts the map/sizes while they fit).
    * Output: (idCol, cluster_id, cluster_size, weight). */
  def clusterWeights(docs: DataFrame, clusters: DataFrame, idCol: String,
                     nodeCol: String, componentCol: String): DataFrame = {
    val comp = clusters.select(col(nodeCol).as(idCol), col(componentCol).as("__comp"))
    val labeled = docs.select(col(idCol)).join(comp, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__comp"), col(idCol)).as("cluster_id"))
    val sizes = labeled.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "cluster_id")
      .select(col(idCol), col("cluster_id"), col("cluster_size"),
        floor6(lit(1.0) / col("cluster_size")).as("weight"))
  }

  /** Mean corpus-frequency rank of a document's tokens — a cheap
    * language-model-free proxy for "how unusual is this text" (the
    * frequency-rank analogue of a perplexity filter). Two passes over the
    * corpus: (1) one shuffle aggregates global token frequencies, ranked
    * deterministically by (tf desc, token asc) and capped at `vocab` entries
    * so the lookup side stays broadcastable at any corpus size; (2) doc
    * tokens left-join the broadcast vocab (out-of-vocab rank = vocab+1) and
    * aggregate per doc. The per-doc score is an INTEGER rank sum divided by
    * the token count, so it is exact and engine-portable (no float
    * accumulation order to disagree on). Output: (id, rarity). */
  def tokenRarityScore(df0: DataFrame, idCol: String, textCol: String,
                       vocab: Int = 1000): DataFrame = {
    val df = graft.core.Par.widen(df0)
    val toks = df.select(col(idCol).as("id"),
      explode(graft.functions.TextFunctions.tokens(col(textCol))).as("w"))
    // top-`vocab` by (tf desc, token asc) via orderBy+limit — Spark plans a
    // distributed TakeOrderedAndProject (per-partition top-k, no full sort);
    // the row_number window then runs over ≤ vocab rows, a trivial partition.
    val topTf = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc).limit(vocab)
    // "__vocab_rank": the DIRECT window alias doubles as the per-site
    // opt-in token for StrictPlanGuard's allowlist (this is one of the
    // four audited pre-reduced partitionless windows — it ranks ≤ vocab
    // rows, never the corpus)
    val ranked = topTf
      .withColumn("__vocab_rank",
        row_number().over(Window.orderBy(col("c").desc, col("w").asc)))
      .select(col("w"), col("__vocab_rank"))
    toks.join(broadcast(ranked), Seq("w"), "left")
      .groupBy(col("id"))
      .agg(round(sum(coalesce(col("__vocab_rank"), lit(vocab + 1))).cast("double") /
        count(lit(1)), 4).as("rarity"))
  }

  /** Top-n most frequent tokens per group — the explode/count/window
    * shape of corpus term-frequency analytics. Ties break lexicographically
    * for determinism. Output: (group, token, tf, rank). */
  def topTerms(df: DataFrame, groupCol: String, textCol: String, n: Int): DataFrame = {
    val tf = graft.core.Par.widen(df)
      .select(col(groupCol), explode(graft.functions.TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy(col(groupCol), col("token")).agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("tf").desc, col("token").asc)
    tf.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= n)
  }

  /** Top-`k` TF-IDF terms per document — keyword extraction over the
    * corpus. The idf is the log-free rational Robertson form
    * `(N - df + 0.5) / (df + 0.5)`: every input is an integer-derived
    * double (exact) and the single division is IEEE-exactly-rounded, so
    * scores and the induced ranking are bit-identical across engines — a
    * logarithm's last ulp is libm-dependent and would break exact
    * verification. The map `x → ln((N-x+0.5)/(x+0.5))` is monotone in the
    * rational core, so the per-doc RANKING equals the textbook log form's.
    *
    * ONE corpus-level shuffle (the top-k window): term frequency is a
    * per-DOCUMENT statistic, so the tf relation needs no aggregation at
    * all — the codegen'd `token_counts` expression builds each document's
    * (token → tf) map in one pass over its token array and
    * `explode(token_counts(...))` emits exactly the rows the old
    * explode + groupBy(doc, token) hash-agg produced, with zero exchange.
    * df comes from a token-level hash-agg over that tf relation (one row
    * per (doc, token), so count(*) per token IS the document frequency);
    * its exchange carries map-side-combined (token, partial-count) rows,
    * vocab × partitions at most, and the result joins back by AQE's choice
    * (broadcast at any realistic vocab). N comes from a broadcast 1-row
    * aggregate — no driver action. Only the per-doc top-k window
    * (WindowGroupLimit-bounded) repartitions the corpus-sized stream.
    * Output: (id, token, tfidf, rnk), `k` rows per doc. */
  def tfIdfTopTerms(df0: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val df = graft.core.Par.widen(df0)
    val tf = df.select(col(idCol).as("id"),
        explode(graft.functions.TokenCountsExpression.tokenCounts(df0.sparkSession,
          graft.functions.TextFunctions.tokens(col(textCol)))))
      .select(col("id"), col("key").as("token"), col("value").as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n"))
    val scored = tf.join(dfreq, "token").crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * (col("n") - col("df") + 0.5) / (col("df") + 0.5), 4))
    val w = Window.partitionBy(col("id")).orderBy(col("tfidf").desc, col("token").asc)
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("id"), col("token"), col("tfidf"), col("rnk"))
  }

  /** Weight-proportional Bernoulli downsampling to an EXPECTED row budget —
    * the quality-weighted corpus reweighting step (keep probability
    * ∝ per-document quality, scaled so the expected kept count is
    * `targetRows`). Classic pretraining-data curation: better documents
    * survive with proportionally higher probability, and the budget is a
    * single scalar the pipeline controls.
    *
    * Engine-portable by the repo's sampling rules: the keep decision is
    * the md5-prefix threshold compare (as stratifiedHashFraction), the
    * per-row threshold is an INTEGER quantization of w·(target/Σw)·2^20
    * via the portable floor(x + 0.5) IEEE form (no round(), no pow/ln —
    * libm-free), and Σw runs through DECIMAL(27,7) so the scalar is
    * reduction-order independent. Probabilities cap at 1 (the 'g'
    * sentinel sorts above every hex digit); non-positive weights never
    * keep. One scalar aggregate + one broadcast + one corpus scan. */
  def weightedDownsample(df: DataFrame, idCol: String, weightCol: String,
                         targetRows: Long): DataFrame = {
    require(targetRows > 0, "targetRows must be positive")
    val tw = df.agg(sum(col(weightCol).cast("decimal(27,7)")).as("__tw"))
    val q = floor(col(weightCol) * (lit(targetRows.toDouble) / col("__tw").cast("double"))
      * lit(1048576.0) + lit(0.5)).cast("long")
    val thresh = when(q <= 0L, lit("00000"))
      .when(q >= (1L << 20), lit("g"))
      .otherwise(format_string("%05x", q))
    df.crossJoin(broadcast(tw))
      .filter(substring(md5(col(idCol).cast("string")), 1, 5) < thresh)
      .drop("__tw")
  }

  /** Greedy token-budget prefix selection: rank the corpus globally by
    * (`scoreCol` desc, `idCol` asc — a deterministic total order), take
    * documents in rank order while the INCLUSIVE running token total stays
    * within `budgetTokens`, and annotate each survivor with that running
    * total (`cumCol`). This is the "best N-billion-token subset" curation
    * step: the pipeline fixes a token budget, not a document count, and
    * quality decides who makes the cut.
    *
    * Scale shape: the global order is Spark's distributed range sort (one
    * range exchange — the terasort shape, same as [[shuffleShards]]), and
    * the running total comes from per-partition SUMS (a scalar per
    * partition crosses the driver, never rows) added to an in-closure
    * prefix — no single-partition window, no driver-side data. The budget
    * filter is a stateless map over the annotated stream. The document
    * that CROSSES the budget line is dropped (inclusive-total rule), so
    * the kept set never exceeds the budget. */
  def tokenBudgetPrefix(df: DataFrame, idCol: String, scoreCol: String,
                        nTokensCol: String, budgetTokens: Long,
                        cumCol: String = "cum_tokens"): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    // cache() the INPUT relation (narrow: id, score, tokens): the range
    // sort's bounds-sampling pass, the sort stage itself, and the
    // running-total machinery's two RDD jobs would otherwise each re-run
    // the caller's scoring projection from the source — measured 5.6× at
    // 10× corpus when the score is a regex-heavy quality chain, because
    // the per-row scoring dominates every pass. With the input cached the
    // chain runs once; the sort's shuffle files are reused across the two
    // RDD jobs by Spark's exchange reuse, so no pass pays it again. The
    // cached relation is ~3 narrow columns — tens of GB cluster-wide at
    // 100 TB corpus scale, the standard trade for a 3-pass saving.
    // cache entries are keyed by logical plan and cache() is idempotent:
    // if the CALLER already cached this exact relation, our cache() is a
    // no-op on their entry and an unconditional unpersist below would
    // silently evict it — so only unpersist what this call persisted
    val callerCached =
      df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val in = if (callerCached) df else df.cache()
    val ordered = in.orderBy(col(scoreCol).desc, col(idCol).asc)
    val (cum, _) = Relational.withRunningTotalCounted(ordered, nTokensCol, cumCol)
    // the running-total helper has already RUN the sort's map stage (its
    // per-partition-sums job executes eagerly), so the final scan below
    // reads the sort's shuffle files — the cache has served its purpose
    // and holding it for the session's lifetime would leak executor memory
    if (!callerCached) in.unpersist(blocking = false)
    cum.filter(col(cumCol) <= budgetTokens)
  }

  /** Deterministic global shuffle + fixed-size shard assignment — the
    * "write the training set in randomized shards" step. Rows are permuted
    * by md5(id) (content-hash: reproducible across runs, retries, engines),
    * then consecutive runs of `shardSize` become one shard, so a writer can
    * `partitionBy(shardCol)` and land equal-size, randomly-mixed files.
    *
    * Scale shape: the permutation is Spark's distributed range sort (one
    * range exchange — the standard terasort shape) and the global position
    * comes from per-partition COUNTS (a scalar per partition crosses the
    * driver, never rows), so there is no single-partition window and no
    * driver-side data. Output adds (`posCol`, `shardCol`).
    *
    * `idCol` must be unique: the permutation key is (md5(id), id), so a
    * duplicated id gives duplicated keys and the relative order of those
    * rows — hence their shard — is not deterministic.
    *
    * Shard is integer division (`pos div shardSize`), NOT double division:
    * doubles are exact only below 2^53, and at the 100 TB row counts this
    * operator targets a boundary row could round into the wrong shard. */
  def shuffleShards(df: DataFrame, idCol: String, shardSize: Long,
                    posCol: String = "pos", shardCol: String = "shard"): DataFrame = {
    require(shardSize > 0, "shardSize must be positive")
    val keyed = df.withColumn("__shuffle_key", md5(col(idCol).cast("string")))
      .orderBy(col("__shuffle_key"), col(idCol))
    val (indexed, _) = Relational.withRowIndexCounted(keyed, posCol)
    indexed.withColumn(shardCol, expr(s"`$posCol` div ${shardSize}L"))
      .drop("__shuffle_key")
  }

  /** Deterministic source-INTERLEAVED training order: within each stratum
    * rows are permuted by (md5(id), id); globally, every stratum's rank-1
    * row comes before any rank-2 row, so consecutive rows cycle through
    * strata — any contiguous batch of b rows touches at most ⌈b/n_strata⌉+1
    * rows of one stratum. [[shuffleShards]] mixes sources in expectation;
    * this mixes BY CONSTRUCTION — the "balanced batch composition"
    * ordering for training runs where per-batch source balance matters
    * (small batches, few gradient steps, strongly-clustered corpora).
    *
    * Scale shape: one window shuffle on the stratum key for the rank,
    * then the same terasort-shape global range sort + per-partition-count
    * positions as [[shuffleShards]] — no single-partition window, no
    * driver-side data. The rank is `row_number` (int): a single stratum
    * beyond 2³¹ rows needs the shard-then-interleave composition instead
    * (interleave each [[shuffleShards]] shard); the cast to long is for
    * schema stability, not range.
    *
    * Output adds (`rankCol`, `posCol`); `idCol` must be unique. */
  def interleaveByStratum(df: DataFrame, stratumCol: String, idCol: String,
                          rankCol: String = "stratum_rank",
                          posCol: String = "pos"): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(md5(col(idCol).cast("string")).asc, col(idCol).asc)
    val ranked = df.withColumn(rankCol, row_number().over(w).cast("long"))
      .orderBy(col(rankCol), col(stratumCol))
    val (indexed, _) = Relational.withRowIndexCounted(ranked, posCol)
    indexed
  }
}
