package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Portable.floor6

/** Column summary statistics — the reference's `view_stats` sink
  * (agnes src/view_stats.rs:219-303: Field/Type/Min/Max/Sum/Mean/StDev per
  * column) plus the per-statistic primitives from src/stats.rs.
  *
  * Everything runs in ONE aggregation pass over the table (single scan, one
  * reduce) — the reference also folds each column once but re-walks per
  * statistic; here the statistics for every column are computed together and
  * the tiny 1×(7·N) result row is reshaped driver-side.
  *
  * Reference NA edge cases reproduced (src/stats.rs:76-83, 139-160):
  * mean/variance of an all-NA column are 0.0 (not NULL); min/max are NULL.
  */
object Stats {

  /** Long-format stats table: one row per requested numeric column with
    * (field, dtype, n, n_na, min, max, sum, mean, stdev). Deterministic row
    * order = input column order.
    */
  def describe(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs: Seq[Column] = cols.flatMap { c =>
      val d = col(c).cast(DoubleType)
      Seq(
        count(d).as(s"${c}__n"),
        (count(lit(1)) - count(d)).as(s"${c}__n_na"),
        min(d).as(s"${c}__min"),
        max(d).as(s"${c}__max"),
        coalesce(sum(d), lit(0.0)).as(s"${c}__sum"),
        coalesce(avg(d), lit(0.0)).as(s"${c}__mean"),
        coalesce(stddev_samp(d), lit(0.0)).as(s"${c}__stdev"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    // Reshape the single wide row into long format with stack — still one job.
    val fields = cols.zipWithIndex.map { case (c, i) =>
      val dtype = df.schema(c).dataType.simpleString
      s"'$c', '$dtype', `${c}__n`, `${c}__n_na`, `${c}__min`, `${c}__max`, `${c}__sum`, `${c}__mean`, `${c}__stdev`"
    }.mkString(", ")
    wide.select(expr(
      s"stack(${cols.size}, $fields) as (field, dtype, n, n_na, min, max, sum, mean, stdev)"))
  }

  /** Approximate quantiles via Spark's Greenwald-Khanna sketch
    * (`approx_percentile`) — the 100 TB tier of q39's exact percentiles: an
    * exact quantile needs a full sort, the sketch is one pass with bounded
    * memory and rank error ≤ 1/`accuracy`. Returns one row per group with an
    * array column of the requested quantiles. */
  def approxQuantiles(df: DataFrame, keys: Seq[String], valueCol: String,
                      probs: Seq[Double], accuracy: Int = 10000): DataFrame = {
    val pcts = typedLit(probs)
    val grouped = if (keys.isEmpty) df.groupBy() else df.groupBy(keys.map(col): _*)
    grouped.agg(percentile_approx(col(valueCol), pcts, lit(accuracy)).as("approx_quantiles"))
  }

  /** Count-min sketch for heavy-hitter frequency estimates: constant memory,
    * one pass, point-query estimates that only ever over-count (by ≤ eps·N
    * with probability 1-delta) — the frequency analogue of the HLL tier in
    * [[ScaleJoins.distinctCounts]]. Driver-side queryable sketch. */
  def countMinSketch(df: DataFrame, valueCol: String,
                     eps: Double = 0.001, delta: Double = 0.01,
                     seed: Int = 42): org.apache.spark.util.sketch.CountMinSketch =
    df.stat.countMinSketch(valueCol, eps, delta, seed)

  /** MERGEABLE moment sketch: one row per column carrying the algebraic
    * aggregation state (n, n_na, min, max, Σx, Σx²) with the sums held in
    * DECIMAL over the DECIMAL(18,`scale`)-cast values — exact and
    * reduction-order independent, so two sketches computed on disjoint
    * slices merge to EXACTLY the full-recompute sketch ([[mergeMoments]]).
    *
    * This is the statistic-maintenance primitive a 100 TB warehouse needs:
    * a daily snapshot's stats come from merging yesterday's sketch with the
    * delta slice's sketch — O(cols) merge work — instead of rescanning the
    * history. One aggregation pass per slice (all columns together, the
    * [[describe]] shape); the sketch relation is cols-sized, never
    * data-sized.
    *
    * `scale` is the portability contract on the cast (values are rounded
    * to `scale` decimal places before any arithmetic): callers pick the
    * scale their data is exact at — 2 for money/quantity columns. */
  def momentsSketch(df: DataFrame, cols: Seq[String], scale: Int = 2): DataFrame = {
    require(cols.nonEmpty, "momentsSketch: at least one column required")
    // the reshape splices names into a parsed stack(...) string — reject
    // the two characters that would break (or inject into) it (r17 review)
    cols.foreach { c =>
      require(!c.contains("'") && !c.contains("`") && !c.contains("\\"),
        s"momentsSketch: column name '$c' contains a quote/backtick/" +
          "backslash — unsupported in the stack reshape (the parser would " +
          "rewrite escape sequences, silently changing the field label)")
    }
    val aggs: Seq[Column] = cols.flatMap { c =>
      val d = col(c).cast(DecimalType(18, scale))
      Seq(
        count(d).as(s"${c}__n"),
        (count(lit(1)) - count(d)).as(s"${c}__n_na"),
        min(d).as(s"${c}__min"),
        max(d).as(s"${c}__max"),
        coalesce(sum(d), lit(0).cast(DecimalType(28, scale))).as(s"${c}__sum"),
        coalesce(sum(d * d), lit(0).cast(DecimalType(38, 2 * scale))).as(s"${c}__sumsq"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val fields = cols.map { c =>
      s"'$c', `${c}__n`, `${c}__n_na`, `${c}__min`, `${c}__max`, `${c}__sum`, `${c}__sumsq`"
    }.mkString(", ")
    wide.select(expr(
      s"stack(${cols.size}, $fields) as (field, n, n_na, min, max, sum, sumsq)"))
  }

  /** [[momentsSketch]] KEYED BY GROUP instead of by column: the same
    * mergeable state (n, n_na, min, max, Σx, Σx²) per key combination over
    * ONE value column — the shape a per-source/per-language/per-event-type
    * monitoring feed maintains, and (because every statistic here is an
    * algebraic aggregate) the shape Structured Streaming's state store
    * maintains incrementally across micro-batches with map-side partials
    * (q172 runs exactly that). */
  def momentsSketchBy(df: DataFrame, keys: Seq[String], valueCol: String,
                      scale: Int = 2): DataFrame = {
    require(keys.nonEmpty, "momentsSketchBy: at least one key required")
    val d = col(valueCol).cast(DecimalType(18, scale))
    df.groupBy(keys.map(col): _*).agg(
      count(d).as("n"),
      (count(lit(1)) - count(d)).as("n_na"),
      min(d).as("min"), max(d).as("max"),
      coalesce(sum(d), lit(0).cast(DecimalType(28, scale))).as("sum"),
      coalesce(sum(d * d), lit(0).cast(DecimalType(38, 2 * scale))).as("sumsq"))
  }

  /** Merge moment sketches from disjoint slices: counts and decimal sums
    * add, extrema take min/max — all associative/commutative, so ANY merge
    * tree (pairwise daily, hierarchical by region, streaming micro-batch)
    * yields the identical sketch. Keys-sized input, one tiny hash agg.
    * `keys` defaults to the per-column sketch's "field"; pass the group
    * keys for [[momentsSketchBy]] output. */
  def mergeMoments(sketches: Seq[DataFrame],
                   keys: Seq[String] = Seq("field")): DataFrame = {
    require(sketches.nonEmpty, "mergeMoments: at least one sketch required")
    // exact-merge contract guard (r17 advice): unionByName silently WIDENS
    // mixed-SCALE decimal columns, so merging a scale=2 sketch with a
    // scale=4 one would produce a result matching neither full recompute.
    // Fail loudly on a scale mismatch. Precision is NOT part of the
    // contract: a post-aggregation slice can carry a narrower precision at
    // the same scale (e.g. sum DecimalType(28,2) vs (38,2)) and the union's
    // precision widening is value-exact — only the scale changes values.
    def scaleOf(dt: org.apache.spark.sql.types.DataType): Option[Int] = dt match {
      case d: DecimalType => Some(d.scale)
      case _ => None
    }
    val ref = sketches.head.schema
    for (sk <- sketches.tail; c <- Seq("sum", "sumsq")) {
      val (a, b) = (scaleOf(ref(c).dataType), scaleOf(sk.schema(c).dataType))
      require(a == b,
        s"mergeMoments: sketch column '$c' has decimal scale $b but the " +
          s"first sketch has $a — sketches must share one decimal scale " +
          "to merge exactly")
    }
    sketches.reduce(_.unionByName(_))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("n")).as("n"), sum(col("n_na")).as("n_na"),
        min(col("min")).as("min"), max(col("max")).as("max"),
        sum(col("sum")).as("sum"), sum(col("sumsq")).as("sumsq"))
  }

  /** Human-facing report over a moment sketch: derives mean/stdev from the
    * exact decimal state through the q09 portable-double recipe (identical
    * decimals → identical doubles → identical rounded results in any
    * engine). All-NA groups: mean/stdev NULL here (the sketch is a
    * maintenance primitive, not the agnes view_stats sink — [[describe]]
    * keeps the reference's 0.0 contract). `keys` as in [[mergeMoments]]. */
  def momentsReport(sk: DataFrame,
                    keys: Seq[String] = Seq("field")): DataFrame = {
    val sumD = col("sum").cast(DoubleType)
    val sqD = col("sumsq").cast(DoubleType)
    sk.select(keys.map(col) ++ Seq(col("n"), col("n_na"),
      round(col("min").cast(DoubleType), 4).as("min"),
      round(col("max").cast(DoubleType), 4).as("max"),
      round(sumD, 2).as("sum"),
      when(col("n") > 0, round(sumD / col("n"), 6)).as("mean"),
      // greatest(…, 0): for (near-)constant columns the double rounding of
      // sum²/n can exceed sumsq by an ulp, and sqrt of that tiny negative
      // is NaN instead of ~0 (r17 advice). The clamp is identity whenever
      // the variance term is non-negative — every current oracle row — and
      // the oracle SQL mirrors it, so both engines stay bit-identical.
      when(col("n") > 1,
        round(sqrt(greatest((sqD - sumD * sumD / col("n")) / (col("n") - 1),
          lit(0.0))), 6)).as("stdev")): _*)
  }

  /** [[psiDrift]]'s calibration-range derivation, exposed for the
    * streaming variant (q175 computes the static range batch-side, then
    * bins the stream with it). Loud failure on an empty/all-NULL slice. */
  def psiBaseRange(base: DataFrame, valueCol: String): (Double, Double) = {
    val v = col(valueCol).cast(DoubleType)
    val extrema = base.filter(v.isNotNull).agg(min(v), max(v)).head()
    require(!extrema.isNullAt(0),
      s"psiBaseRange: base slice has no non-null '$valueCol' values — " +
        "an empty calibration window defines no bins")
    val (mn, mx) = (extrema.getDouble(0), extrema.getDouble(1))
    // a CONSTANT calibration window is as binless as an empty one — and
    // silently worse: w = 0 collapses both sides into bin 0 and the report
    // reads PSI ~ 0 "stable" for arbitrarily drifted current data. The
    // monitoring metric must not mask exactly the event it exists to
    // catch (r17 second review).
    require(mx > mn,
      s"psiBaseRange: base slice's '$valueCol' is constant at $mn — " +
        "a zero-width calibration window defines no bins")
    (mn, mx)
  }

  /** The bin assignment under [[psiDrift]]: equi-width cell over
    * [mn, mn + bins·w), out-of-range clamped to the edge cells, the
    * degenerate w = 0 range collapsing to bin 0. A pure codegen'd
    * expression — usable identically over a batch relation or a stream
    * (q175 bins the stream with it and lets the state store keep the
    * per-bin counts). Callers filter NULLs themselves. */
  def psiBinExpr(v: Column, mn: Double, w: Double, bins: Int): Column = {
    val raw =
      if (w == 0.0) lit(0L)
      else floor((v - lit(mn)) / lit(w)).cast("long")
    least(greatest(raw, lit(0L)), lit(bins - 1L))
  }

  /** The report tail under [[psiDrift]]: from per-bin counts (any
    * producer — batch aggregation or a streaming sink's state) to the
    * full per-bin report + PSI total. Same exactness contract as
    * [[psiDrift]]. `baseCounts`/`curCounts`: (bin, n) relations, missing
    * bins allowed (the spine fills zeros). */
  def psiReport(spark: org.apache.spark.sql.SparkSession,
                baseCounts: DataFrame, curCounts: DataFrame,
                mn: Double, w: Double, bins: Int): DataFrame = {
    require(bins >= 2, s"psiReport: bins=$bins must be >= 2")
    val spine = spark.range(bins).select(col("id").as("bin"))
    // bins-sized, but its lineage holds both count passes and it feeds
    // the totals aggregate AND the final projection — staged once
    val joined = graft.ops.Checkpointing.stage(spine
      .join(baseCounts.toDF("bin", "base_n"), Seq("bin"), "left")
      .join(curCounts.toDF("bin", "cur_n"), Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("base_n"), lit(0L)).as("base_n"),
        coalesce(col("cur_n"), lit(0L)).as("cur_n")))
    val totals = joined.agg(sum(col("base_n")).as("__nb"), sum(col("cur_n")).as("__nc"))
    val p = (col("base_n") + lit(0.5)) / (col("__nb") + lit(0.5) * lit(bins))
    val q = (col("cur_n") + lit(0.5)) / (col("__nc") + lit(0.5) * lit(bins))
    val terms = joined.crossJoin(broadcast(totals))
      .withColumn("p", p).withColumn("q", q)
      .withColumn("__term", ((col("p") - col("q")) * log(col("p") / col("q")))
        .cast("decimal(27,7)"))
    val psi = terms.agg(sum(col("__term")).as("__psi"))
    terms.crossJoin(broadcast(psi))
      .select(col("bin"), round(lit(mn) + col("bin") * lit(w), 6).as("bin_lo"),
        col("base_n"), col("cur_n"),
        floor6(col("p")).as("p"), floor6(col("q")).as("q"),
        col("__term").cast(DoubleType).as("term"),
        floor6(col("__psi").cast(DoubleType)).as("psi"))
  }

  /** The binning aggregation under [[psiDrift]] — (bin, n) counts over
    * non-null values, the exact relation [[psiReport]] consumes. ONE copy
    * (r17 second review): batch and the q175 stream bin through the same
    * code, so the binning contract cannot silently diverge between them. */
  def psiBinnedCounts(df: DataFrame, valueCol: String, mn: Double, w: Double,
                      bins: Int): DataFrame = {
    val v = col(valueCol).cast(DoubleType)
    df.filter(v.isNotNull)
      .select(psiBinExpr(v, mn, w, bins).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
  }

  /** POPULATION STABILITY INDEX drift report: how far `current`'s
    * distribution of `valueCol` has moved from `base`'s — THE standard
    * monitoring metric for "is this week's data still shaped like the
    * data the thresholds were calibrated on" (rule of thumb: < 0.1 stable,
    * 0.1–0.25 drifting, > 0.25 shifted).
    *
    * Bins: `bins` equi-width cells over BASE's [min, max] (the calibration
    * window defines the scale); out-of-range current values clamp into the
    * edge cells, every cell emits a row (zero counts included — absence is
    * never evidence). Probabilities are add-0.5 smoothed (the t110 add-k
    * recipe — no ln(0), and the smoothing constant is part of the
    * contract, not an epsilon hack). PSI = Σ (p−q)·ln(p/q) with each term
    * rounded through DECIMAL(27,7) pre-sum and the total floor-rounded
    * 6 dp — identical doubles → identical PSI in any engine, any
    * reduction order. NULL values never enter a bin.
    *
    * Scale shape: one aggregate per side for the range/counts (map-side
    * combined), a bins-sized spine join, the total via a broadcast cross
    * join (never a partitionless window). Output: one row per bin
    * (bin, bin_lo, base_n, cur_n, p, q, term) + the repeated `psi` total
    * column — the whole report is bins-sized. */
  def psiDrift(base: DataFrame, current: DataFrame, valueCol: String,
               bins: Int = 10): DataFrame = {
    require(bins >= 2, s"psiDrift: bins=$bins must be >= 2")
    val (mn, mx) = psiBaseRange(base, valueCol)
    val w = (mx - mn) / bins
    psiReport(base.sparkSession,
      psiBinnedCounts(base, valueCol, mn, w, bins),
      psiBinnedCounts(current, valueCol, mn, w, bins), mn, w, bins)
  }

  /** Per-column NA / existing counts (agnes `NaCount`, src/stats.rs:12-35). */
  def naCounts(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"${c}__exists"),
          (count(lit(1)) - count(col(c))).as(s"${c}__na"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val fields = cols.map(c => s"'$c', `${c}__exists`, `${c}__na`").mkString(", ")
    wide.select(expr(s"stack(${cols.size}, $fields) as (field, n_exists, n_na)"))
  }
}
