package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Portable.floor6

/** Sketch-based corpus set algebra over Apache DataSketches Theta sketches
  * (Spark's built-in `theta_*` functions, public API since Spark 4.x).
  *
  * Theta is the mergeable-set-ALGEBRA sketch: unlike HLL (q57 — union-only
  * cardinality), theta supports intersection and difference estimates, which
  * is exactly what cross-slice corpus diagnostics need — "how much does
  * source A's shingle vocabulary overlap source B's?" across a 100 TB corpus
  * without ever materializing a distinct-pair join. The state per slice is
  * one bounded sketch (≤ 2^lgK hashes): partial aggregation builds it
  * map-side, one tiny exchange merges per slice, and the pairwise algebra
  * runs on slice-count-sized rows (sources are few by definition — the
  * nested-loop pair join is over sketches, never over data).
  *
  * Determinism contract: a theta sketch is a pure function of the input SET
  * (fixed default seed, hash-threshold retention, order-independent), so
  * results are reproducible run to run. Below 2^lgK distinct values the
  * sketch is in EXACT mode — estimates are the true distinct counts and the
  * whole report replays bit-for-bit in exact SQL (the driver oracle); above
  * it, retention sampling kicks in and estimates carry the documented
  * ~1/sqrt(2^lgK) relative error (the SketchesSpec estimation-mode pin).
  * lgK is the knob: 20 (1M entries, ~8 MB peak per slice) keeps the
  * gate-corpus shingle vocabularies exact at every test SF while a
  * planet-scale vocabulary degrades gracefully to estimation.
  */
object Sketches {

  /** Pairwise shingle-vocabulary overlap between slices: one theta sketch
    * of the distinct word-`n`-gram set per `sliceCol` value, then exact-set
    * algebra per unordered slice pair. Output: (slice_a, slice_b, n_a, n_b,
    * n_inter, n_union, jaccard) for slice_a < slice_b, jaccard 6-dp. */
  def thetaShingleOverlap(df: DataFrame, sliceCol: String, textCol: String,
                          n: Int = 3, lgK: Int = 20): DataFrame = {
    require(n >= 1 && lgK >= 4 && lgK <= 26, s"n=$n lgK=$lgK out of range")
    val sk = df
      .select(col(sliceCol).as("slice"),
        explode(graft.functions.TextFunctions.shingles(col(textCol), n)).as("sh"))
      .groupBy(col("slice"))
      .agg(theta_sketch_agg(col("sh"), lgK).as("sk"))
    val a = sk.select(col("slice").as("slice_a"), col("sk").as("ska"))
    val b = sk.select(col("slice").as("slice_b"), col("sk").as("skb"))
    // Spark's theta_sketch_estimate already yields LONG (exact counts in
    // exact mode, rounded estimates beyond)
    def est(c: Column): Column = theta_sketch_estimate(c)
    a.join(b, col("slice_a") < col("slice_b"))
      .select(col("slice_a"), col("slice_b"),
        est(col("ska")).as("n_a"), est(col("skb")).as("n_b"),
        est(theta_intersection(col("ska"), col("skb"))).as("n_inter"),
        est(theta_union(col("ska"), col("skb"), lgK)).as("n_union"))
      .withColumn("jaccard",
        floor6(col("n_inter").cast("double") / col("n_union").cast("double")))
  }

  /** Cross-snapshot vocabulary NOVELTY — theta_difference completes the
    * set algebra ([[thetaShingleOverlap]] covers union/intersection): how
    * many of the new snapshot's distinct word-`n`-grams appear nowhere in
    * the old one, as one bounded-sketch pass per side (the release-cut
    * "what does this crawl actually add" diagnostic; an exact distinct
    * anti-join at 100 TB is precisely the job this sketch replaces).
    * Output: one row (n_a, n_b, n_novel = |B ∖ A|, novelty = n_novel/n_b
    * 6-dp). Same determinism/exact-mode contract as the overlap. */
  def thetaNovelty(oldDf: DataFrame, newDf: DataFrame, textCol: String,
                   n: Int = 3, lgK: Int = 20): DataFrame = {
    require(n >= 1 && lgK >= 4 && lgK <= 26, s"n=$n lgK=$lgK out of range")
    def sk(df: DataFrame, name: String) = df
      .select(explode(graft.functions.TextFunctions.shingles(col(textCol), n)).as("sh"))
      .agg(theta_sketch_agg(col("sh"), lgK).as(name))
    sk(oldDf, "ska").crossJoin(sk(newDf, "skb"))
      .select(theta_sketch_estimate(col("ska")).as("n_a"),
        theta_sketch_estimate(col("skb")).as("n_b"),
        theta_sketch_estimate(theta_difference(col("skb"), col("ska"))).as("n_novel"))
      .withColumn("novelty",
        floor6(col("n_novel").cast("double") / col("n_b").cast("double")))
  }
}
