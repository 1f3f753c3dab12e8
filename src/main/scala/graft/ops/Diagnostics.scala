package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Portable.floor6

/** Data-distribution diagnostics — the profiling pass that decides HOW to
  * run the expensive queries (beyond the reference surface; a single-node
  * engine never needs to know its keys are skewed).
  *
  * At cluster scale the first question about any join or aggregation key is
  * its distribution: one hot key turns a 1000-executor shuffle into a
  * single-straggler stage. The profile below is what that decision reads —
  * heavy hitters with their share of the relation, plus the global
  * skew ratio (max key count / mean key count) that picks between a plain
  * shuffle, AQE skew splitting, and explicit salting (ops/Relational's
  * salted join).
  */
object Diagnostics {

  /** Top-N heavy hitters of `keyCol` with per-key share and cumulative
    * share, carrying the global stats (distinct keys, total rows, skew
    * ratio) on every row so the relation is flat and self-contained.
    *
    * Scale shape: ONE map-side-combined hash exchange on the key builds the
    * counts relation (|keys| rows — orders of magnitude smaller than the
    * data); the top-N is a TakeOrdered over that relation (per-partition
    * heaps, NO single-partition window over all keys), and the rank /
    * cumulative window runs over only the N surviving rows — cumulative
    * share of the sorted prefix needs nothing beyond the prefix. Global
    * stats are a second tiny agg over counts, broadcast back via cross
    * join. No row of the base relation is ever shuffled twice. */
  def keyProfile(df: DataFrame, keyCol: String, topN: Int): DataFrame = {
    require(topN >= 1, "topN must be >= 1")
    val counts = df.groupBy(col(keyCol).as("key")).agg(count(lit(1)).as("cnt"))
    val stats = counts.agg(
      count(lit(1)).as("n_keys"),
      sum(col("cnt")).as("total_rows"),
      max(col("cnt")).as("max_cnt"))
    // a NULL key is a legal group (count(1) counts it); Spark default-sorts
    // nulls FIRST ascending while DuckDB sorts them LAST, so a null group
    // tying at the topN boundary would select different rows per engine —
    // pin nulls-last explicitly on the tie-break (oracle says NULLS LAST)
    val ord = Window.orderBy(col("cnt").desc, col("key").asc_nulls_last)
    // "__skew_rank"/"__skew_cum": DIRECT window aliases (the rank's cast
    // moves to the final projection — a nested cast would hide the window
    // behind a synthetic `_we0` alias) doubling as StrictPlanGuard
    // allowlist tokens (audited pre-reduced site: ≤ topN rows)
    counts
      .orderBy(col("cnt").desc, col("key").asc_nulls_last).limit(topN)
      .withColumn("__skew_rank", row_number().over(ord))
      .withColumn("__skew_cum", sum(col("cnt")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(stats))
      .select(
        col("__skew_rank").cast("long").as("rank"),
        col("key").cast("string").as("key"), col("cnt"),
        floor6(col("cnt") / col("total_rows")).as("share"),
        floor6(col("__skew_cum") / col("total_rows")).as("cum_share"),
        col("n_keys"), col("total_rows"),
        // max_cnt·n_keys in doubles: the long product overflows at
        // plausible (hot key × high cardinality) combinations under ANSI
        floor6(col("max_cnt").cast("double") * col("n_keys") / col("total_rows"))
          .as("skew_ratio"))
  }
}
