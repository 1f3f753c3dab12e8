package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Portable.floor6

/** Ordered-sequence analytics over an event stream (beyond the reference
  * surface — the product-analytics queries a clickstream warehouse runs).
  */
object Events {

  /** Funnel analysis: how many users reach each step of an ORDERED step
    * sequence, where step k+1 counts only if it happens strictly after the
    * user's earliest completion of step k.
    *
    * Declarative chain, no per-user sequence scan: step 1 is a filtered
    * min-timestamp aggregate; each later step filters its event type,
    * joins the (user, prev_ts) relation of the previous step, and takes
    * the min timestamp after it. Every stage shrinks: step k's relation
    * holds only users who reached it, and AQE broadcasts it against the
    * filtered event scan (the big side is scanned once per step with its
    * type filter pushed to parquet). Per-step output: users reached,
    * conversion from the previous step, conversion from step 1 — computed
    * over the tiny per-step count relation.
    *
    * Events with NULL user or timestamp never match (SQL join/filter
    * semantics). Ties (same timestamp) do NOT advance the funnel: strictly
    * increasing timestamps keep "after" unambiguous and engine-portable. */
  def funnel(events: DataFrame, userCol: String, typeCol: String,
             tsCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "steps must be non-empty")
    val spark = events.sparkSession
    import spark.implicits._
    // (user, earliest ts reaching step k) for each step, built iteratively
    val reached: Seq[DataFrame] = steps.zipWithIndex.foldLeft(Seq.empty[DataFrame]) {
      case (acc, (step, i)) =>
        val ev = events.select(col(userCol).as("u"), col(typeCol).as("t"),
            col(tsCol).as("ts"))
          .filter(col("t") === step)
        val r =
          if (i == 0) ev.groupBy(col("u")).agg(min(col("ts")).as("ts"))
          else {
            val prev = acc.last.select(col("u"), col("ts").as("prev_ts"))
            ev.join(prev, "u")
              .filter(col("ts") > col("prev_ts"))
              .groupBy(col("u")).agg(min(col("ts")).as("ts"))
          }
        acc :+ r
    }
    val counts = reached.zip(steps).zipWithIndex.map { case ((r, step), i) =>
      r.agg(count(lit(1)).as("users"))
        .select(lit(i + 1).cast("long").as("step"), lit(step).as("event_type"),
          col("users"))
    }.reduce(_ unionByName _)
    val first = counts.filter(col("step") === 1)
      .select(col("users").as("first_users"))
    // empty-step guards: once a step has 0 users every later step does too,
    // and 0/0 must be 0.0, not an ANSI division error
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("step"))
    def safeDiv(n: Column, d: Column): Column =
      when(d === 0L, lit(0.0)).otherwise(floor6(n / d))
    // "__funnel_prev": direct window alias = StrictPlanGuard allowlist
    // token (audited pre-reduced site: one row per funnel step)
    counts
      .withColumn("__funnel_prev", lag(col("users"), 1).over(w))
      .crossJoin(broadcast(first))
      .select(col("step"), col("event_type"), col("users"),
        safeDiv(col("users"), coalesce(col("__funnel_prev"), col("users")))
          .as("conv_from_prev"),
        safeDiv(col("users"), col("first_users")).as("conv_from_first"))
      .orderBy(col("step"))
  }

  /** Cohort retention: users are cohorted by the DAY of their first event;
    * cell (cohort_day, day_offset) counts the cohort's users active
    * `day_offset` days later, with the retention rate against the cohort's
    * size. The classic growth-analytics triangle.
    *
    * Scale shape: one min-agg shuffle on user builds (user, cohort_day) —
    * the only corpus-keyed exchange; the activity relation joins it
    * (AQE broadcast: one thin row per user), then ONE map-side-combined
    * aggregate on (cohort_day, day_offset) over per-user-distinct days.
    * `tsDayCol` must be a day-granular date/integer column (engine-portable
    * date math stays with the caller). */
  def retention(events: DataFrame, userCol: String, tsDayCol: String): DataFrame = {
    val ev = events.select(col(userCol).as("u"), col(tsDayCol).as("d")).distinct()
    val cohort = ev.groupBy(col("u")).agg(min(col("d")).as("cohort_day"))
    val sizes = cohort.groupBy(col("cohort_day")).agg(count(lit(1)).as("cohort_users"))
    ev.join(cohort, "u")
      .groupBy(col("cohort_day"), datediff(col("d"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("active_users"))
      .join(sizes, "cohort_day")
      .select(col("cohort_day"), col("day_offset"), col("active_users"),
        col("cohort_users"),
        floor6(col("active_users") / col("cohort_users")).as("retention"))
  }

  /** Regular-grid resampling with forward fill — the time-series
    * normalization pass (metrics dashboards, feature windows, ML label
    * joins all want one row per (key, period), not the raw irregular
    * event stream). Per key: a daily grid spans the key's first to last
    * event day; each day carries its event count and the day's LAST value
    * ((ts, id)-max — deterministic); empty days carry n_events = 0 and
    * the previous day's value (forward fill).
    *
    * Scale shape: ONE map-side-combined (key, day) aggregate over the
    * corpus (max_by + count in the same pass); the per-key span is a
    * second, key-sized aggregate whose grid EXPLODES to one row per
    * (key, day) — bounded by keys × span, orders below the event log;
    * the grid joins the daily relation on (key, day) (AQE broadcasts the
    * appropriate side) and the fill is one key-partitioned window over
    * grid-sized rows. The corpus is never shuffled twice.
    *
    * `tsDayCol` must be day-granular (caller owns the engine-portable
    * date derivation, as [[retention]]). Output: (keyCol, day, n_events,
    * value_ffill). */
  def resampleDaily(events: DataFrame, keyCol: String, tsDayCol: String,
                    valueCol: String, tsCol: String = "ts_ns",
                    idCol: String = "event_id"): DataFrame = {
    val e = events.select(col(keyCol).as("u"), col(tsDayCol).as("d"),
      col(tsCol).as("__ts"), col(idCol).as("__id"), col(valueCol).as("__v"))
    val daily = e.groupBy(col("u"), col("d"))
      .agg(count(lit(1)).as("n_events"),
        max_by(col("__v"), struct(col("__ts"), col("__id"))).as("__dayv"))
    val grid = e.groupBy(col("u")).agg(min(col("d")).as("__d0"), max(col("d")).as("__d1"))
      .select(col("u"), explode(expr("sequence(__d0, __d1, interval 1 day)")).as("d"))
    val wf = Window.partitionBy(col("u")).orderBy(col("d").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("u", "d"), "left")
      .withColumn("value_ffill", last(col("__dayv"), ignoreNulls = true).over(wf))
      .select(col("u").as(keyCol), col("d").as("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"), col("value_ffill"))
  }

  /** Type-2 slowly-changing-dimension history from an event log: per key,
    * collapse consecutive runs of the same tracked value into validity
    * intervals [valid_from, valid_to) — the "build the dimension table
    * with full history" warehouse pass (each run = one SCD2 row; the open
    * run is the current one).
    *
    * Scale shape: ONE key-partitioned window exchange carries everything —
    * the change flags (lag), the run numbering (running sum), and, after
    * the per-run aggregate (map-side-combined on (key, run)), the
    * valid_to lookup is a lead over the RUNS relation (one row per run —
    * orders of magnitude below the event log). (ts, id) ordering makes
    * same-timestamp events deterministic.
    *
    * Output: (keyCol, trackedCol, valid_from, valid_to NULL for the open
    * run, n_events, is_current). */
  def scd2(events: DataFrame, keyCol: String, trackedCol: String,
           tsCol: String = "ts_ns", idCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol).asc, col(idCol).asc)
    val runs = events
      .withColumn("__chg", when(lag(col(trackedCol), 1).over(w).isNull ||
        lag(col(trackedCol), 1).over(w) =!= col(trackedCol), 1L).otherwise(0L))
      .withColumn("__run", sum(col("__chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(keyCol), col("__run"))
      // min, not first: values within a run are equal by construction, but
      // min is deterministic under any aggregation order
      .agg(min(col(trackedCol)).as(trackedCol),
        min(col(tsCol)).as("valid_from"),
        count(lit(1)).as("n_events"))
    // __run in the ordering: two adjacent runs CAN share a valid_from
    // (same-timestamp events split by the id tie-break), and __run is the
    // time order by construction
    val rw = Window.partitionBy(col(keyCol)).orderBy(col("valid_from").asc, col("__run").asc)
    runs.withColumn("valid_to", lead(col("valid_from"), 1).over(rw))
      .withColumn("is_current", col("valid_to").isNull)
      .drop("__run")
      .select(col(keyCol), col(trackedCol), col("valid_from"), col("valid_to"),
        col("n_events"), col("is_current"))
  }

  /** Top event-type PATHS: the most frequent length-`n` consecutive
    * event-type sequences across users (the "what do users actually do"
    * path-analysis query). A path is the event types of `n` consecutive
    * events of ONE user in (timestamp, event-id) order — the id tie-break
    * makes same-timestamp runs deterministic and engine-portable.
    *
    * Scale shape: ONE user-keyed window exchange builds the lead chain
    * (each row carries its next n−1 types — no per-user collect, no
    * sequence materialization), then a map-side-combined hash aggregate
    * on the path string (|distinct paths| ≤ |event types|^n rows — tiny),
    * and the top-N is TakeOrdered (per-partition heaps). Windows crossing
    * a user's end (NULL leads) are excluded, matching the per-user
    * sequence semantics.
    *
    * Output: (path, n_occurrences, rank), `topN` rows,
    * ties (n_occurrences) broken lexicographically by path. */
  def topPaths(events: DataFrame, n: Int, topN: Int,
               userCol: String = "user_id", typeCol: String = "event_type",
               tsCol: String = "ts_ns", idCol: String = "event_id"): DataFrame = {
    require(n >= 2, s"n=$n: a path needs at least 2 steps")
    require(topN >= 1, "topN must be >= 1")
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
    val leads = (1 until n).map(i => lead(col(typeCol), i).over(w).as(s"__l$i"))
    val withLeads = events.select((col(typeCol) +: leads): _*)
      .filter(col(s"__l${n - 1}").isNotNull) // window fits inside the user's run
    val path = concat_ws(">", (col(typeCol) +: (1 until n).map(i => col(s"__l$i"))): _*)
    val counted = withLeads.select(path.as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("path").asc).limit(topN)
    // the window is aliased DIRECTLY ("__path_rank") and cast in a separate
    // projection: a nested cast would make Catalyst extract the window as a
    // synthetic `_we0` alias, hiding the site from StrictPlanGuard's
    // name-keyed allowlist (audited pre-reduced site: ≤ topN rows)
    counted
      .withColumn("__path_rank",
        row_number().over(Window.orderBy(col("n_occurrences").desc, col("path").asc)))
      .select(col("path"), col("n_occurrences"),
        col("__path_rank").cast("long").as("rank"))
  }
}
