package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Portable.floor6

/** Declarative data-quality constraint checking — the validation gate a
  * pipeline runs before a table feeds training or analytics (the
  * Great-Expectations/Deequ role, Spark-first). Every check yields one
  * (check, n_violations) row; 0 means the constraint HELD, so the report
  * is the complete, auditable contract — absence of a row is never
  * evidence.
  */
object Quality {

  /** Row-level predicate checks: `checks` maps a check name to the
    * predicate that must HOLD per row; a NULL predicate result counts as
    * a violation (SQL three-valued logic must not hide bad rows).
    *
    * Scale shape: ONE corpus scan computes every check simultaneously via
    * conditional aggregation (map-side combined — a scalar per check per
    * partition crosses the shuffle), then the 1-row result unpivots to
    * (check, n_violations) rows. Adding a check costs an expression, not
    * a pass. */
  def rowChecks(df: DataFrame, checks: Seq[(String, Column)]): DataFrame = {
    require(checks.nonEmpty, "at least one check required")
    // positional internal aliases, typed Columns throughout: check NAMES
    // are data (lit), never spliced into a parsed SQL string — a quote or
    // backtick in a user-supplied name cannot break (or inject into) the
    // plan. The explode of an array literal emits rows in array order,
    // exactly stack's row-major emission.
    val aggs = checks.zipWithIndex.map { case ((_, pred), i) =>
      sum(when(coalesce(pred, lit(false)), 0L).otherwise(1L)).as(s"__c$i")
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val kvs = checks.zipWithIndex.map { case ((name, _), i) =>
      struct(lit(name).as("check"), col(s"__c$i").as("n_violations"))
    }
    one.select(explode(array(kvs: _*)).as("kv"))
      .select(col("kv.check").as("check"), col("kv.n_violations").as("n_violations"))
  }

  /** Key-uniqueness check: n_violations = rows in EXCESS of one per key
    * (a key seen k times contributes k−1). NULL keys group like values —
    * a NULL-keyed table fails loudly rather than vanishing from the
    * count. One map-side-combined aggregate on the key. */
  def uniqueCheck(df: DataFrame, keys: Seq[String],
                  name: String = "unique_key"): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
      .agg(coalesce(sum(col("__n") - 1L), lit(0L)).as("n_violations"))
      .select(lit(name).as("check"), col("n_violations"))

  /** Referential-integrity check: child rows whose `childKey` is non-null
    * and absent from `parent.parentKey` (NULL FKs are "optional" by SQL
    * convention — add a rowCheck for non-null if required). The parent
    * side is projected to its key column in the scan; AQE broadcasts
    * whichever side is small, and the anti join never carries payload
    * columns. */
  def fkCheck(child: DataFrame, childKey: String,
              parent: DataFrame, parentKey: String,
              name: String = "foreign_key"): DataFrame =
    child.select(col(childKey)).filter(col(childKey).isNotNull)
      .join(parent.select(col(parentKey).as(childKey)), Seq(childKey), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .select(lit(name).as("check"), col("n_violations"))

  /** A full report: row checks + any number of pre-built check relations
    * (uniqueness, FK, …) unioned into one (check, n_violations) table. */
  def report(df: DataFrame, checks: Seq[(String, Column)],
             extra: Seq[DataFrame] = Nil): DataFrame =
    extra.foldLeft(rowChecks(df, checks))(_ unionByName _)

  /** Winsorized score normalization (round 17): clamp `scoreCol` to its
    * [pLo, pHi] quantile band — the outlier-robust step a pipeline runs
    * before score-thresholded mixing/pruning, so one pathological
    * document (a 10⁶-char paste, a mojibake bomb) cannot stretch the
    * scale every later threshold is calibrated against.
    *
    * Thresholds are the INVERSE-ECDF (type-1) quantiles: the value at
    * 0-based rank max(⌈p·n⌉−1, 0) of the ascending sort — INTEGER rank
    * selection, deliberately not the interpolated form: interpolation
    * mixes two values with engine-specific operand order (1-ulp
    * divergence that surfaces verbatim in every clamped row), while the
    * value at an integer rank of a multiset is engine-exact even under
    * ties. `⌈p·n⌉` is IEEE double math both engines share (the t86
    * precedent).
    *
    * Scale shape: one range sort of the NARROW score projection + the
    * row-index machinery (per-partition counts cross the driver as
    * scalars) selects the two order statistics; exactly TWO scalars cross
    * the driver; the clamp itself is a codegen'd projection over the
    * unsorted input. Output: (idCol, scoreCol, clamped). */
  def winsorize(df: DataFrame, idCol: String, scoreCol: String,
                pLo: Double, pHi: Double): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi,
      s"winsorize: need 0 <= pLo < pHi <= 1, got ($pLo, $pHi)")
    // the one real name collision: the op APPENDS "clamped" to the
    // caller's two columns (the internal __wz_idx lives only on a fixed
    // two-column projection and can never collide — r17 review)
    require(idCol != "clamped" && scoreCol != "clamped",
      "winsorize: output column 'clamped' would collide with an input column")
    // NULL scores are unrankable: they are EXCLUDED from the threshold
    // derivation (n counts scored rows only) and propagate as NULL in the
    // output — Spark's least/greatest SKIP nulls, which would otherwise
    // silently clamp a null score to lo, and a null landing at a rank
    // would silently shift every threshold (r17 review)
    val Seq(lo, hi) = orderStats(
      df.select(col(scoreCol).cast("double").as("__score"))
        .filter(col("__score").isNotNull),
      Seq(pLo, pHi), "winsorize")
    df.select(col(idCol), col(scoreCol),
      when(col(scoreCol).isNull, lit(null).cast("double"))
        .otherwise(least(greatest(col(scoreCol).cast("double"), lit(lo)), lit(hi)))
        .as("clamped"))
  }

  /** ONE copy of the type-1 rank-selection recipe (r17 review — it
    * previously lived twice 30 lines apart): values at the 0-based ranks
    * max(⌈p·n⌉−1, 0) of `scores`' ascending sort (a single `__score`
    * column, nulls already excluded), returned in `ps` order. One narrow
    * range sort + the row-index machinery; |ps| scalars cross the
    * driver. */
  private[graft] def orderStats(scores: DataFrame, ps: Seq[Double], op: String): Seq[Double] = {
    val ordered = scores.orderBy(col("__score").asc)
    val (indexed, n) = Relational.withRowIndexCounted(ordered, "__q_idx")
    require(n > 0, s"$op: no non-null scores to take quantiles of")
    val ranks = ps.map(p => math.max(math.ceil(p * n).toLong - 1L, 0L))
    val th = indexed.filter(col("__q_idx").isin(ranks.distinct: _*))
      .collect().map(r => r.getAs[Long]("__q_idx") -> r.getAs[Double]("__score")).toMap
    ranks.map(th)
  }

  /** Robust z-score standardization: (score − median) / MAD — the
    * outlier-robust sibling of the classic z-score (median and median
    * absolute deviation are 50%-breakdown estimators; one pathological
    * value cannot move them, unlike mean/stddev). The standard feed for
    * |z| > k outlier flags over quality/length/loss columns.
    *
    * Both statistics are type-1 rank selections (the [[winsorize]] rule):
    * median = value at rank max(⌈n/2⌉−1, 0) of the ascending sort, MAD =
    * the same rank of |x − median| — integer ranks, engine-exact under
    * ties, so an oracle re-derives both independently. A degenerate
    * MAD = 0 (more than half the values equal the median) yields z = 0
    * for every row — documented, deterministic, and division-free rather
    * than an engine-specific ±Infinity. NULL scores propagate as NULL
    * and never enter either rank. Output floor-rounded 6 dp through the
    * portable form. Scale shape: two narrow range sorts + the row-index
    * machinery; exactly two scalars cross the driver; the projection is
    * codegen'd. Output: (idCol, scoreCol, z). */
  def robustZ(df: DataFrame, idCol: String, scoreCol: String): DataFrame = {
    require(idCol != "z" && scoreCol != "z",
      "robustZ: output column 'z' would collide with an input column")
    // median = the p=0.5 type-1 rank (⌈0.5·n⌉ ≡ ⌈n/2⌉ exactly — 0.5 is a
    // power of two, so 0.5·n is the exact IEEE value of n/2.0).
    // STAGED: the score relation feeds two sequential stat passes (MAD
    // depends on the median, so they cannot fuse), and re-deriving the
    // score from the scan per pass dominated the op's cost when the score
    // is expression-heavy — the head-to-head in docs/PLANS.md ("Round-17:
    // robustZ staging") measured the staged form at 0.59× (1.15 vs 1.95 s
    // warm at sf0.1)
    val scores = graft.ops.Checkpointing.stage(
      df.select(col(scoreCol).cast("double").as("__score"))
        .filter(col("__score").isNotNull))
    val med = orderStats(scores, Seq(0.5), "robustZ").head
    val mad = orderStats(
      scores.select(abs(col("__score") - lit(med)).as("__score")),
      Seq(0.5), "robustZ").head
    val z =
      if (mad == 0.0) when(col(scoreCol).isNull, lit(null).cast("double")).otherwise(lit(0.0))
      else when(col(scoreCol).isNull, lit(null).cast("double"))
        .otherwise(floor6((col(scoreCol).cast("double") - lit(med)) / lit(mad)))
    df.select(col(idCol), col(scoreCol), z.as("z"))
  }

  /** GROUP-WISE [[winsorize]]: clamp `scoreCol` to its [pLo, pHi] band
    * WITHIN each `groupCol` value — per-language (per-source, per-domain)
    * score normalization, so a language whose scorer runs hot cannot
    * dominate a global threshold. Same type-1 rank rule as [[winsorize]];
    * NULL scores are excluded from ranks and propagate as NULL.
    *
    * Scale shape: fully distributed, ZERO driver involvement — the rank
    * and the group size ride one window partitioned by the group (a
    * partitioned window, so the StrictPlanGuard is satisfied and no
    * single-task stage exists); the two per-group order statistics are
    * a groups-sized relation joined back (AQE broadcasts it while groups
    * are few); the clamp is a projection. Output:
    * (idCol, groupCol, scoreCol, clamped). */
  def winsorizeBy(df: DataFrame, groupCol: String, idCol: String,
                  scoreCol: String, pLo: Double, pHi: Double): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi,
      s"winsorizeBy: need 0 <= pLo < pHi <= 1, got ($pLo, $pHi)")
    require(idCol != "clamped" && scoreCol != "clamped" && groupCol != "clamped",
      "winsorizeBy: output column 'clamped' would collide with an input column")
    // unlike winsorize, the threshold relation JOINS the caller's frame —
    // its internal names must not collide with caller columns; the rank
    // machinery's own names (__score/__idx/__n) are reserved too, since
    // the group column rides through groupOrderStats and a collision
    // would silently overwrite a rank input (r17 second review)
    Seq("__lo", "__hi", "__grp", "__score", "__idx", "__n").foreach { n =>
      require(!df.columns.contains(n),
        s"winsorizeBy: input column '$n' collides with a reserved internal name")
    }
    val scored = df
      .select(col(groupCol), col(scoreCol).cast("double").as("__score"))
    // at a group's loIdx == hiIdx (tiny group) one row serves both ends
    val th = groupOrderStats(scored, groupCol, Seq(pLo -> "__lo", pHi -> "__hi"))
    // NULL-SAFE group match (r17 review): the window and groupBy above DO
    // form a group for a NULL key, but an equi-join can never reach it —
    // NULL-group rows would pass through with their raw score labeled
    // "clamped" (least/greatest skip the null thresholds). <=> joins the
    // NULL group to its own thresholds like any other group.
    df.join(th, col(groupCol) <=> col("__grp"), "left")
      .select(col(idCol), col(groupCol), col(scoreCol),
        when(col(scoreCol).isNull, lit(null).cast("double"))
          .otherwise(least(greatest(col(scoreCol).cast("double"), col("__lo")), col("__hi")))
          .as("clamped"))
  }

  /** The ONE per-group copy of the type-1 rank-selection recipe (the
    * grouped sibling of [[orderStats]], shared by [[winsorizeBy]] and
    * [[robustZBy]]): for each `(p, outName)`, the value at 0-based rank
    * max(⌈p·n_g⌉−1, 0) of the group's ascending non-null `__score` sort.
    * One window partitioned by the group (strict-plan clean, zero driver
    * involvement) → a groups-sized relation keyed `__grp`. */
  private def groupOrderStats(scored: DataFrame, groupCol: String,
                              ps: Seq[(Double, String)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__score").asc)
    val wAll = Window.partitionBy(col(groupCol))
    def rankOf(p: Double): Column =
      greatest(ceil(lit(p) * col("__n")).cast("long") - lit(1L), lit(0L))
    val ranked = scored
      .filter(col("__score").isNotNull)
      .withColumn("__idx", row_number().over(w) - lit(1))
      .withColumn("__n", count(lit(1)).over(wAll))
      .filter(ps.map(p => col("__idx") === rankOf(p._1)).reduce(_ || _))
    val aggs = ps.map { case (p, name) =>
      min(when(col("__idx") === rankOf(p), col("__score"))).as(name)
    }
    ranked.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
      .withColumnRenamed(groupCol, "__grp")
  }

  /** GROUP-WISE [[robustZ]]: (score − median_g) / MAD_g within each
    * `groupCol` value — per-language (per-source) outlier standardization,
    * so |z| > k flags compare a document against ITS OWN population's
    * spread instead of a global band dominated by the largest language.
    *
    * Both per-group statistics are the type-1 rank selections of
    * [[groupOrderStats]] (integer ranks, engine-exact under ties, oracle
    * re-derivable). MAD_g = 0 (more than half the group equals its
    * median) yields z = 0 for that group's rows — same division-free
    * degeneracy contract as [[robustZ]]. NULL scores never enter a rank
    * and propagate as NULL; a NULL group key forms its own group via the
    * null-safe join.
    *
    * Scale shape: two partitioned-window passes (the second over the
    * deviations, which need the medians joined back — MAD depends on the
    * median, the passes cannot fuse), two groups-sized threshold joins
    * (AQE broadcasts them), projection codegen'd; zero driver
    * involvement. Output: (idCol, groupCol, scoreCol, z) floor-rounded
    * 6 dp through the portable form. */
  def robustZBy(df: DataFrame, groupCol: String, idCol: String,
                scoreCol: String): DataFrame = {
    require(idCol != "z" && scoreCol != "z" && groupCol != "z",
      "robustZBy: output column 'z' would collide with an input column")
    // __score/__idx/__n reserved for the same reason as winsorizeBy's list
    Seq("__med", "__mad", "__grp", "__score", "__idx", "__n").foreach { n =>
      require(!df.columns.contains(n),
        s"robustZBy: input column '$n' collides with a reserved internal name")
    }
    val scored = df
      .select(col(groupCol), col(scoreCol).cast("double").as("__score"))
    val meds = groupOrderStats(scored, groupCol, Seq(0.5 -> "__med"))
    val devs = scored
      .join(meds, col(groupCol) <=> col("__grp"), "inner").drop("__grp")
      .select(col(groupCol), abs(col("__score") - col("__med")).as("__score"))
    val mads = groupOrderStats(devs, groupCol, Seq(0.5 -> "__mad"))
    df.join(meds, col(groupCol) <=> col("__grp"), "left").drop("__grp")
      .join(mads, col(groupCol) <=> col("__grp"), "left").drop("__grp")
      .select(col(idCol), col(groupCol), col(scoreCol),
        when(col(scoreCol).isNull, lit(null).cast("double"))
          .otherwise(when(col("__mad") === 0.0, lit(0.0))
            .otherwise(floor6((col(scoreCol).cast("double") - col("__med")) / col("__mad"))))
          .as("z"))
  }
}
