package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The reference operator inventory (SURVEY.md §2) as Spark-first
  * combinators. Each op is a thin declarative layer over the DataFrame API so
  * Catalyst keeps full pushdown/pruning/codegen freedom; nothing here
  * collects to the driver.
  *
  * Reference semantics cited from agnes-rs/agnes v0.3.2:
  *  - selection/reorder: src/view.rs:140-183
  *  - rename: src/view.rs:539-601
  *  - filter (permutation view): src/view.rs:766-779
  *  - stable sort, NA-first: src/view.rs:694-713, src/permute.rs:93-115
  *  - unique (first occurrence): src/view.rs:1009-1091
  *  - merge / column-bind (positional, equal row count): src/view.rs:603-653
  *  - inner sort-merge equi/theta join, single key per side:
  *    src/view.rs:655-679, src/join.rs:206-531
  *  - melt (wide→long): src/view.rs:1276-1376
  *  - aggregate (multi-key group, single value fold): src/view.rs:1496-1586
  */
object Relational {

  /** Column subset + reorder (agnes `v::<Labels![...]>`). */
  def select(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(col): _*)

  /** Rename one field (agnes `relabel`). */
  def rename(df: DataFrame, from: String, to: String): DataFrame =
    df.withColumnRenamed(from, to)

  /** Row filter. agnes predicates see NA explicitly but comparisons with NA
    * are false (src/value.rs:122-132) — identical to SQL null semantics, so a
    * plain Column predicate reproduces the behavior and stays pushdown-able.
    */
  def filterRows(df: DataFrame, pred: Column): DataFrame = df.filter(pred)

  /** Stable ascending sort by `keys`, NA first (matches agnes NA-lesser
    * ordering, src/view.rs:700-702). Spark sorts are not stable across equal
    * keys, so callers needing reproducible total order pass `tiebreak`
    * columns (e.g. the table's natural key) — same trick the reference gets
    * implicitly from its stable single-threaded sort.
    */
  def sortStable(df: DataFrame, keys: Seq[String], tiebreak: Seq[String] = Nil): DataFrame =
    df.orderBy((keys ++ tiebreak).map(c => col(c).asc_nulls_first): _*)

  def sortBy(df: DataFrame, keys: Seq[Column]): DataFrame = df.orderBy(keys: _*)

  /** Sort key reproducing the reference float comparator's NaN ordering:
    * NA first, then NaN, then finite values ascending (agnes
    * src/permute.rs:191-231 treats NaN as less than any non-NaN, while Spark
    * sorts NaN greater than any non-NaN). Use as
    * `df.orderBy(nanFirstKey(col("x")).asc_nulls_first, ...)`. */
  def nanFirstKey(c: Column): Column =
    struct(when(isnan(c), 0).otherwise(1).as("rank"), c.as("v"))

  /** Sort by an arbitrary derived comparator key (the Spark shape of the
    * reference's `sort_by_label_comparator`, src/view.rs:732-764): callers
    * express the comparator as a key-derivation expression, which keeps the
    * sort distributed (range partition + local sort) instead of dragging a
    * closure comparator through a single-node sort. */
  def sortByKey(df: DataFrame, key: Column, tiebreak: Seq[String] = Nil): DataFrame =
    df.orderBy(key.asc_nulls_first +: tiebreak.map(col(_).asc_nulls_first): _*)

  /** Distinct rows of the selected columns (agnes `unique_values`). */
  def unique(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(col): _*).dropDuplicates()

  /** Positional column-bind of two equal-length tables (agnes `merge`,
    * src/view.rs:603-653 — errors on row-count mismatch, view.rs:629-636).
    *
    * Spark has no positional identity across DataFrames, so each side gets a
    * dense row index via `zipWithIndex` (one lightweight count-per-partition
    * pass, no shuffle) and the bind is an equi-join on that index. At scale
    * this shuffles both sides once on a perfectly uniform key — the best
    * available plan for an inherently positional operation.
    */
  def bindColumns(left: DataFrame, right: DataFrame): DataFrame = {
    // the row-count precondition reuses the indexing pass's per-partition
    // counts — a separate count() per side would cost two extra full scans
    // just for the error message
    val (l, lc) = withRowIndexCounted(left, "__bind_idx")
    val (r, rc) = withRowIndexCounted(right, "__bind_idx2")
    require(lc == rc, s"bindColumns: row count mismatch ($lc vs $rc)")
    // the merge hint fixes the plan: both sides are RDD scans of unknown
    // size, so AQE would broadcast whichever side's shuffle stage finished
    // first, and the join's generated class would change with that race
    l.join(r.hint("merge"), l("__bind_idx") === r("__bind_idx2"), "inner")
      .drop("__bind_idx", "__bind_idx2")
  }

  /** Dense 0-based row index in current order (no shuffle; two passes). */
  def withRowIndex(df: DataFrame, name: String): DataFrame = {
    val schema = StructType(df.schema.fields :+ StructField(name, LongType, nullable = false))
    val rdd = df.rdd.zipWithIndex().map { case (row, i) => Row.fromSeq(row.toSeq :+ i) }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** [[withRowIndex]] plus the total row count, for the same two passes
    * zipWithIndex costs: one per-partition count job (whose sum IS the
    * total), then the indexed scan with the offsets broadcast in the
    * closure. No shuffle at any size. */
  private[ops] def withRowIndexCounted(df: DataFrame, name: String): (DataFrame, Long) = {
    val schema = StructType(df.schema.fields :+ StructField(name, LongType, nullable = false))
    val src = df.rdd
    val counts = src
      .mapPartitionsWithIndex { (i, it) =>
        var n = 0L; while (it.hasNext) { it.next(); n += 1 }; Iterator((i, n))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _)
    val indexed = src.mapPartitionsWithIndex { (i, it) =>
      var idx = offsets(i) - 1
      it.map { row => idx += 1; Row.fromSeq(row.toSeq :+ idx) }
    }
    (df.sparkSession.createDataFrame(indexed, schema), offsets.last)
  }

  /** Inclusive running total of a LongType column in the frame's current
    * order, plus the grand total — the weighted sibling of
    * [[withRowIndexCounted]], same two-pass shape: one job computes
    * per-partition SUMS (a scalar per partition crosses the driver, never
    * rows), then the scan adds each partition's prefix offset inside the
    * closure. No shuffle, no single-partition window, at any size. */
  private[ops] def withRunningTotalCounted(df: DataFrame, valueCol: String,
                                           name: String): (DataFrame, Long) = {
    val schema = StructType(df.schema.fields :+ StructField(name, LongType, nullable = false))
    val vi = df.schema.fieldIndex(valueCol)
    require(df.schema.fields(vi).dataType == LongType,
      s"withRunningTotalCounted: $valueCol must be LongType")
    val src = df.rdd
    val sums = src
      .mapPartitionsWithIndex { (i, it) =>
        var s = 0L; while (it.hasNext) { s += it.next().getLong(vi) }; Iterator((i, s))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = sums.scanLeft(0L)(_ + _)
    val out = src.mapPartitionsWithIndex { (i, it) =>
      var run = offsets(i)
      it.map { row => run += row.getLong(vi); Row.fromSeq(row.toSeq :+ run) }
    }
    (df.sparkSession.createDataFrame(out, schema), offsets.last)
  }

  /** Global NTILE(k) over a total order WITHOUT a single-partition window.
    *
    * `ntile(k).over(Window.orderBy(...))` moves the ENTIRE relation through
    * one task (Spark's own WindowExec "Moving all data to a single
    * partition" warning) — the textbook scale-killer for a corpus-sized
    * input. Tiling needs only each row's global rank and the total count,
    * and both come from the terasort shape this file already owns: a
    * distributed range sort (one range exchange), then
    * [[withRowIndexCounted]] (per-partition counts cross the driver as
    * scalars, offsets ride in the closure — no shuffle, no window).
    *
    * The tile is SQL NTILE's exact closed form from the 0-based index: with
    * total = q·k + r, the first r tiles get q+1 rows and the rest q, so
    *   tile = idx div (q+1) + 1                     when idx < r·(q+1)
    *        = r + (idx − r·(q+1)) div q + 1         otherwise.
    * (The tempting `1 + idx·k div total` is NOT NTILE when r > 0: it
    * scatters the r fat tiles — 7 rows into 5 tiles gives sizes 2,1,2,1,1
    * vs NTILE's 2,2,1,1,1.) Integral `div` keeps the arithmetic exact and
    * codegen'd at any row count. Pass a tie-breaking total order for
    * deterministic assignment, exactly as a window NTILE would need. */
  def globalNtile(df: DataFrame, k: Int, order: Seq[Column], name: String): DataFrame = {
    require(k > 0, "globalNtile: k must be positive")
    val idxCol = "__ntile_idx"
    require(!df.columns.contains(idxCol),
      s"globalNtile: input already has a column named $idxCol") // fail loudly at the call, not at action time
    val (indexed, total) = withRowIndexCounted(df.orderBy(order: _*), idxCol)
    val q = total / k
    val r = total % k
    val tile =
      if (q == 0) expr(s"`$idxCol` + 1L") // fewer rows than tiles
      else if (r == 0) expr(s"`$idxCol` div ${q}L + 1L")
      else expr(s"IF(`$idxCol` < ${r * (q + 1)}L, `$idxCol` div ${q + 1}L, " +
        s"${r}L + (`$idxCol` - ${r * (q + 1)}L) div ${q}L) + 1L")
    indexed.withColumn(name, tile).drop(idxCol)
  }

  /** Wide→long melt (agnes `melt`, src/view.rs:1276-1376): the N `meltCols`
    * become (`nameCol`:string, `valueCol`) pairs, hold columns repeated N per
    * input row, row-major — exactly the emission order of Spark's `stack`.
    * All melt columns must share one type (reference requires the same,
    * view.rs:1165-1166).
    */
  def melt(df: DataFrame, hold: Seq[String], meltCols: Seq[String],
           nameCol: String = "name", valueCol: String = "value"): DataFrame = {
    val stackArgs = meltCols.map(c => s"'$c', `$c`").mkString(", ")
    val stackExpr = s"stack(${meltCols.size}, $stackArgs) as (`$nameCol`, `$valueCol`)"
    df.select(hold.map(col) :+ expr(stackExpr): _*)
  }

  /** Row append (documented-but-unimplemented in the reference,
    * src/view.rs:8-10); by-name union with Spark. */
  def union(l: DataFrame, r: DataFrame): DataFrame = l.unionByName(r)

  /** Top-k rows per group under `order` (with a ranking column `rankCol`).
    * One shuffle on the group keys; Spark's `WindowGroupLimit` rewrite
    * bounds the per-partition sort to k rows, so the full group is never
    * sorted — the scale-correct "top N per key" shape. Pass a tie-breaking
    * order (unique total order) for deterministic output. */
  def topKPerGroup(df: DataFrame, keys: Seq[String], order: Seq[Column],
                   k: Int, rankCol: String = "rn"): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn(rankCol, row_number().over(w).cast("long"))
      .filter(col(rankCol) <= k)
  }

  /** Set intersection / difference with DISTINCT semantics (SQL INTERSECT /
    * EXCEPT; listed as free parity extras in SURVEY §2.7 — the reference has
    * neither). */
  def intersect(l: DataFrame, r: DataFrame): DataFrame = l.intersect(r)
  def except(l: DataFrame, r: DataFrame): DataFrame = l.except(r)

  /** Inner join, one key column per side, predicate ∈ {=, <, <=, >, >=}
    * (agnes `join::<Join<L,R,Pred>>`, src/join.rs:206-389). Output = all left
    * columns then all right columns including both keys (join.rs:429-439).
    * NA keys never match (join.rs:506-515) — SQL default.
    *
    * Catalyst picks the physical strategy: broadcast-hash for small sides,
    * sort-merge for large equi, broadcast-nested-loop for pure theta. For a
    * scale-safe theta join, prefer [[graft.ops.ScaleJoins.rangeJoinBinned]]
    * or add an equi conjunct via `extraEqui`.
    */
  def joinOn(l: DataFrame, r: DataFrame, lk: String, rk: String, op: String,
             joinType: String = "inner", extraEqui: Seq[(String, String)] = Nil): DataFrame = {
    // Alias-qualified resolution: when both sides share a column name (the
    // reference's usual case, e.g. DeptId = DeptId), bare df("col") can
    // silently resolve both ends to ONE side, degrading the predicate.
    val (la, ra) = (l.alias("__graft_l"), r.alias("__graft_r"))
    def lc(n: String) = col(s"__graft_l.`$n`")
    def rc(n: String) = col(s"__graft_r.`$n`")
    val base: Column = op match {
      case "=" | "==" => lc(lk) === rc(rk)
      case "<"        => lc(lk) <   rc(rk)
      case "<="       => lc(lk) <=  rc(rk)
      case ">"        => lc(lk) >   rc(rk)
      case ">="       => lc(lk) >=  rc(rk)
      case other      => throw new IllegalArgumentException(s"joinOn: bad op $other")
    }
    val cond = extraEqui.foldLeft(base) { case (c, (a, b)) => c && (lc(a) === rc(b)) }
    la.join(ra, cond, joinType)
  }

  /** Left-semi / left-anti joins (beyond the reference, which has neither —
    * FUTURE.md lists outer joins as future work). */
  def semiJoin(l: DataFrame, r: DataFrame, keys: Seq[String]): DataFrame =
    l.join(r, keys, "left_semi")
  def antiJoin(l: DataFrame, r: DataFrame, keys: Seq[String]): DataFrame =
    l.join(r, keys, "left_anti")

  /** Key-wise upsert (batch MERGE-into-snapshot): rows of `updates` replace
    * same-key rows of `base`; new keys append; untouched base rows pass
    * through. Both frames must share a schema. The incremental-pipeline
    * primitive for rewriting a snapshot from a change batch.
    *
    * Scale shape: the base crosses the network at most once (the anti-join
    * shuffles it on the key — or not at all when the update keyset is small
    * enough to broadcast, the common CDC case Catalyst picks automatically);
    * updates are appended unshuffled. No window, no global order. */
  def upsert(base: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    require(base.columns.toSeq == updates.columns.toSeq,
      s"upsert needs identical schemas: ${base.columns.toSeq} vs ${updates.columns.toSeq}")
    base.join(updates.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(updates)
  }

  /** Apply an ORDERED change log (CDC stream) to a snapshot — the lakehouse
    * MERGE/CDC-apply pass [[upsert]] doesn't cover: `changes` carries the
    * base's data columns plus an op marker ('I'/'U' carry the new row, 'D'
    * deletes the key) and an ordering column; per key the LAST change wins
    * (ties broken on the op marker for determinism — give changes unique
    * (keys, ord) for a well-defined log).
    *
    * Scale shape: the change log is compacted to one row per key by a
    * window over the CHANGELOG only (typically orders of magnitude below
    * the snapshot); the snapshot is touched by exactly one anti-join
    * against the compacted key set (AQE broadcasts it at real-world
    * change rates) plus the union of surviving upserts — the snapshot is
    * scanned once and never shuffled. */
  def applyChangelog(base: DataFrame, changes: DataFrame, keys: Seq[String],
                     opCol: String = "op", ordCol: String = "ord"): DataFrame = {
    require(base.columns.forall(changes.columns.contains),
      s"changelog must carry the base's columns: ${base.columns.toSeq}")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(ordCol).desc, col(opCol).asc)
    val last = changes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val survivors = base.join(last.select(keys.map(col): _*), keys, "left_anti")
    val applied = last.filter(col(opCol) =!= "D")
      .select(base.columns.map(col).toIndexedSeq: _*)
    survivors.unionByName(applied)
  }

  /** Multi-key group-by with standard fold columns (agnes `aggregate`,
    * src/view.rs:1496-1586, generalized to multiple simultaneous aggs —
    * the reference allows only one value column per call).
    */
  def aggregate(df: DataFrame, keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)

  /** Aggregate with the reference's group ORDER: groups appear in
    * first-occurrence order of their key (agnes's single-threaded HashMap
    * insert order, src/view.rs:1553-1585). Spark has no inherent order, so
    * the row index of each group's first row becomes an explicit sort key —
    * the SURVEY §7 `__row_idx` determinism convention.
    */
  def aggregateFirstOccurrence(df: DataFrame, keys: Seq[String], aggs: Seq[Column]): DataFrame =
    withRowIndex(df, "__row_idx")
      .groupBy(keys.map(col): _*)
      .agg((aggs :+ min(col("__row_idx")).as("__first_idx")).head,
        (aggs :+ min(col("__row_idx")).as("__first_idx")).tail: _*)
      .orderBy(col("__first_idx"))
      .drop("__first_idx")
}
