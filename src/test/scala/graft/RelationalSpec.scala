package graft

import graft.ops.Relational
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Operator-semantics golden tests against the reference fixtures
  * (expectations lifted from agnes's own test suite — citations inline). */
class RelationalSpec extends SparkSpec {
  import spark.implicits._

  lazy val emp = Fixtures.emp.toDF("EmpId", "DeptId", "EmpName")
  lazy val dept = Fixtures.dept.toDF("DeptId", "DeptName")

  test("select subsets and reorders columns (view.rs:140-183)") {
    val out = Relational.select(emp, Seq("EmpName", "EmpId"))
    assert(out.columns.toSeq == Seq("EmpName", "EmpId"))
    assert(out.count() == 7)
  }

  test("rename relabels a field (view.rs:539-601)") {
    assert(Relational.rename(emp, "EmpName", "Name").columns.contains("Name"))
  }

  test("filter keeps matching rows; chained filters compose (view.rs:1932-2070)") {
    val f = Relational.filterRows(emp, col("DeptId") === 1L)
    assert(f.select("EmpName").as[String].collect().toSet == Set("Sally", "Bob", "Cara"))
    val f2 = Relational.filterRows(f, col("EmpId") >= 5L)
    assert(f2.select("EmpName").as[String].collect().toSet == Set("Bob", "Cara"))
  }

  test("NA comparison predicates exclude NULL rows (value.rs:122-132)") {
    val withNa = Seq[(java.lang.Long, String)]((1L, "x"), (null, "y"), (3L, "z")).toDF("k", "v")
    assert(withNa.filter(col("k") >= 1L).count() == 2) // NULL never matches
    assert(withNa.filter(col("k").isNotNull).count() == 2) // val.exists()
  }

  test("stable sort, NULLs first (view.rs:694-713; NA-lesser view.rs:700-702)") {
    val df = Seq[(java.lang.Double, Long)]((2.0, 1L), (null, 2L), (1.0, 3L), (2.0, 4L))
      .toDF("v", "idx")
    val got = Relational.sortStable(df, Seq("v"), Seq("idx")).select("idx").as[Long].collect().toSeq
    assert(got == Seq(2L, 3L, 1L, 4L)) // null first; equal keys in idx order
  }

  test("unique distinct multi-column combos (view.rs:2072-2125)") {
    val u = Relational.unique(emp, Seq("DeptId")).as[Long].collect().toSet
    assert(u == Set(1L, 2L, 3L, 4L))
  }

  test("bindColumns glues equal-length tables positionally (view.rs:603-653)") {
    val extra = Fixtures.extraEmp.toDF("SalaryOffset", "DidTraining", "VacationHrs")
    val bound = Relational.bindColumns(emp.orderBy("EmpId"), extra)
    assert(bound.columns.toSeq ==
      Seq("EmpId", "DeptId", "EmpName", "SalaryOffset", "DidTraining", "VacationHrs"))
    val sally = bound.filter(col("EmpName") === "Sally").collect().head
    assert(sally.getAs[Long]("SalaryOffset") == -5L)
    val ann = bound.filter(col("EmpName") === "Ann").collect().head
    assert(ann.getAs[Float]("VacationHrs") == 22.5f)
  }

  test("bindColumns joins by sort-merge, never by a broadcast of whichever side finished first") {
    // enough rows that no shuffle partition is empty: AQE keeps a join
    // with mostly empty partitions off broadcast anyway
    val bound = Relational.bindColumns(spark.range(4000).toDF("a"),
      spark.range(4000).select((col("id") * 2).as("b")))
    assert(bound.collect().forall(r => r.getLong(1) == 2 * r.getLong(0)))
    val plan = bound.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true") && plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("BroadcastHashJoin"), plan)
  }

  test("bindColumns rejects mismatched row counts (view.rs:629-636)") {
    intercept[IllegalArgumentException] {
      Relational.bindColumns(emp, dept)
    }
  }

  test("inner equi-join: all left + right cols, cross-product on runs (join.rs:599-635)") {
    val j = Relational.joinOn(emp, dept, "DeptId", "DeptId", "=")
    assert(j.count() == 7)
    assert(j.columns.length == 5) // EmpId, DeptId, EmpName + DeptId, DeptName
    val names = j.select(col("EmpName"), col("DeptName")).as[(String, String)].collect().toSet
    assert(names.contains(("Sally", "Marketing")) && names.contains(("Jamie", "Sales")) &&
      names.contains(("Louise", "R&D")) && names.contains(("Ann", "R&D")))
  }

  test("NA join keys never match (join.rs:637-745)") {
    val deptNa = Seq[(java.lang.Long, String)](
      (null, "Marketing"), (2L, "Sales"), (3L, "Manufacturing"), (4L, "R&D"))
      .toDF("DeptId", "DeptName")
    val j = Relational.joinOn(emp, deptNa, "DeptId", "DeptId", "=")
    // DeptId=1 rows (Sally, Bob, Cara) find no match against the NA key
    assert(j.count() == 4)
    assert(!j.select("EmpName").as[String].collect().contains("Sally"))
  }

  test("theta joins: all four comparison predicates (join.rs:788-842)") {
    val l = Seq((1L, "a"), (3L, "b")).toDF("lk", "lv")
    val r = Seq((2L, "x"), (3L, "y")).toDF("rk", "rv")
    assert(Relational.joinOn(l, r, "lk", "rk", "<").count() == 2)  // (1,2),(1,3)
    assert(Relational.joinOn(l, r, "lk", "rk", "<=").count() == 3) // + (3,3)
    assert(Relational.joinOn(l, r, "lk", "rk", ">").count() == 1)  // (3,2)
    assert(Relational.joinOn(l, r, "lk", "rk", ">=").count() == 2) // + (3,3)
  }

  test("melt wide→long, row-major order, holds repeated (view.rs:1259-1277)") {
    val wide = Fixtures.salary.toDF("EmpId", "Year2010", "Year2011", "Year2012", "Year2013", "Year2014")
    val long = Relational.melt(wide, Seq("EmpId"),
      Seq("Year2010", "Year2011", "Year2012", "Year2013", "Year2014"),
      nameCol = "SalaryYear", valueCol = "Salary")
    assert(long.count() == 15)
    assert(long.columns.toSeq == Seq("EmpId", "SalaryYear", "Salary"))
    val emp0 = long.filter(col("EmpId") === 0L).orderBy("SalaryYear")
      .select("Salary").as[Double].collect().toSeq
    assert(emp0 == Seq(1500d, 1600d, 1700d, 1850d, 2000d))
  }

  test("melt + aggregate golden sums (view.rs:1489-1497)") {
    val wide = Fixtures.salary.toDF("EmpId", "Year2010", "Year2011", "Year2012", "Year2013", "Year2014")
    val long = Relational.melt(wide, Seq("EmpId"),
      Seq("Year2010", "Year2011", "Year2012", "Year2013", "Year2014"),
      nameCol = "SalaryYear", valueCol = "Salary")
    val sums = Relational.aggregate(long, Seq("SalaryYear"), Seq(sum("Salary").as("s")))
      .orderBy("SalaryYear").select("s").as[Double].collect().toSeq
    assert(sums == Seq(3000d, 3320d, 3540d, 3810d, 4070d))
  }

  test("aggregateFirstOccurrence: groups in first-occurrence order (view.rs:1553-1585)") {
    val df = Seq(("b", 1.0), ("a", 2.0), ("b", 3.0), ("c", 4.0), ("a", 5.0))
      .toDF("k", "v")
    val got = Relational.aggregateFirstOccurrence(df.coalesce(1), Seq("k"), Seq(sum("v").as("s")))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got == Seq(("b", 4.0), ("a", 7.0), ("c", 4.0)))
  }

  test("union appends rows by name (view.rs:8-10 documented-unimplemented)") {
    val u = Relational.union(emp.filter(col("DeptId") === 1), emp.filter(col("DeptId") === 4))
    assert(u.count() == 5)
  }

  test("nanFirstKey: NaN sorts below all values incl -Inf (permute.rs:191-231)") {
    val df = Seq((1L, 2.0), (2L, Double.NaN), (3L, Double.NegativeInfinity), (4L, -5.0))
      .toDF("id", "v")
    val got = Relational.sortByKey(df, Relational.nanFirstKey(col("v")), Seq("id"))
      .select("id").as[Long].collect().toSeq
    assert(got == Seq(2L, 3L, 4L, 1L)) // NaN first, then -Inf, -5, 2
  }

  test("semi/anti joins partition matching rows") {
    val semi = Relational.semiJoin(emp, dept.filter(col("DeptName") =!= "R&D"), Seq("DeptId"))
    val anti = Relational.antiJoin(emp, dept.filter(col("DeptName") =!= "R&D"), Seq("DeptId"))
    assert(semi.count() + anti.count() == 7)
    assert(anti.select("EmpName").as[String].collect().toSet == Set("Louise", "Ann"))
  }

  test("upsert: updates win, new keys append, untouched rows pass through") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("k", "s", "v")
    val updates = Seq((2L, "b2", 99.0), (4L, "d", 40.0)).toDF("k", "s", "v")
    val got = Relational.upsert(base, updates, Seq("k"))
      .orderBy("k").as[(Long, String, Double)].collect().toSeq
    assert(got == Seq((1L, "a", 10.0), (2L, "b2", 99.0), (3L, "c", 30.0), (4L, "d", 40.0)))
    // duplicate update keys: ALL update rows land (dedup is the caller's
    // CDC-compaction step), but the base row is still replaced exactly once
    val dup = Seq((2L, "x", 1.0), (2L, "y", 2.0)).toDF("k", "s", "v")
    assert(Relational.upsert(base, dup, Seq("k")).count() == 4)
    // schema mismatch fails loudly instead of silently misaligning
    intercept[IllegalArgumentException] {
      Relational.upsert(base, updates.select("s", "k", "v"), Seq("k"))
    }
  }

  test("Quality: NULL predicate counts as violation; unique excess; FK orphans; null FK optional") {
    import graft.ops.Quality
    val t = Seq(
      (Some(1L), Some(5.0)), (Some(2L), None),
      (Some(3L), Some(-1.0)), (Some(3L), Some(2.0)), (None, Some(4.0))
    ).toDF("k", "v")
    val rc = Quality.rowChecks(t, Seq(
        "v_pos" -> (col("v") > 0), "v_nonnull" -> col("v").isNotNull))
      .orderBy("check").as[(String, Long)].collect().toSeq
    // v_pos: the NULL v row violates too (three-valued logic must not
    // hide bad rows) plus the -1.0 row = 2; v_nonnull: 1
    assert(rc == Seq(("v_nonnull", 1L), ("v_pos", 2L)))
    // k=3 twice -> 1 excess row; the NULL key groups and counts once (0 excess)
    val uq = Quality.uniqueCheck(t, Seq("k")).as[(String, Long)].collect().head
    assert(uq == (("unique_key", 1L)))
    // parent {1,3}: k=2 is an orphan; the NULL k row is exempt (optional FK)
    val parent = Seq(1L, 3L).toDF("pk")
    val fk = Quality.fkCheck(t, "k", parent, "pk").as[(String, Long)].collect().head
    assert(fk == (("foreign_key", 1L)))
    // a passing table reports explicit zeros — absence is never evidence
    val clean = Seq((1L, 1.0)).toDF("k", "v")
    val rep = Quality.report(clean, Seq("v_pos" -> (col("v") > 0)),
        extra = Seq(Quality.uniqueCheck(clean, Seq("k"))))
      .as[(String, Long)].collect().toMap
    assert(rep == Map("v_pos" -> 0L, "unique_key" -> 0L))
    // hostile check names are DATA (lit), never spliced into a SQL parse
    val hostile = "it's `weird`, название"
    val hc = Quality.rowChecks(t, Seq(hostile -> (col("v") > 0)))
      .as[(String, Long)].collect().toSeq
    assert(hc == Seq((hostile, 2L)))
  }

  test("Quality.winsorize: rank-selected thresholds, tie safety, guards") {
    import graft.ops.Quality
    // 10 values 1..10: p=.2 → rank ⌈2⌉−1=1 → lo=2; p=.8 → rank 7 → hi=8
    val t = (1 to 10).map(i => (i.toLong, i.toDouble)).toDF("id", "s")
    val got = Quality.winsorize(t, "id", "s", 0.2, 0.8)
      .orderBy("id").as[(Long, Double, Double)].collect().toSeq
    assert(got.map(_._3) == Seq(2.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 8.0, 8.0))
    // original score column rides along unchanged
    assert(got.map(_._2) == (1 to 10).map(_.toDouble))
    // ties: the value at a rank of a multiset is well-defined regardless
    // of which tied row lands there
    val ties = Seq(1.0, 2.0, 2.0, 2.0, 9.0).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "s")
    val gt = Quality.winsorize(ties, "id", "s", 0.4, 0.9)
      .orderBy("id").as[(Long, Double, Double)].collect().toSeq
    // lo = rank ⌈2⌉−1 = 1 → 2.0; hi = rank ⌈4.5⌉−1 = 4 → 9.0
    assert(gt.map(_._3) == Seq(2.0, 2.0, 2.0, 2.0, 9.0))
    // pLo = 0 clamps nothing below (rank floors at 0 = the minimum)
    val g0 = Quality.winsorize(t, "id", "s", 0.0, 0.5)
      .orderBy("id").as[(Long, Double, Double)].collect().toSeq
    assert(g0.head._3 == 1.0 && g0.last._3 == 5.0)
    // NULL scores: excluded from threshold ranks, propagate as NULL in
    // the output (r17 review — least/greatest would silently clamp them)
    val withNull = Seq((1L, Some(1.0)), (2L, None), (3L, Some(2.0)),
      (4L, Some(3.0)), (5L, Some(4.0))).toDF("id", "s")
    val gn = Quality.winsorize(withNull, "id", "s", 0.3, 0.8)
      .orderBy("id").collect()
    // 4 non-null scores: lo = rank ⌈1.2⌉−1 = 1 → 2.0; hi = rank ⌈3.2⌉−1 = 3 → 4.0
    assert(gn.map(r => if (r.isNullAt(2)) null else r.getDouble(2)).toSeq ==
      Seq(2.0, null, 2.0, 3.0, 4.0))
    // guards: bad band, output-name collision, no scored rows — all loud
    intercept[IllegalArgumentException](Quality.winsorize(t, "id", "s", 0.8, 0.2))
    intercept[IllegalArgumentException](Quality.winsorize(
      t.withColumnRenamed("s", "clamped"), "id", "clamped", 0.1, 0.9))
    intercept[IllegalArgumentException](Quality.winsorize(
      t.filter(col("id") < 0), "id", "s", 0.1, 0.9))
    // an unrelated __wz_idx column is NOT a conflict (internal name lives
    // on a fixed two-column projection)
    assert(Quality.winsorize(t.withColumn("__wz_idx", lit(9L)), "id", "s", 0.2, 0.8)
      .count() == 10L)
  }

  test("Quality.winsorizeBy: per-group thresholds; tiny group lo==hi; null scores pass through") {
    import graft.ops.Quality
    val t = (
      (1 to 10).map(i => (i.toLong, "a", Some(i.toDouble))) ++      // a: 1..10
      Seq((11L, "b", Some(100.0)), (12L, "b", Some(200.0)),          // b: tiny
        (13L, "b", None))                                            // b: null score
    ).toDF("id", "g", "s")
    val got = Quality.winsorizeBy(t, "g", "id", "s", 0.2, 0.8)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(3)) null else r.getDouble(3))).toMap
    // group a (n=10): lo = rank 1 → 2.0, hi = rank 7 → 8.0 (same as global test)
    assert((1 to 10).map(i => got(i.toLong)) ==
      Seq(2.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 8.0, 8.0))
    // group b (n=2 non-null): lo = rank 0 → 100, hi = rank ⌈1.6⌉−1 = 1 → 200
    assert(got(11L) == 100.0 && got(12L) == 200.0)
    // the null-score row propagates NULL and never shifted b's ranks
    assert(got(13L) == null)
    // groups never cross: a's thresholds ignore b's values entirely
    val gAll = Quality.winsorizeBy(t.filter(col("g") === "a"), "g", "id", "s", 0.2, 0.8)
      .orderBy("id").collect().map(_.getDouble(3)).toSeq
    assert(gAll == Seq(2.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 8.0, 8.0))
    // a NULL group key is a GROUP, clamped by its own thresholds (r17
    // review — an equi-join would silently pass NULL-group rows through
    // unclamped under the "clamped" label)
    val withNullGrp = Seq((1L, Some("a"), 5.0), (2L, None, 1.0), (3L, None, 2.0),
      (4L, None, 3.0), (5L, None, 4.0), (6L, None, 100.0)).toDF("id", "g", "s")
    val gg = Quality.winsorizeBy(withNullGrp, "g", "id", "s", 0.25, 0.8)
      .orderBy("id").collect().map(_.getDouble(3)).toSeq
    // null group n=5: lo = rank ⌈1.25⌉−1 = 1 → 2.0; hi = rank 3 → 4.0
    assert(gg == Seq(5.0, 2.0, 2.0, 3.0, 4.0, 4.0))
    // reserved internal names on the CALLER frame are rejected loudly
    intercept[IllegalArgumentException](Quality.winsorizeBy(
      t.withColumn("__lo", lit(1.0)), "g", "id", "s", 0.2, 0.8))
  }

  test("Quality.robustZ: golden median/MAD, MAD=0 degeneracy, null pass-through") {
    import graft.ops.Quality
    // 1..9: median = rank ⌈4.5⌉−1 = 4 → 5; |x−5| sorted: 0,1,1,2,2,3,3,4,4
    // → MAD at rank 4 = 2; z(1) = −2, z(9) = 2, z(5) = 0
    val t = (1 to 9).map(i => (i.toLong, Some(i.toDouble))).toDF("id", "s")
    val got = Quality.robustZ(t, "id", "s")
      .orderBy("id").as[(Long, Double, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(got(1L) == -2.0 && got(5L) == 0.0 && got(9L) == 2.0 && got(7L) == 1.0)
    // MAD = 0 (majority at the median): every z is 0, no division anywhere
    val deg = Seq(1L -> 5.0, 2L -> 5.0, 3L -> 5.0, 4L -> 9.0).toDF("id", "s")
    val gd = Quality.robustZ(deg, "id", "s")
      .as[(Long, Double, Double)].collect().map(_._3).toSet
    assert(gd == Set(0.0))
    // null scores propagate and never enter the ranks
    val withNull = Seq((1L, Some(1.0)), (2L, None), (3L, Some(3.0))).toDF("id", "s")
    val gn = Quality.robustZ(withNull, "id", "s").orderBy("id").collect()
    assert(gn(1).isNullAt(2) && !gn(0).isNullAt(2))
  }

  test("Quality.robustZBy: per-group median/MAD; per-group degeneracy; group isolation; nulls") {
    import graft.ops.Quality
    val t = (
      (1 to 9).map(i => (i.toLong, "a", Some(i.toDouble))) ++       // a = robustZ golden
      Seq((11L, "b", Some(5.0)), (12L, "b", Some(5.0)),              // b: MAD = 0
        (13L, "b", Some(5.0)), (14L, "b", Some(9.0)),
        (15L, "b", None))                                            // b: null score
    ).toDF("id", "g", "s")
    val got = Quality.robustZBy(t, "g", "id", "s")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(3)) null else r.getDouble(3))).toMap
    // group a reproduces the global robustZ golden (median 5, MAD 2)
    assert(got(1L) == -2.0 && got(5L) == 0.0 && got(9L) == 2.0 && got(7L) == 1.0)
    // group b is DEGENERATE (majority at its median) — z = 0 for b only,
    // while a's z values stay nonzero: the degeneracy is per-group
    assert(got(11L) == 0.0 && got(14L) == 0.0)
    // null score propagates, never enters b's ranks (b's MAD stayed 0)
    assert(got(15L) == null)
    // group isolation: a alone gives identical z values
    val alone = Quality.robustZBy(t.filter(col("g") === "a"), "g", "id", "s")
      .orderBy("id").collect().map(_.getDouble(3)).toSeq
    assert(alone == (1 to 9).map(i => got(i.toLong)).toSeq)
    // NULL group key forms its own group (null-safe join): median 2, MAD 1
    val ng = Seq((1L, Some("a"), 5.0), (2L, None, 1.0), (3L, None, 2.0),
      (4L, None, 3.0)).toDF("id", "g", "s")
    val gotNg = Quality.robustZBy(ng, "g", "id", "s")
      .orderBy("id").collect().map(_.getDouble(3)).toSeq
    assert(gotNg == Seq(0.0, -1.0, 0.0, 1.0))
    // reserved internal names rejected loudly
    intercept[IllegalArgumentException](Quality.robustZBy(
      t.withColumn("__med", lit(1.0)), "g", "id", "s"))
  }

  test("globalNtile: exact SQL NTILE semantics without a global window") {
    import org.apache.spark.sql.expressions.Window
    // every (total, k) shape that distinguishes NTILE from the naive
    // floor(idx*k/total): irregular remainders scatter the naive formula's
    // fat tiles (7 rows / 5 tiles: naive gives sizes 2,1,2,1,1; NTILE
    // demands 2,2,1,1,1 — extras in the FIRST r tiles)
    for ((total, k) <- Seq((7, 5), (10, 3), (11, 3), (5, 8), (1, 4), (32, 7), (100, 10))) {
      val df = spark.range(total.toLong).toDF("id")
        .withColumn("v", -col("id")) // non-trivial order: v desc of id
        .repartition(5)              // input order must not matter
      val got = Relational.globalNtile(df, k, Seq(col("v"), col("id")), "tile")
        .select("id", "tile").as[(Long, Long)].collect().toMap
      val want = df.select(col("id"),
          ntile(k).over(Window.orderBy(col("v"), col("id"))).cast("long").as("tile"))
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"globalNtile != window NTILE at total=$total k=$k")
    }
    // and the plan property the helper exists for: NO partitionless
    // WindowExec anywhere (the sort + row-index machinery replaces it)
    val out = Relational.globalNtile(
      spark.range(50).toDF("id"), 4, Seq(col("id")), "tile")
    val windows = out.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(windows.isEmpty, "globalNtile produced a partitionless WindowExec")
  }

  test("globalNtile: no task ever processes the whole relation (LogicalRDD-proof)") {
    // The plan-level checks (above, and PlanFingerprintSpec's sweep) stop
    // at the df.rdd/LogicalRDD boundary, so a single-partition window
    // reintroduced INSIDE the row-index machinery would stay invisible to
    // them. This pin measures the execution itself: run globalNtile on a
    // multi-partition relation and assert via task metrics that no single
    // task read anywhere near the full row count — a global-window
    // implementation funnels ALL rows through one task and trips this
    // deterministically, wherever in the lineage it hides.
    val total = 20000L
    val maxTaskRows = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          val rows = math.max(m.inputMetrics.recordsRead, m.shuffleReadMetrics.recordsRead)
          maxTaskRows.updateAndGet(x => math.max(x, rows)); ()
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // AQE's small-byte coalescing legitimately collapses this TINY test
    // shuffle to one partition (advisory 64MB vs ~160KB here) — a byte-size
    // effect that vanishes at real scale. Disable it for the measurement so
    // the detector sees the machinery's intrinsic shape, not AQE's
    // small-data collapse; restored in finally.
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val coalescePrev = spark.conf.get(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try {
      val df = spark.range(total).toDF("id").repartition(8)
      val n = Relational.globalNtile(df, 10, Seq(col("id")), "tile").count()
      assert(n == total)
      // task-end events are delivered async: poll until the max stabilizes
      var last = -1L; var stable = 0; var waited = 0
      while (stable < 3 && waited < 50) {
        Thread.sleep(100); waited += 1
        val cur = maxTaskRows.get
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
      val seen = maxTaskRows.get
      assert(seen > 0L, "listener observed no task metrics — detector broken")
      assert(seen < total * 3 / 4,
        s"one task processed $seen of $total rows — a single-partition stage is hiding inside globalNtile's lineage")
    } finally {
      spark.conf.set(coalesceKey, coalescePrev)
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
