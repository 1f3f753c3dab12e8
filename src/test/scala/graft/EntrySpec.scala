package graft

/** Driver-contract smoke: `entry` must return rows on sf0.001 (t1 gate),
  * and the spec list must describe every driver query once: a unique
  * name, an oracle or a rows-only reason that names its spec bound, and
  * the streaming flag. */
class EntrySpec extends SparkSpec {
  import graft.query.{QuerySpec, RowsOnly}

  test("entry returns rows on sf0.001 (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("spec names are unique; the derived views hold every spec") {
    val names = SparkEntry.specs.map(_.name)
    assert(names.diff(names.distinct).isEmpty, s"duplicate names: ${names.diff(names.distinct)}")
    assert(SparkEntry.queries.keySet == names.toSet)
  }

  test("every oracle key has a matching query; queries without oracle are known") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    // rows-only is read from the RowsOnly specs: each names its spec bound
    val rowsOnly = SparkEntry.specs.collect { case QuerySpec(n, _, RowsOnly(r), _) => n -> r }.toMap
    assert(rowsOnly.keySet == Set("s36_ann_ivf", "q57_approx_distinct", "t153_unigram_lm"),
      s"unexpected rows-only queries: ${rowsOnly.keySet}")
    val bound = """.*bound: (\w+) "(.*)"$""".r
    rowsOnly.foreach { case (n, reason) =>
      val bound(suite, testName) = reason: @unchecked
      val tests = Class.forName(s"graft.$suite").getDeclaredConstructor().newInstance()
        .asInstanceOf[org.scalatest.Suite].testNames
      assert(tests.contains(testName), s"$n names a missing bound: $suite \"$testName\"")
    }
    assert(SparkEntry.oracleSql.keySet.intersect(rowsOnly.keySet).isEmpty)
  }

  test("streamingQueries is read from the specs' streaming flag") {
    assert(SparkEntry.streamingQueries == Set(
      "q58_stream_window", "q68_stream_dedup", "q94_stream_neardup",
      "q96_stream_join", "q124_stream_scd2", "q140_stream_quota",
      "q172_stream_moments", "q175_stream_psi", "p72_stream_pipeline"))
  }

  test("all queries execute on sf0.001 (empty results allowed, e.g. anti-join)") {
    val dir = sf("sf0.001")
    SparkEntry.queries.foreach { case (name, fn) =>
      // toRdd computes every output column; count() would let Catalyst
      // prune the plan down to a column-less row count
      val n = fn(spark, dir).queryExecution.toRdd.count() // throws on any planning/execution error
      assert(n >= 0, name)
      spark.catalog.clearCache()
    }
  }

  test("normalizeEventTs: every driver ts generation folds to one shape") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    // one instant, three physical flavors the generator has produced:
    // int64 nanoseconds, naive timestamp[us] (TIMESTAMP_NTZ), tz-aware µs
    val usEpoch = 820454400123456L // 1996-01-01 00:00:00.123456 UTC
    val base = spark.range(1).select(lit(7L).as("event_id"), lit(usEpoch).as("us"),
      lit("purchase").as("event_type"))
    val flavors = Seq(
      base.select(col("event_id"), (col("us") * 1000L).as("ts"), col("event_type")),
      base.select(col("event_id"),
        timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"), col("event_type")),
      base.select(col("event_id"),
        timestamp_micros(col("us")).as("ts"), col("event_type")))
    val outs = flavors.map { df =>
      val out = core.Tables.normalizeEventTs(df)
      // shape: ts_ns long replaces ts in place, µs TIMESTAMP appended last
      assert(out.columns.toSeq == Seq("event_id", "ts_ns", "event_type", "ts"), df.schema.simpleString)
      assert(out.schema("ts_ns").dataType == LongType)
      assert(out.schema("ts").dataType == TimestampType)
      out.select(col("ts_ns"), unix_micros(col("ts")).as("ts_us")).head()
    }
    outs.foreach { r =>
      assert(r.getLong(0) == usEpoch * 1000L, s"ts_ns ${r.getLong(0)}")
      assert(r.getLong(1) == usEpoch, s"ts ${r.getLong(1)}")
    }
    val bad = base.select(col("event_id"), col("us").cast("string").as("ts"))
    intercept[IllegalArgumentException](core.Tables.normalizeEventTs(bad))
  }
}
