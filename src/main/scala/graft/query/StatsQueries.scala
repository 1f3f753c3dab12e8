package graft.query

import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

import Shared._

/** Statistics, sketches, sampling and event-stream driver queries. */
object StatsQueries {

  val specs: Seq[QuerySpec] = Seq(
    // §2.6 summary statistics (view_stats) — exact decimal sums + the
    // reference's sumsq-based variance formula (stats.rs:139-161)
    QuerySpec("q09_stats", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val aggs = cols.flatMap { cname =>
        val c = col(cname)
        Seq(count(c).as(s"${cname}__n"),
          round(min(c), 4).as(s"${cname}__min"),
          round(max(c), 4).as(s"${cname}__max"),
          round(dsum(c), 2).as(s"${cname}__sum"),
          dsum2(c, c).as(s"${cname}__sumsq"))
      }
      val wide = li.agg(aggs.head, aggs.tail: _*)
      val stacked = cols.map { c =>
        s"'$c', `${c}__n`, `${c}__min`, `${c}__max`, `${c}__sum`, `${c}__sumsq`"
      }.mkString(", ")
      wide.select(expr(s"stack(${cols.size}, $stacked) as (field, n, min, max, sum, sumsq)"))
        .withColumn("mean", round(col("sum") / col("n"), 6))
        .withColumn("stdev", round(sqrt(
          (col("sumsq") - col("sum") * col("sum") / col("n")) / (col("n") - 1)), 6))
        .select("field", "n", "min", "max", "sum", "mean", "stdev")
        .orderBy("field")
    }, Sql(
      """WITH s AS (
        |  SELECT 'l_quantity' AS field, count(l_quantity) AS n, round(min(l_quantity),4) AS min, round(max(l_quantity),4) AS max,
        |    round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE),2) AS sum,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sumsq FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', count(l_extendedprice), round(min(l_extendedprice),4), round(max(l_extendedprice),4),
        |    round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE),2),
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) FROM lineitem
        |  UNION ALL SELECT 'l_discount', count(l_discount), round(min(l_discount),4), round(max(l_discount),4),
        |    round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE),2),
        |    CAST(sum(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) FROM lineitem
        |  UNION ALL SELECT 'l_tax', count(l_tax), round(min(l_tax),4), round(max(l_tax),4),
        |    round(CAST(sum(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE),2),
        |    CAST(sum(CAST(l_tax AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) FROM lineitem)
        |SELECT field, n, min, max, sum, round(sum/n, 6) AS mean,
        |  round(sqrt((sumsq - sum*sum/n) / (n-1)), 6) AS stdev
        |FROM s ORDER BY field""".stripMargin)),

    // correlation/covariance from exact decimal sums (deterministic both engines)
    QuerySpec("q40_corr", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val agg = li.groupBy(col("l_returnflag")).agg(
        count(lit(1)).cast("double").as("n"),
        dsum(col("l_quantity")).as("sx"),
        dsum(col("l_extendedprice")).as("sy"),
        dsum2(col("l_quantity"), col("l_quantity")).as("sxx"),
        dsum2(col("l_extendedprice"), col("l_extendedprice")).as("syy"),
        dsum2(col("l_quantity"), col("l_extendedprice")).as("sxy"))
      agg.select(col("l_returnflag"),
          round(((col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - 1)), 4).as("covar"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
             sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6).as("corr"))
        .orderBy(col("l_returnflag"))
    }, Sql(
      """WITH a AS (SELECT l_returnflag,
        |  CAST(count(*) AS DOUBLE) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  round((sxy - sx*sy/n) / (n-1), 4) AS covar,
        |  round((n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)), 6) AS corr
        |FROM a ORDER BY l_returnflag""".stripMargin)),

    // exact percentiles (continuous interpolation, matches quantile_cont)
    QuerySpec("q39_quantiles", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
          round(expr("percentile(l_quantity, 0.9)"), 4).as("p90_qty"),
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("median_price"))
        .orderBy(col("l_returnflag"))
    }, Sql(
      """SELECT l_returnflag, round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
        |  round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // deterministic exact-count stratified sampling (portable md5 order)
    QuerySpec("d37_stratified_sample", (s, dir) => {
      graft.ops.Sampling.stratifiedExact(t(s, dir, "documents"), "lang", "doc_id", k = 20)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("lang"), col("doc_id"))
    }, Sql(
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 20 ORDER BY lang, doc_id""".stripMargin)),

    // stateful sessionization (batch run of the streaming operator —
    // flatMapGroupsWithState; gap = 2h)
    QuerySpec("e32_sessionize", (s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[graft.streaming.Streams.Event]
      graft.streaming.Streams.sessionize(ev, gapMs = 2 * 3600 * 1000L).toDF()
        .select(col("user_id"),
          unix_millis(col("session_start")).as("start_ms"),
          unix_millis(col("session_end")).as("end_ms"),
          col("n_events"), round(col("total_value"), 2).as("total"))
        .orderBy(col("user_id"), col("start_ms"))
    }, Sql(
      """WITH e AS (SELECT user_id, ts, value, epoch_ms(ts) AS ms FROM events),
        |d AS (SELECT *, CASE WHEN ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms) > 7200000
        |                     THEN 1 ELSE 0 END AS brk FROM e),
        |g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ms ROWS UNBOUNDED PRECEDING) AS grp FROM d)
        |SELECT user_id, min(ms) AS start_ms, max(ms) AS end_ms,
        |  count(*) AS n_events, round(sum(value), 2) AS total
        |FROM g GROUP BY user_id, grp ORDER BY user_id, start_ms""".stripMargin)),

    // skewness/kurtosis from exact decimal power sums — same derivation in
    // both engines, so the doubles are bit-identical (q40 pattern, one
    // moment higher)
    QuerySpec("q47_skew_kurt", (s, dir) => {
      val qd = col("l_quantity").cast("decimal(6,2)")
      val sums = t(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
        count(lit(1)).cast("double").as("n"),
        sum(qd).cast("double").as("s1"),
        sum(qd * qd).cast("double").as("s2"),
        sum(qd * qd * qd).cast("double").as("s3"),
        sum((qd * qd) * (qd * qd)).cast("double").as("s4"))
      val m = sums.select(col("l_returnflag"),
        (col("s1") / col("n")).as("mean"),
        (col("s2") / col("n")).as("q2"),
        (col("s3") / col("n")).as("q3"),
        (col("s4") / col("n")).as("q4"))
      val mm = m.select(col("l_returnflag"), col("mean"),
        (col("q2") - col("mean") * col("mean")).as("m2"),
        (col("q3") - lit(3.0) * col("mean") * col("q2") +
          lit(2.0) * col("mean") * col("mean") * col("mean")).as("m3"),
        (col("q4") - lit(4.0) * col("mean") * col("q3") +
          lit(6.0) * col("mean") * col("mean") * col("q2") -
          lit(3.0) * col("mean") * col("mean") * col("mean") * col("mean")).as("m4"))
      mm.select(col("l_returnflag"),
          round(col("m3") / (col("m2") * sqrt(col("m2"))), 6).as("skew"),
          round(col("m4") / (col("m2") * col("m2")) - lit(3.0), 6).as("kurt"))
        .orderBy(col("l_returnflag"))
    }, Sql(
      """WITH s AS (SELECT l_returnflag, CAST(count(*) AS DOUBLE) AS n,
        |  CAST(sum(q) AS DOUBLE) AS s1, CAST(sum(q*q) AS DOUBLE) AS s2,
        |  CAST(sum(q*q*q) AS DOUBLE) AS s3, CAST(sum((q*q)*(q*q)) AS DOUBLE) AS s4
        |  FROM (SELECT l_returnflag, CAST(l_quantity AS DECIMAL(6,2)) AS q FROM lineitem)
        |  GROUP BY l_returnflag),
        |m AS (SELECT l_returnflag, s1/n AS mean, s2/n AS q2, s3/n AS q3, s4/n AS q4 FROM s),
        |mm AS (SELECT l_returnflag, mean, q2 - mean*mean AS m2,
        |  q3 - 3.0*mean*q2 + 2.0*mean*mean*mean AS m3,
        |  q4 - 4.0*mean*q3 + 6.0*mean*mean*q2 - 3.0*mean*mean*mean*mean AS m4 FROM m)
        |SELECT l_returnflag, round(m3 / (m2 * sqrt(m2)), 6) AS skew,
        |  round(m4 / (m2 * m2) - 3.0, 6) AS kurt FROM mm ORDER BY l_returnflag""".stripMargin)),

    // fixed-width histogram binning
    QuerySpec("q48_histogram", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(floor(col("l_extendedprice") / 5000).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"), round(dsum(col("l_extendedprice")), 2).as("total"))
        .orderBy(col("bucket"))
    }, Sql(
      """SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bucket, count(*) AS n,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM lineitem GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // HLL++ sketch vs exact distinct (approx column has no portable oracle →
    // rows-only gate check; the ScaleJoinsSpec bounds its error vs exact)
    QuerySpec("q57_approx_distinct", (s, dir) => {
      graft.ops.ScaleJoins.distinctCounts(t(s, dir, "lineitem"), Seq("l_returnflag"), "l_partkey")
        .orderBy(col("l_returnflag"))
    }, RowsOnly("a randomized sketch has no exact SQL replay; bound: ScaleJoinsSpec " +
      "\"approx distinct within rsd of exact\"")),

    // q57's ORACLE-CHECKED companion (round 17, r16 verdict #6): the exact
    // distinct count is fully SQL-replayable, and the sketch's accuracy
    // contract rides along as a BOOLEAN — |est − exact| / exact ≤ 0.15
    // (3× the rsd=0.05 config). The oracle asserts literal TRUE, so a
    // sketch drifting outside its bound hash-mismatches the gate instead
    // of hiding in a rows-only hole; q57 itself stays for the raw values
    // Oracle: q163: exact distinct replayed; the sketch's error bound asserted as
    // a literal TRUE — a violating estimate mismatches the hash
    QuerySpec("q163_hll_error", (s, dir) => {
      graft.ops.ScaleJoins.distinctCounts(t(s, dir, "lineitem"), Seq("l_returnflag"), "l_partkey")
        .select(col("l_returnflag"), col("exact_distinct"),
          (abs(col("approx_distinct") - col("exact_distinct")).cast("double") /
            col("exact_distinct") <= lit(0.15)).as("est_ok"))
        .orderBy(col("l_returnflag"))
    }, Sql(
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_distinct,
        |  TRUE AS est_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // deterministic hash-threshold fractional sampling — the sample is a
    // pure function of row content (md5 threshold per stratum), a stateless
    // map-side filter with zero shuffles at any corpus size; unlisted strata
    // ('es') drop. (This form retired the seeded sampleBy wrapper in r5:
    // content-hash is reproducible across engines, RNG seeds are not.)
    // Oracle: hash-threshold sampling: 0.25→40000, 0.5→80000, 0.125→20000 (fraction ×
    // 2^20 as 5 hex chars); 'g' sorts above every hex char, so zh keeps all;
    // es has no CASE arm → NULL threshold → dropped
    QuerySpec("d71_stratified_frac", (s, dir) => {
      graft.ops.Sampling.stratifiedHashFraction(t(s, dir, "documents"),
          "lang", "doc_id",
          Map("en" -> 0.25, "fr" -> 0.5, "de" -> 0.125, "zh" -> 1.0))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }, Sql(
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 5) <
        |  CASE lang WHEN 'en' THEN '40000' WHEN 'fr' THEN '80000'
        |            WHEN 'de' THEN '20000' WHEN 'zh' THEN 'g' END
        |ORDER BY doc_id""".stripMargin)),

    // temperature-balanced language mixing (α=0.5): skewed langs flattened
    // toward uniform — en (218 docs at sf0.01) keeps sqrt(64/218)≈54%, the
    // smallest (fr) keeps all. Fractions are DATA-derived in-plan; sqrt is
    // correctly-rounded IEEE so the sample is engine-exact
    // Oracle: f·2^20 is a power-of-two scale of an exact sqrt — floor and the
    // %05x hex render identically in both engines; q=2^20 (the min
    // stratum) caps to 'g' which sorts above every hex char
    QuerySpec("d81_lang_balance", (s, dir) => {
      graft.ops.Sampling.temperatureBalance(t(s, dir, "documents"), "lang", "doc_id")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |m AS (SELECT min(n) AS minn FROM c),
        |th AS (SELECT lang,
        |  CASE WHEN CAST(floor(sqrt(CAST(minn AS DOUBLE) / n) * 1048576) AS BIGINT) >= 1048576
        |       THEN 'g'
        |       ELSE printf('%05x', CAST(floor(sqrt(CAST(minn AS DOUBLE) / n) * 1048576) AS BIGINT))
        |  END AS thresh
        |  FROM c, m)
        |SELECT d.doc_id, d.lang FROM documents d JOIN th USING (lang)
        |WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 5) < th.thresh
        |ORDER BY d.doc_id""".stripMargin)),

    // join-key distribution profile: heavy hitters with share + cumulative
    // share and the global skew ratio — the diagnostic that picks between
    // plain shuffle, AQE skew split, and salting (q49) for a hot-key join
    // Oracle: heavy hitters + skew ratio over per-key counts; cumulative share of
    // the sorted prefix needs only the prefix
    QuerySpec("q101_skew_profile", (s, dir) => {
      graft.ops.Diagnostics.keyProfile(t(s, dir, "events"), "user_id", topN = 20)
    }, Sql(
      """WITH c AS (SELECT user_id AS key, count(*) AS cnt FROM events GROUP BY 1),
        |st AS (SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS total_rows, max(cnt) AS max_cnt FROM c),
        |top AS (SELECT key, cnt,
        |  row_number() OVER (ORDER BY cnt DESC, key NULLS LAST) AS rank,
        |  sum(cnt) OVER (ORDER BY cnt DESC, key NULLS LAST ROWS UNBOUNDED PRECEDING) AS cum_cnt
        |  FROM c QUALIFY rank <= 20)
        |SELECT CAST(rank AS BIGINT) AS rank, CAST(key AS VARCHAR) AS key, cnt,
        |  floor(CAST(cnt AS DOUBLE) / total_rows * 1e6 + 0.5) / 1e6 AS share,
        |  floor(CAST(cum_cnt AS DOUBLE) / total_rows * 1e6 + 0.5) / 1e6 AS cum_share,
        |  n_keys, total_rows,
        |  floor(CAST(max_cnt AS DOUBLE) * n_keys / total_rows * 1e6 + 0.5) / 1e6 AS skew_ratio
        |FROM top, st ORDER BY rank""".stripMargin)),

    // ordered funnel over the event stream: step k+1 counts only strictly
    // after the user's earliest step-k completion; each stage is a filtered
    // min-agg joined to the shrinking previous-step relation
    // Oracle: strictly-after chain: each step joins the previous step's earliest
    // completion; epoch_ns ties out exactly with the Spark side's ts_ns.
    // floor(x*1e6+0.5)/1e6: step-count ratios are small rationals that CAN
    // land on a 6-dp boundary — round() tie behavior is not portable there
    QuerySpec("e103_funnel", (s, dir) => {
      graft.ops.Events.funnel(t(s, dir, "events"), "user_id", "event_type", "ts_ns",
        Seq("signup", "view", "click", "purchase"))
    }, Sql(
      """WITH e AS (SELECT user_id AS u, event_type AS t, epoch_ns(ts) AS ts FROM events),
        |s1 AS (SELECT u, min(ts) AS ts FROM e WHERE t = 'signup' GROUP BY u),
        |s2 AS (SELECT e.u, min(e.ts) AS ts FROM e JOIN s1 ON e.u = s1.u AND e.ts > s1.ts WHERE e.t = 'view' GROUP BY e.u),
        |s3 AS (SELECT e.u, min(e.ts) AS ts FROM e JOIN s2 ON e.u = s2.u AND e.ts > s2.ts WHERE e.t = 'click' GROUP BY e.u),
        |s4 AS (SELECT e.u, min(e.ts) AS ts FROM e JOIN s3 ON e.u = s3.u AND e.ts > s3.ts WHERE e.t = 'purchase' GROUP BY e.u),
        |c AS (SELECT 1 AS step, 'signup' AS event_type, count(*) AS users FROM s1
        |  UNION ALL SELECT 2, 'view', count(*) FROM s2
        |  UNION ALL SELECT 3, 'click', count(*) FROM s3
        |  UNION ALL SELECT 4, 'purchase', count(*) FROM s4),
        |f AS (SELECT users AS first_users FROM c WHERE step = 1)
        |SELECT CAST(step AS BIGINT) AS step, event_type, users,
        |  CASE WHEN coalesce(lag(users) OVER (ORDER BY step), users) = 0 THEN 0.0
        |       ELSE floor(CAST(users AS DOUBLE) / coalesce(lag(users) OVER (ORDER BY step), users) * 1e6 + 0.5) / 1e6 END AS conv_from_prev,
        |  CASE WHEN first_users = 0 THEN 0.0
        |       ELSE floor(CAST(users AS DOUBLE) / first_users * 1e6 + 0.5) / 1e6 END AS conv_from_first
        |FROM c, f ORDER BY step""".stripMargin)),

    // cohort retention triangle: users cohorted by first-event day, one
    // corpus-keyed exchange (the per-user min), everything after operates
    // on thin per-user / per-cell relations
    // Oracle: per-user-distinct (u, day) relation, cohort = min day, cells by date
    // subtraction (integer days in both engines)
    QuerySpec("e104_retention", (s, dir) => {
      val ev = t(s, dir, "events").withColumn("day", to_date(col("ts")))
      graft.ops.Events.retention(ev, "user_id", "day")
        .orderBy(col("cohort_day"), col("day_offset"))
    }, Sql(
      """WITH ev AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events),
        |c AS (SELECT u, min(d) AS cohort_day FROM ev GROUP BY u),
        |s AS (SELECT cohort_day, count(*) AS cohort_users FROM c GROUP BY 1),
        |a AS (SELECT c.cohort_day, CAST(ev.d - c.cohort_day AS BIGINT) AS day_offset, count(*) AS active_users
        |  FROM ev JOIN c USING (u) GROUP BY 1, 2)
        |SELECT a.cohort_day, day_offset, active_users, cohort_users,
        |  floor(CAST(active_users AS DOUBLE) / cohort_users * 1e6 + 0.5) / 1e6 AS retention
        |FROM a JOIN s USING (cohort_day) ORDER BY cohort_day, day_offset""".stripMargin)),

    // quality-weighted corpus downsampling to an expected 200-doc budget:
    // keep probability ∝ quality, md5-threshold decided per row, Σw through
    // DECIMAL so the scale constant is reduction-order independent
    // Oracle: the t63 quality chain as the weight; same float-op order as the
    // Spark side (w · (target/Σw) · 2^20 + 0.5, left-assoc), Σw in DECIMAL
    QuerySpec("d105_weighted_downsample", (s, dir) => {
      val scored = t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.qualityScore(col("text"), stopwords).as("weight"))
      graft.ops.Sampling.weightedDownsample(scored, "doc_id", "weight",
          targetRows = 200L)
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
        |parts AS (SELECT doc_id,
        |  least(len(t) / 50.0, 1.0) AS len_score,
        |  round(CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / length(text), 4) AS alpha,
        |  round(CAST(len([x for x in t if x = 'the' OR x = 'a']) AS DOUBLE) / len(t), 4) AS stop
        |  FROM toks),
        |q AS (SELECT doc_id, round(greatest(0.0, least(1.0,
        |  (len_score + alpha + (1.0 - abs(stop - 0.15))) / 3.0)), 4) AS weight FROM parts),
        |tw AS (SELECT sum(CAST(weight AS DECIMAL(27,7))) AS tw FROM q),
        |k AS (SELECT doc_id, weight,
        |  CAST(floor(weight * (200.0 / CAST(tw AS DOUBLE)) * 1048576.0 + 0.5) AS BIGINT) AS qq
        |  FROM q, tw)
        |SELECT doc_id, weight FROM k
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 5) <
        |  CASE WHEN qq <= 0 THEN '00000' WHEN qq >= 1048576 THEN 'g'
        |       ELSE printf('%05x', qq) END
        |ORDER BY doc_id""".stripMargin)),

    // path analysis: most frequent 3-step event-type sequences — ONE
    // user-keyed window exchange (the lead chain), a map-side-combined
    // path aggregate, TakeOrdered top-N
    // Oracle: lead-chain 3-grams per user in (ts, event_id) order; windows crossing
    // a user's end excluded; rank over the counted path relation
    QuerySpec("e118_event_paths", (s, dir) => {
      graft.ops.Events.topPaths(t(s, dir, "events"), n = 3, topN = 25)
    }, Sql(
      """WITH l AS (SELECT event_type AS t0,
        |  lead(event_type, 1) OVER w AS t1, lead(event_type, 2) OVER w AS t2
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |p AS (SELECT t0 || '>' || t1 || '>' || t2 AS path FROM l WHERE t2 IS NOT NULL),
        |c AS (SELECT path, count(*) AS n_occurrences FROM p GROUP BY path)
        |SELECT path, n_occurrences,
        |  CAST(row_number() OVER (ORDER BY n_occurrences DESC, path) AS BIGINT) AS rank
        |FROM c ORDER BY n_occurrences DESC, path LIMIT 25""".stripMargin)),

    // SCD2 dimension history: per user, consecutive same-event-type runs
    // collapse to validity intervals [valid_from, valid_to) — one
    // user-keyed window exchange carries flags, run numbering, and the
    // per-run rollup; valid_to is a lead over the thin RUNS relation
    // Oracle: run detection via lag + running sum; valid_to = lead over the runs
    // relation; ts compared as epoch nanos to match the engine's ts_ns
    QuerySpec("e119_scd2", (s, dir) => {
      graft.ops.Events.scd2(t(s, dir, "events"), "user_id", "event_type")
        .orderBy(col("user_id"), col("valid_from"), col("event_type"))
    }, Sql(
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  epoch_ns(ts) AS ts_ns FROM events),
        |f AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |    OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)),
        |r AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
        |    ROWS UNBOUNDED PRECEDING) AS run FROM f),
        |g AS (SELECT user_id, run, min(event_type) AS event_type,
        |  CAST(min(ts_ns) AS BIGINT) AS valid_from, count(*) AS n_events
        |  FROM r GROUP BY user_id, run),
        |v AS (SELECT user_id, event_type, valid_from,
        |  CAST(lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, run) AS BIGINT) AS valid_to,
        |  n_events FROM g)
        |SELECT user_id, event_type, valid_from, valid_to, n_events,
        |  valid_to IS NULL AS is_current
        |FROM v ORDER BY user_id, valid_from, event_type""".stripMargin)),

    // point-in-time (time-travel) dimension read over the SCD2 history:
    // the as-of instant is the event-time midpoint (computed as a 1-row
    // integer aggregate, broadcast back), and the read is a stateless
    // interval-containment filter over the runs relation — the "what did
    // the dimension look like at T" companion of e119
    // Oracle: the e119 chain + integer-midpoint as-of instant + interval
    // containment (integer // — epoch ns exceed double's exact range)
    QuerySpec("e122_dim_asof", (s, dir) => {
      val ev = t(s, dir, "events")
      val hist = graft.ops.Events.scd2(ev, "user_id", "event_type")
      // integer div, never /: epoch-ns values exceed double's 2^53 exact
      // range, so float math would lose the nanoseconds both engines keep
      val asof = ev.agg(expr(
        "min(ts_ns) + (max(ts_ns) - min(ts_ns)) div 2").as("as_of"))
      hist.crossJoin(broadcast(asof))
        .filter(col("valid_from") <= col("as_of") &&
          (col("valid_to").isNull || col("valid_to") > col("as_of")))
        .select(col("user_id"), col("event_type"), col("valid_from"),
          col("n_events"), col("is_current"))
        .orderBy(col("user_id"), col("valid_from"), col("event_type"))
    }, Sql(
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  epoch_ns(ts) AS ts_ns FROM events),
        |sel AS (SELECT CAST(min(ts_ns) + (max(ts_ns) - min(ts_ns)) // 2 AS BIGINT) AS as_of FROM e),
        |f AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |    OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)),
        |r AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
        |    ROWS UNBOUNDED PRECEDING) AS run FROM f),
        |g AS (SELECT user_id, run, min(event_type) AS event_type,
        |  CAST(min(ts_ns) AS BIGINT) AS valid_from, count(*) AS n_events
        |  FROM r GROUP BY user_id, run),
        |v AS (SELECT user_id, event_type, valid_from,
        |  CAST(lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, run) AS BIGINT) AS valid_to,
        |  n_events FROM g)
        |SELECT user_id, event_type, valid_from, n_events,
        |  valid_to IS NULL AS is_current
        |FROM v, sel
        |WHERE valid_from <= as_of AND (valid_to IS NULL OR valid_to > as_of)
        |ORDER BY user_id, valid_from, event_type""".stripMargin)),

    // per-source cap (C4/Gopher-style domain balancing): at most k docs per
    // source, the k best by quality — bounds any source's ABSOLUTE
    // contribution to the mix no matter how large it grows (t86's
    // percentile prune keeps a fraction; a crawl dump needs a ceiling).
    // One window shuffle on the source key
    // Oracle: t63's quality CTE + a per-source top-k window; identical md5
    // tie-break on both sides
    QuerySpec("d132_source_cap", (s, dir) => {
      val scored = t(s, dir, "documents").select(col("doc_id"), col("source"),
        TextFunctions.qualityScore(col("text"), stopwords).as("quality"))
      graft.ops.Sampling.topKByScore(scored, "source", "doc_id", "quality", k = 10)
        .orderBy(col("source"), col("quality").desc, col("doc_id"))
    }, Sql(
      """WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
        |parts AS (SELECT doc_id,
        |  least(len(t) / 50.0, 1.0) AS len_score,
        |  round(CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / length(text), 4) AS alpha,
        |  round(CAST(len([x for x in t if x = 'the' OR x = 'a']) AS DOUBLE) / len(t), 4) AS stop
        |  FROM toks),
        |q AS (SELECT doc_id, round(greatest(0.0, least(1.0,
        |  (len_score + alpha + (1.0 - abs(stop - 0.15))) / 3.0)), 4) AS quality FROM parts),
        |d AS (SELECT q.doc_id, doc.source, q.quality FROM q JOIN documents doc USING (doc_id)),
        |r AS (SELECT doc_id, source, quality, row_number() OVER (
        |  PARTITION BY source ORDER BY quality DESC, md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM d)
        |SELECT doc_id, source, quality FROM r WHERE rk <= 10
        |ORDER BY source, quality DESC, doc_id""".stripMargin)),

    // water-filling reweight to a TARGET language mix (en .5 / zh .2 /
    // es .15 / de .15; fr unlisted -> dropped): the binding stratum (zh)
    // survives whole, everything else trims to match — the static
    // mixture-spec step temperatureBalance's fixed sqrt cannot express
    // Oracle: the water-filling solve replayed in SQL: T = min(n/p), per-stratum
    // threshold floor(p*T/n * 2^20) as 5-hex — identical IEEE op order,
    // so both engines compare against the same literal threshold
    QuerySpec("d136_target_mix", (s, dir) => {
      graft.ops.Sampling.targetMix(
          t(s, dir, "documents").select(col("doc_id"), col("lang")),
          "lang", "doc_id",
          Map("en" -> 0.5, "zh" -> 0.2, "es" -> 0.15, "de" -> 0.15))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH tgt AS (SELECT doc_id, lang,
        |  CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.2
        |            WHEN 'es' THEN 0.15 WHEN 'de' THEN 0.15 END AS p
        |  FROM documents),
        |c AS (SELECT lang, p, count(*) AS n FROM tgt WHERE p IS NOT NULL GROUP BY lang, p),
        |tv AS (SELECT min(n / p) AS t_total FROM c),
        |th AS (SELECT lang,
        |  CASE WHEN CAST(floor(p * t_total / n * 1048576) AS BIGINT) >= 1048576 THEN 'g'
        |       ELSE printf('%05x', CAST(floor(p * t_total / n * 1048576) AS BIGINT)) END AS thresh
        |  FROM c, tv)
        |SELECT d.doc_id, d.lang FROM documents d JOIN th USING (lang)
        |WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 5) < th.thresh
        |ORDER BY d.doc_id""".stripMargin)),

    // data-quality gate: every constraint yields one (check, violations)
    // row — 0 proves the constraint HELD; all row checks ride ONE scan
    // (conditional aggregation), uniqueness one key agg, the FK one
    // payload-free anti join
    // Oracle: one violation count per named constraint; NULL predicate = violation
    QuerySpec("q127_data_quality", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      graft.ops.Quality.report(li, Seq(
          "l_quantity_in_1_50" -> col("l_quantity").between(1, 50),
          "l_quantity_le_30" -> (col("l_quantity") <= 30), // intentionally violated
          "l_price_positive" -> (col("l_extendedprice") > 0),
          "l_shipdate_nonnull" -> col("l_shipdate").isNotNull),
        extra = Seq(
          graft.ops.Quality.uniqueCheck(o, Seq("o_orderkey"), "orders_key_unique"),
          graft.ops.Quality.fkCheck(li, "l_orderkey", o, "o_orderkey",
            "lineitem_order_fk")))
        .orderBy(col("check"))
    }, Sql(
      """WITH rowc AS (
        |  SELECT 'l_quantity_in_1_50' AS "check", CAST(sum(CASE WHEN coalesce(l_quantity BETWEEN 1 AND 50, false) THEN 0 ELSE 1 END) AS BIGINT) AS n_violations FROM lineitem
        |  UNION ALL SELECT 'l_quantity_le_30', CAST(sum(CASE WHEN coalesce(l_quantity <= 30, false) THEN 0 ELSE 1 END) AS BIGINT) FROM lineitem
        |  UNION ALL SELECT 'l_price_positive', CAST(sum(CASE WHEN coalesce(l_extendedprice > 0, false) THEN 0 ELSE 1 END) AS BIGINT) FROM lineitem
        |  UNION ALL SELECT 'l_shipdate_nonnull', CAST(sum(CASE WHEN l_shipdate IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) FROM lineitem),
        |uq AS (SELECT 'orders_key_unique' AS "check",
        |  CAST(coalesce(sum(n - 1), 0) AS BIGINT) AS n_violations
        |  FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey)),
        |fk AS (SELECT 'lineitem_order_fk' AS "check", CAST(count(*) AS BIGINT) AS n_violations
        |  FROM (SELECT l_orderkey FROM lineitem WHERE l_orderkey IS NOT NULL) l
        |  ANTI JOIN (SELECT o_orderkey AS l_orderkey FROM orders) o USING (l_orderkey))
        |SELECT * FROM rowc UNION ALL SELECT * FROM uq UNION ALL SELECT * FROM fk
        |ORDER BY "check"""".stripMargin)),

    // regular-grid resampling + forward fill: one row per (user, day)
    // across each user's span — empty days carry 0 events and the
    // previous day's value; the last-value pick is (ts, id)-max, fully
    // deterministic
    // Oracle: last-per-day via (ts, id)-desc row_number; the grid from
    // generate_series; forward fill via IGNORE NULLS last_value
    QuerySpec("e126_resample_ffill", (s, dir) => {
      val ev = t(s, dir, "events").withColumn("day", to_date(col("ts")))
      graft.ops.Events.resampleDaily(ev, "user_id", "day", "value")
        .orderBy(col("user_id"), col("day"))
    }, Sql(
      """WITH e AS (SELECT user_id AS u, CAST(ts AS DATE) AS d, ts, event_id, value FROM events),
        |r AS (SELECT u, d, value,
        |  row_number() OVER (PARTITION BY u, d ORDER BY ts DESC, event_id DESC) AS rn FROM e),
        |dv AS (SELECT u, d, value AS dayv FROM r WHERE rn = 1),
        |cnt AS (SELECT u, d, count(*) AS n_events FROM e GROUP BY u, d),
        |span AS (SELECT u, min(d) AS d0, max(d) AS d1 FROM e GROUP BY u),
        |grid AS (SELECT u, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d FROM span),
        |j AS (SELECT g.u, g.d, coalesce(c.n_events, 0) AS n_events, dv.dayv
        |  FROM grid g LEFT JOIN cnt c ON g.u = c.u AND g.d = c.d
        |  LEFT JOIN dv ON g.u = dv.u AND g.d = dv.d),
        |f AS (SELECT u, d, n_events,
        |  last_value(dayv IGNORE NULLS) OVER (PARTITION BY u ORDER BY d ROWS UNBOUNDED PRECEDING) AS value_ffill
        |  FROM j)
        |SELECT u AS user_id, d AS day, CAST(n_events AS BIGINT) AS n_events, value_ffill
        |FROM f ORDER BY user_id, day""".stripMargin)),

    // MERGEABLE moment statistics (round 17): base + delta slice sketches
    // merged algebraically vs a full recompute — the stats-maintenance
    // path that never rescans history at 100 TB (merge cost is O(cols)).
    // The decimal aggregation state makes the merge EXACT, asserted
    // per-field in the oracle-checked matches_full column (the q163
    // assert-a-bound pattern)
    // Oracle: both aggregation paths replayed: per-slice decimal moments merged
    // algebraically, the full-recompute moments beside them, and the
    // merged-equals-full assertion as a column (the q163 pattern). The
    // decimal casts/sums are the q09 recipe, so every derived double is
    // identical in both engines
    QuerySpec("p170_incremental_stats", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val fields = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val split = to_timestamp(lit("1997-01-01 00:00:00"))
      val merged = graft.ops.Stats.momentsReport(graft.ops.Stats.mergeMoments(Seq(
        graft.ops.Stats.momentsSketch(li.filter(col("l_shipdate") < split), fields),
        graft.ops.Stats.momentsSketch(li.filter(col("l_shipdate") >= split), fields))))
      val full = graft.ops.Stats.momentsReport(
        graft.ops.Stats.momentsSketch(li, fields))
        .select(col("field"), col("n").as("f_n"), col("sum").as("f_sum"),
          col("mean").as("f_mean"), col("stdev").as("f_stdev"))
      merged.join(full, "field")
        .select(col("field"), col("n"), col("n_na"), col("min"), col("max"),
          col("sum"), col("mean"), col("stdev"),
          (col("n") === col("f_n") && col("sum") === col("f_sum") &&
            col("mean") === col("f_mean") && col("stdev") === col("f_stdev"))
            .as("matches_full"))
        .orderBy(col("field"))
    }, Sql({
      val fields = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      def sk(alias: String, pred: String): String = fields.map { c =>
        s"""SELECT '$c' AS field, count($c) AS n, count(*) - count($c) AS n_na,
           |    min(CAST($c AS DECIMAL(18,2))) AS mn, max(CAST($c AS DECIMAL(18,2))) AS mx,
           |    coalesce(sum(CAST($c AS DECIMAL(18,2))), 0) AS s,
           |    coalesce(sum(CAST($c AS DECIMAL(18,2)) * CAST($c AS DECIMAL(18,2))), 0) AS sq
           |  FROM lineitem $pred""".stripMargin
      }.mkString(s"$alias AS (", " UNION ALL ", ")")
      s"""WITH ${sk("mb", "WHERE l_shipdate < TIMESTAMP '1997-01-01 00:00:00'")},
         |${sk("md", "WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'")},
         |${sk("mf", "")},
         |mm AS (SELECT field, CAST(sum(n) AS BIGINT) AS n, CAST(sum(n_na) AS BIGINT) AS n_na, min(mn) AS mn, max(mx) AS mx,
         |  sum(s) AS s, sum(sq) AS sq FROM (SELECT * FROM mb UNION ALL SELECT * FROM md) GROUP BY field),
         |rep AS (SELECT field, n, n_na, round(CAST(mn AS DOUBLE), 4) AS min, round(CAST(mx AS DOUBLE), 4) AS max,
         |  round(CAST(s AS DOUBLE), 2) AS sum,
         |  CASE WHEN n > 0 THEN round(CAST(s AS DOUBLE) / n, 6) END AS mean,
         |  CASE WHEN n > 1 THEN round(sqrt(greatest((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1), 0.0)), 6) END AS stdev
         |  FROM mm),
         |repf AS (SELECT field, n AS f_n, round(CAST(s AS DOUBLE), 2) AS f_sum,
         |  CASE WHEN n > 0 THEN round(CAST(s AS DOUBLE) / n, 6) END AS f_mean,
         |  CASE WHEN n > 1 THEN round(sqrt(greatest((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1), 0.0)), 6) END AS f_stdev
         |  FROM mf)
         |SELECT rep.field, n, n_na, min, max, sum, mean, stdev,
         |  (n = f_n AND sum = f_sum AND mean = f_mean AND stdev = f_stdev) AS matches_full
         |FROM rep JOIN repf ON rep.field = repf.field
         |ORDER BY rep.field""".stripMargin
    })),

    // PSI DISTRIBUTION-DRIFT report (round 17): how far one slice's value
    // distribution sits from the calibration slice's — the standard
    // monitoring metric for threshold decay (< 0.1 stable, > 0.25
    // shifted). Here: zh document lengths vs the en calibration window —
    // a real cross-slice shape difference. Bins from the BASE range,
    // add-0.5 smoothing, every term decimal-rounded pre-sum (the t110
    // contract), so the PSI replays exactly in SQL
    // Oracle: base-range bins + add-0.5 probabilities + decimal-rounded terms —
    // every float op in the same IEEE order as the engine's. SHARED by
    // p174 (batch) and q175 (streaming current side): stream ≡ batch is
    // exactly what the same-oracle equality witnesses
    QuerySpec("p174_psi_drift", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.Stats.psiDrift(d.filter(col("lang") === "en"),
          d.filter(col("lang") === "zh"), "n_chars", bins = 10)
        .orderBy(col("bin"))
    }, Sql(psiEnZhOracle))
  )
}
