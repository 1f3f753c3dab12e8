package graft

import graft.ops.ScaleJoins
import org.apache.spark.sql.functions._

/** Scale-join machinery: bucketed co-located joins (shuffle-free plan),
  * salted skew joins (correctness vs plain join), approximate distinct. */
class ScaleJoinsSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed join plan has no shuffle Exchange between the scans") {
    val o = core.Tables.orders(spark, sf("sf0.001"))
    val c = core.Tables.customer(spark, sf("sf0.001"))
      .withColumnRenamed("c_custkey", "o_custkey")
    ScaleJoins.writeBucketed(o, "graft_orders_b", "o_custkey", 8)
    ScaleJoins.writeBucketed(c, "graft_customer_b", "o_custkey", 8)
    val j = ScaleJoins.bucketedJoin(spark, "graft_orders_b", "graft_customer_b", "o_custkey")
    val plan = j.queryExecution.executedPlan.toString
    // SortMergeJoin over bucketed scans: no ShuffleExchange on either side
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
    assert(j.count() == core.Tables.orders(spark, sf("sf0.001")).count())
  }

  test("salted join returns exactly the rows of the plain join, on BOTH paths") {
    val skewed = (1 to 2000).map(i => (if (i % 10 == 0) 7L else i.toLong, s"v$i")).toDF("k", "lv")
    val dim = (1L to 2000L).map(k => (k, s"d$k")).toDF("k", "rv")
    val plain = skewed.join(dim, Seq("k")).select("k", "lv", "rv")
      .collect().map(_.toSeq).toSet
    // default budget → broadcast short-circuit
    val bcast = ScaleJoins.saltedJoin(skewed, dim, "k", salts = 4, saltCols = Seq("lv"))
      .select("k", "lv", "rv").collect().map(_.toSeq).toSet
    assert(bcast == plain)
    // zero budget → forced salted shuffle path
    val salted = ScaleJoins.saltedJoin(skewed, dim, "k", salts = 4, saltCols = Seq("lv"),
        broadcastBudgetBytes = 0L)
      .select("k", "lv", "rv").collect().map(_.toSeq).toSet
    assert(salted == plain)
  }

  test("salted join picks its plan by small-side size: broadcast under budget, shuffled-hash over it") {
    val skewed = (1 to 2000).map(i => (if (i % 2 == 0) 7L else i.toLong, i.toLong)).toDF("k", "row_id")
    val dim = (1L to 100L).map(k => (k, s"d$k")).toDF("k", "rv")
    val bPlan = ScaleJoins.saltedJoin(skewed, dim, "k", salts = 8, saltCols = Seq("row_id"))
      .queryExecution.executedPlan.toString
    assert(bPlan.contains("BroadcastHashJoin"), bPlan)
    val sPlan = ScaleJoins.saltedJoin(skewed, dim, "k", salts = 8, saltCols = Seq("row_id"),
        broadcastBudgetBytes = 0L)
      .queryExecution.executedPlan.toString
    // over budget: never builds a salts×|small| broadcast relation — the
    // exploded side shuffles into a hash join on (key, salt)
    assert(sPlan.contains("ShuffledHashJoin"), sPlan)
    assert(!sPlan.contains("BroadcastHashJoin"), sPlan)
  }

  test("salted join salt actually splits a pathological hot key") {
    // 50% of all rows on one key — the shape AQE can't split when a single
    // key exceeds executor memory.
    val n = 4000
    val skewed = (1 to n).map(i => (if (i % 2 == 0) 7L else i.toLong, i.toLong))
      .toDF("k", "row_id")
    val salts = 8
    val salted = skewed.withColumn("__salt",
      pmod(xxhash64(col("k"), col("row_id")), lit(salts)).cast("int"))
    val hot = salted.filter(col("k") === 7L).groupBy(col("__salt")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // every salt bucket occupied, and no bucket more than 2x the even share
    assert(hot.keySet == (0 until salts).toSet, s"unoccupied salt buckets: $hot")
    val share = (n / 2).toDouble / salts
    assert(hot.values.max <= 2 * share, s"salt did not spread the hot key: $hot")
    // and the library op over the same data equals the plain join — forced
    // onto the salted shuffle path, where the salt actually matters
    val dim = Seq((7L, "hot"), (1L, "cold")).toDF("k", "rv")
    val plain = skewed.join(dim, Seq("k")).count()
    assert(ScaleJoins.saltedJoin(skewed, dim, "k", salts, Seq("row_id"),
      broadcastBudgetBytes = 0L).count() == plain)
  }

  test("salted join keeps column pruning: q49 lineitem scan reads only the 2 referenced cols") {
    // under the broadcast short-circuit no salt column is computed, so the
    // lineitem scan reads only (l_orderkey, l_extendedprice)
    val q = SparkEntry.queries("q49_salted_join")(spark, sf("sf0.001"))
    val fmt = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val readSchemas = fmt.linesIterator.filter(_.contains("ReadSchema")).toSeq
    val liSchema = readSchemas.find(_.contains("l_orderkey")).getOrElse(
      fail(s"no lineitem ReadSchema in plan:\n$fmt"))
    val wanted = Seq("l_orderkey", "l_extendedprice")
    wanted.foreach(c => assert(liSchema.contains(c), s"missing $c in $liSchema"))
    val unwanted = Seq("l_quantity", "l_shipdate", "l_returnflag", "l_discount",
      "l_tax", "l_partkey", "l_suppkey", "l_linestatus", "l_linenumber")
    unwanted.foreach(c => assert(!liSchema.contains(c),
      s"scan reads unreferenced $c: $liSchema"))
    // and the forced salted path still prunes: salt adds only the saltCol
    val li = core.Tables.lineitem(spark, sf("sf0.001"))
    val o = core.Tables.orders(spark, sf("sf0.001"))
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    val salted = ScaleJoins.saltedJoin(li, o, "l_orderkey", 8, Seq("l_linenumber"),
        broadcastBudgetBytes = 0L)
      .groupBy(col("o_orderpriority")).count()
    val sFmt = salted.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val sLi = sFmt.linesIterator.filter(_.contains("ReadSchema"))
      .find(_.contains("l_orderkey")).getOrElse(fail(s"no lineitem scan:\n$sFmt"))
    assert(sLi.contains("l_linenumber") && !sLi.contains("l_quantity"), sLi)
  }

  test("IVF ANN: exact when probing all cells; recall floor and score parity at nprobe=3") {
    val e = core.Tables.embeddings(spark, sf("sf0.001"))
    val q = e.filter(col("vec_id") < 5)
    val brute = ops.Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // nprobe = nlist probes every cell → IVF must EQUAL brute force exactly
    // (exercises cell assignment, the probe join, and the rerank end-to-end;
    // tie-breaks are deterministic on (cosine desc, neighbor asc) both paths)
    val full = ops.Similarity.ivfTopK(e, q, "vec_id", "embedding", 10, nlist = 8, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(full == brute, "IVF probing all cells must reproduce exact brute-force top-k")
    // partial probe: approximate by design — on this near-uniform synthetic
    // corpus true neighbors scatter across cells, so the honest bound is a
    // floor well above the 3/8 random-probe baseline, not a high-recall claim
    val ivf = ops.Similarity.ivfTopK(e, q, "vec_id", "embedding", 10, nlist = 8, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(ivf.nonEmpty)
    val overlap = ivf.keySet.intersect(brute.keySet)
    assert(overlap.size * 2 >= ivf.size, s"recall too low: ${overlap.size}/${ivf.size}")
    overlap.foreach(k => assert(ivf(k) == brute(k)))
  }

  test("a tie at the k-th row keeps the lowest neighbor ids on every top-k path") {
    // query 0 is v and ids 1-6 are copies of v: six neighbors tied at
    // cosine 1.0 across the k = 3 cut. Ids 7-26 are distinct random
    // vectors. Every path must keep the three lowest ids of the tie (the
    // LSH paths because identical vectors share every bucket, the
    // coarse-then-exact paths because expand covers the corpus).
    val v = Seq(1f, -2f, 3f, 0.5f, -1f, 2f, 0.25f, 4f)
    val rnd = new scala.util.Random(7)
    val df = ((0L to 6L).map(_ -> v) ++
        (7L to 26L).map(_ -> Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("id", "vec")
    val q = df.filter(col("id") === 0L)
    val all = df.count().toInt / 3 + 1
    val sim = ops.Similarity
    def top(d: org.apache.spark.sql.DataFrame, key: String = "query_id") =
      d.filter(col(key) === 0L).select(col("neighbor_id"), col("cosine"))
        .as[(Long, Double)].collect().toSeq.sorted
    val want = Seq((1L, 1.0), (2L, 1.0), (3L, 1.0))
    Seq(
      "bruteForceTopK" -> sim.bruteForceTopK(df, q, "id", "vec", 3),
      "lshTopK" -> sim.lshTopK(df, q, "id", "vec", 3, planes = 4, dim = 8),
      "ivfTopK" -> sim.ivfTopK(df, q, "id", "vec", 3, nlist = 4, nprobe = 4),
      "rerankTopK" -> sim.rerankTopK(df, q, "id", "vec", 3, expand = all),
      "pqTopK" -> sim.pqTopK(df, q, "id", "vec", 3, sim.pqCodebook(2, 4, 4), expand = all)
    ).foreach { case (name, d) => assert(top(d) == want, name) }
    assert(top(sim.knnGraph(df, "id", "vec", 3, planes = 2, tables = 2, dim = 8),
      "node_id") == want, "knnGraph")
  }

  test("stratifiedHashFraction: deterministic, engine-portable thresholds, f=1.0 keeps all") {
    val d = core.Tables.documents(spark, sf("sf0.001"))
    val fr = Map("en" -> 0.25, "fr" -> 1.0)
    def run() = ops.Sampling.stratifiedHashFraction(d, "lang", "doc_id", fr)
      .select("doc_id").as[Long].collect().toSet
    val s1 = run()
    assert(s1 == run(), "content-hash sample must be identical across runs")
    // f = 1.0 stratum keeps every row
    val frAll = d.filter(col("lang") === "fr").count()
    val frKept = ops.Sampling.stratifiedHashFraction(d, "lang", "doc_id", fr)
      .filter(col("lang") === "fr").count()
    assert(frKept == frAll, s"f=1.0 must keep all fr rows: $frKept/$frAll")
    // unlisted strata are dropped
    val langs = ops.Sampling.stratifiedHashFraction(d, "lang", "doc_id", fr)
      .select("lang").distinct().as[String].collect().toSet
    assert(langs.subsetOf(Set("en", "fr")))
    // the en fraction lands near 0.25 (md5 uniformity; loose bound for a small table)
    val enAll = d.filter(col("lang") === "en").count().toDouble
    val enKept = ops.Sampling.stratifiedHashFraction(d, "lang", "doc_id", fr)
      .filter(col("lang") === "en").count().toDouble
    assert(enKept / enAll > 0.1 && enKept / enAll < 0.45, s"en kept $enKept of $enAll")
    // the rule is the documented one: md5 prefix below the hex threshold
    val ids = ops.Sampling.stratifiedHashFraction(d, "lang", "doc_id", fr)
      .filter(col("lang") === "en").select("doc_id").as[Long].collect().toSet
    val expected = d.filter(col("lang") === "en")
      .filter(substring(md5(col("doc_id").cast("string")), 1, 5) < "40000")
      .select("doc_id").as[Long].collect().toSet
    assert(ids == expected)
    // a fraction that quantizes UP to 2^20 must keep everything (a naive
    // 6-hex-char threshold would keep ~1/16 of rows)
    val near1 = ops.Sampling.stratifiedHashFraction(d, "lang", "doc_id",
      Map("en" -> 0.9999996)).count()
    assert(near1 == enAll.toLong, s"near-1.0 fraction kept $near1 of ${enAll.toLong}")
  }

  test("temperatureBalance: min stratum kept whole, skewed strata flatten by sqrt") {
    val d = core.Tables.documents(spark, sf("sf0.001"))
    val bal = ops.Sampling.temperatureBalance(d, "lang", "doc_id")
    // deterministic (pure function of content)
    assert(bal.select("doc_id").as[Long].collect().toSet ==
      ops.Sampling.temperatureBalance(d, "lang", "doc_id")
        .select("doc_id").as[Long].collect().toSet)
    val before = d.groupBy("lang").count().as[(String, Long)].collect().toMap
    val after = bal.groupBy("lang").count().as[(String, Long)].collect().toMap
    val minN = before.values.min
    // every min-count stratum survives completely (f = 1.0 exactly)
    before.filter(_._2 == minN).keys.foreach { l =>
      assert(after(l) == minN, s"min stratum $l must keep all: ${after(l)}/$minN")
    }
    // each stratum lands near its sqrt(min/n) target (md5 uniformity, small-
    // sample slack) and never exceeds its original count
    before.foreach { case (l, n) =>
      val target = math.sqrt(minN.toDouble / n) * n
      val kept = after.getOrElse(l, 0L).toDouble
      assert(kept <= n && math.abs(kept - target) <= math.max(6.0, 0.5 * target),
        s"$l kept $kept, target $target of $n")
    }
  }

  test("topFractionByScore: ceil(frac·n) per stratum, md5-deterministic ties") {
    val d = Seq(
      (1L, "a", 0.9), (2L, "a", 0.8), (3L, "a", 0.7), (4L, "a", 0.6), (5L, "a", 0.5),
      (6L, "b", 0.4), (7L, "b", 0.4), (8L, "b", 0.4)
    ).toDF("id", "g", "score")
    val kept = ops.Sampling.topFractionByScore(d, "g", "id", "score", 0.4)
      .select("id").as[Long].collect().toSet
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // a: ceil(5·0.4)=2 top scores; b: all tied at 0.4 → first 2 in md5 order
    val bKept = Seq(6L, 7L, 8L).sortBy(i => m(i.toString)).take(2).toSet
    assert(kept == Set(1L, 2L) ++ bKept, s"kept=$kept expected b-ties=$bKept")
    // frac = 1.0 keeps everything
    assert(ops.Sampling.topFractionByScore(d, "g", "id", "score", 1.0).count() == 8)
  }

  test("temperatureBalance: NULL stratum drops without distorting min_n") {
    // 2 null-stratum rows (would be the min group if counted) + en×8, fr×4
    val rows = (1L to 8L).map(i => (i, "en")) ++
      (9L to 12L).map(i => (i, "fr")) ++ Seq((13L, null), (14L, null))
    val d = rows.toDF("doc_id", "lang")
    val bal = ops.Sampling.temperatureBalance(d, "lang", "doc_id")
      .select("doc_id", "lang").as[(Long, String)].collect().toSeq
    assert(!bal.exists(_._2 == null), "NULL-stratum rows must be dropped")
    // min_n must be fr's 4 (not the NULL group's 2): fr keeps ALL its rows
    assert(bal.count(_._2 == "fr") == 4,
      s"fr must keep all 4 rows (min stratum): $bal")
  }

  test("asofJoin: simultaneous right rows resolve deterministically to the max payload") {
    val left = Seq((1L, 10L, "L")).toDF("k", "t", "tag")
    // three quotes at the same instant — without a payload sort the attached
    // px would be arbitrary; the contract picks the largest payload tuple
    val right = Seq((1L, 10L, 5.0), (1L, 10L, 9.0), (1L, 10L, 7.0)).toDF("k", "qt", "px")
    (1 to 3).foreach { _ =>
      val got = ScaleJoins.asofJoin(left, right, "k", "t", "qt", Seq("px"))
        .select("asof_px").as[Double].collect().toSeq
      assert(got == Seq(9.0), s"expected deterministic max-payload tie-break, got $got")
    }
  }

  test("asofJoin: the attached payload is one right row's tuple, never a cross-row mix") {
    val left = Seq((1L, 10L)).toDF("k", "t")
    // winning tuple (px=9.0) has qty NULL; a per-column fill would stitch
    // (9.0, 1) — a tuple no right row contains
    val right = Seq((1L, 10L, Some(5.0), Some(1L)), (1L, 10L, Some(9.0), None))
      .toDF("k", "qt", "px", "qty")
    val got = ScaleJoins.asofJoin(left, right, "k", "t", "qt", Seq("px", "qty"))
      .select("asof_px", "asof_qty").collect().head
    assert(got.getDouble(0) == 9.0 && got.isNullAt(1),
      s"expected the atomic (9.0, null) tuple, got $got")
  }

  test("saltedJoin rejects right/full outer (salts would duplicate unmatched rows)") {
    val l = Seq((1L, "a")).toDF("k", "lv")
    val r = Seq((2L, "b")).toDF("k", "rv")
    Seq("right", "full_outer", "full").foreach { jt =>
      intercept[IllegalArgumentException] {
        ScaleJoins.saltedJoin(l, r, "k", salts = 2, saltCols = Seq("lv"), joinType = jt)
      }
    }
    // left outer stays supported: unmatched LARGE rows appear exactly once
    val lo = ScaleJoins.saltedJoin(l, r, "k", salts = 4, saltCols = Seq("lv"),
      joinType = "left", broadcastBudgetBytes = 0L)
    assert(lo.count() == 1)
  }

  test("stratifiedExact: exactly k per stratum, deterministic across runs") {
    val d = core.Tables.documents(spark, sf("sf0.001"))
    val s1 = ops.Sampling.stratifiedExact(d, "lang", "doc_id", 10)
      .select("doc_id").as[Long].collect().toSet
    val s2 = ops.Sampling.stratifiedExact(d, "lang", "doc_id", 10)
      .select("doc_id").as[Long].collect().toSet
    assert(s1 == s2)
    val counts = ops.Sampling.stratifiedExact(d, "lang", "doc_id", 10)
      .groupBy("lang").count().select("count").as[Long].collect()
    assert(counts.forall(_ == 10))
  }

  test("topTerms: ranked term frequencies per group") {
    val df = Seq((1L, "en", "a a a b b c"), (2L, "en", "b c c"), (3L, "fr", "x y x"))
      .toDF("id", "lang", "text")
    val got = ops.Sampling.topTerms(df, "lang", "text", 2)
      .orderBy(col("lang"), col("rank"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(("en", "a", 3L, 1L), ("en", "b", 3L, 2L), ("fr", "x", 2L, 1L), ("fr", "y", 1L, 2L)))
  }

  test("asofJoin: latest prior payload per key, inclusive ties, null when none") {
    val trades = Seq((1L, 10L, 100), (1L, 20L, 200), (1L, 5L, 50), (2L, 10L, 999))
      .toDF("sym", "t", "qty")
    val quotes = Seq((1L, 10L, 1.5), (1L, 15L, 2.5), (1L, 7L, 1.0), (3L, 1L, 9.9))
      .toDF("sym", "qt", "px")
    val got = ScaleJoins.asofJoin(trades, quotes, "sym", "t", "qt", Seq("px"))
      .select(col("sym"), col("t"), col("qty"), col("asof_px"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), if (r.isNullAt(3)) null else r.getDouble(3))).toMap
    assert(got((1L, 10L)) == ((100, 1.5)))   // tie: quote AT t=10 counts
    assert(got((1L, 20L)) == ((200, 2.5)))   // latest of 3 prior quotes
    assert(got((1L, 5L))  == ((50, null)))   // no prior quote
    assert(got((2L, 10L)) == ((999, null)))  // key with no quotes at all
    // exactly one output row per left row — never a fan-out
    assert(ScaleJoins.asofJoin(trades, quotes, "sym", "t", "qt", Seq("px")).count()
      == trades.count())
  }

  test("topKPerGroup: exactly k deterministic rows per key, hash-join-free plan") {
    val df = (1 to 100).map(i => (i % 5, i, i * 1.5)).toDF("g", "id", "v")
    val got = ops.Relational.topKPerGroup(df, Seq("g"),
      Seq(col("v").desc, col("id").asc), k = 2)
    assert(got.groupBy("g").count().collect().forall(_.getLong(1) == 2))
    // top-2 of group 0 are the two largest v values (ids 100, 95)
    val g0 = got.filter(col("g") === 0).select("id").as[Int].collect().toSet
    assert(g0 == Set(100, 95))
    // WindowGroupLimit: Spark bounds the per-partition sort to k rows
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("rangeJoinKeyed: same-lineage frames, window bounds honored, no cartesian") {
    val ev = Seq((1L, 100L, "a"), (1L, 150L, "b"), (1L, 200L, "a"),
      (2L, 100L, "a"), (2L, 300L, "b")).toDF("uid", "ts", "kind")
    val anchors = ev.filter(col("kind") === "b").select(col("uid").as("a_uid"), col("ts").as("a_ts"))
    val others = ev.filter(col("kind") === "a").select(col("uid").as("o_uid"), col("ts").as("o_ts"))
    // others in [a_ts - 100, a_ts): (1,150)←(1,100); (2,300)←nothing (gap 200)
    val got = ScaleJoins.rangeJoinKeyed(anchors, others, "a_uid", "o_uid",
        "a_ts", "o_ts", -100L, 0L, "left")
      .groupBy(col("a_uid"), col("a_ts")).agg(count(col("o_ts")).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((1L, 150L) -> 1L, (2L, 300L) -> 0L))
    val plan = ScaleJoins.rangeJoinKeyed(anchors, others, "a_uid", "o_uid",
      "a_ts", "o_ts", -100L, 0L).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("rangeJoinBinned equals the naive range join and never goes cartesian") {
    val points = (1 to 500).map(i => (i.toLong, i * 7.3 % 400)).toDF("pid", "v")
    val bands = Seq(("a", 0.0, 100.0), ("b", 100.0, 250.0), ("c", 250.0, 400.0))
      .toDF("band", "lo", "hi")
    val naive = points.join(bands, col("v") >= col("lo") && col("v") < col("hi"))
      .select("pid", "band").collect().map(_.toSeq).toSet
    val binned = ScaleJoins.rangeJoinBinned(points, bands, "v", "lo", "hi", 50.0)
      .select("pid", "band").collect().map(_.toSeq).toSet
    assert(binned == naive)
    // the binned plan is an equi-join on __bin, not a nested-loop cartesian
    val plan = ScaleJoins.rangeJoinBinned(points, bands, "v", "lo", "hi", 50.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("intersect/except distinct semantics") {
    val l = Seq(1, 2, 2, 3, 4).toDF("x")
    val r = Seq(3, 4, 4, 5).toDF("x")
    assert(ops.Relational.intersect(l, r).as[Int].collect().sorted.toSeq == Seq(3, 4))
    assert(ops.Relational.except(l, r).as[Int].collect().sorted.toSeq == Seq(1, 2))
  }

  test("planeMatrix is deterministic, bounded, and md5-reproducible") {
    val m1 = ops.Similarity.planeMatrix(4, 16)
    val m2 = ops.Similarity.planeMatrix(4, 16)
    assert(m1.flatten.toSeq == m2.flatten.toSeq)
    assert(m1.flatten.forall(w => w >= -1.0 && w <= 1.0))
    // spot-check one component against the definition
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest("2_5".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
    assert(m1(2)(5) == ((h % 2000001L) - 1000000L).toDouble / 1000000.0)
  }

  test("filter and projection push down to the parquet scan") {
    val q = SparkEntry.queries("q02_filter_project")(spark, sf("sf0.001"))
    val scan = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(scan.contains("GreaterThanOrEqual(l_quantity,45.0)"), scan)
    // column pruning: unreferenced columns never reach the scan
    assert(scan.contains("ReadSchema") && !scan.contains("l_returnflag"), scan)
  }

  test("dimension joins broadcast (no shuffle of the small side)") {
    val q = SparkEntry.queries("q03_join_agg_revenue")(spark, sf("sf0.001"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("shuffleShards: bijective permutation, exact shard sizes, layout-stable") {
    import spark.implicits._
    val docs = (0L until 1000L).toDF("id")
    val out = graft.ops.Sampling.shuffleShards(docs, "id", shardSize = 64)
      .select("id", "pos", "shard").as[(Long, Long, Long)].collect()
    // bijection: every id once, every position once
    assert(out.map(_._1).toSet == (0L until 1000L).toSet)
    assert(out.map(_._2).sorted.toSeq == (0L until 1000L).toSeq)
    // shard sizes: full shards of exactly 64, one 40-row tail
    val sizes = out.groupBy(_._3).view.mapValues(_.length).toMap
    assert(sizes.size == 16 && sizes(15L) == 40 && (0L to 14L).forall(sizes(_) == 64))
    // content-hash determinism: a different input layout yields the SAME
    // permutation (the point of md5 over RNG)
    val out2 = graft.ops.Sampling.shuffleShards(docs.repartition(7), "id", 64)
      .select("id", "pos").as[(Long, Long)].collect().toMap
    assert(out.forall { case (id, pos, _) => out2(id) == pos })
  }

  test("zValue = bit-interleave reference; Z-clustering bounds BOTH columns per partition") {
    import spark.implicits._
    def ref(x: Long, y: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L)((a, i) =>
        a | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1)))
    val pts = Seq((0L, 0L), (3L, 1L), (1L, 3L), (1023L, 511L), (12345L, 678L))
    val got = pts.toDF("x", "y")
      .select(graft.ops.Layout.zValue(col("x"), col("y"), 20)).as[Long].collect()
    assert(got.toSeq == pts.map { case (x, y) => ref(x, y, 20) })
    // locality: a 100×100 grid Z-clustered into 16 range partitions (the
    // explicit file-count knob — a count-less range exchange would be
    // AQE-coalesced to ONE partition on 10k rows and leave nothing to
    // measure) — every partition must cover a SMALL rectangle in both x
    // and y (an x-only sort would leave y spanning the full 0..99)
    val grid = (for (x <- 0L until 100L; y <- 0L until 100L) yield (x, y)).toDF("x", "y")
    val ranges = graft.ops.Layout.clusterByZOrder(grid, "x", "y", bits = 7, numPartitions = 16)
      .select(col("x"), col("y"), spark_partition_id().as("p"))
      .groupBy("p").agg((max("x") - min("x")).as("rx"), (max("y") - min("y")).as("ry"))
      .as[(Int, Long, Long)].collect()
    assert(ranges.length === 16)
    val (avgRx, avgRy) = (ranges.map(_._2).sum.toDouble / ranges.length,
      ranges.map(_._3).sum.toDouble / ranges.length)
    assert(avgRx < 60 && avgRy < 60, s"avg ranges $avgRx/$avgRy — not clustered")
  }

  test("approx distinct within rsd of exact") {
    val li = core.Tables.lineitem(spark, sf("sf0.001"))
    val r = ScaleJoins.distinctCounts(li, Seq("l_returnflag"), "l_partkey").collect()
    r.foreach { row =>
      val exact = row.getAs[Long]("exact_distinct").toDouble
      val approx = row.getAs[Long]("approx_distinct").toDouble
      assert(math.abs(approx - exact) / exact < 0.15, s"approx $approx vs exact $exact")
    }
  }

  test("rerankTopK: corpus-covering expand reproduces exact brute force; k rows per query") {
    val e = core.Tables.embeddings(spark, sf("sf0.001"))
    val q = e.filter(col("vec_id") < 5)
    val brute = ops.Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // expand covering the whole corpus → the coarse pass cannot evict any
    // candidate, so the exact re-rank IS brute force — pins the quantize,
    // candidate-fetch, and re-rank plumbing end-to-end
    val n = e.count().toInt
    val full = ops.Similarity.rerankTopK(e, q, "vec_id", "embedding", 10,
        expand = n / 10 + 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(full == brute, "full-expand rerank must reproduce exact brute-force top-k")
    // tight expand: approximate by design — exactly k rows per query, and
    // wherever it agrees with brute force the SCORES are identical (the
    // re-rank is exact; only candidate membership is approximate)
    val tight = ops.Similarity.rerankTopK(e, q, "vec_id", "embedding", 10, expand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(tight.groupBy(_._1._1).forall(_._2.length == 10), "k rows per query")
    val tm = tight.toMap
    val overlap = tm.keySet.intersect(brute.keySet)
    // int8 coarse ranking is a small perturbation of the float ranking on
    // this corpus — a 4× candidate buffer recovers the bulk of the top-k
    assert(overlap.size * 10 >= tm.size * 7, s"overlap ${overlap.size}/${tm.size}")
    overlap.foreach(k => assert(tm(k) == brute(k)))
  }

  test("pqEncode: hand-checked codes, argmin tie to lowest; pqTopK full expand ≡ brute force") {
    // hand codebook: 2 subspaces × 2 centroids × 1 dim
    val cb = Array(
      Array(Array(0.0), Array(1.0)),   // subspace 1: centroids 0, 1
      Array(Array(0.5), Array(0.5)))   // subspace 2: equal → tie → code 1
    val vecs = Seq((1L, Seq(0.2f, 9.0f)), (2L, Seq(0.9f, -1.0f)))
      .toDF("vec_id", "embedding")
    val codes = ops.Similarity.pqEncode(vecs, "vec_id", "embedding", cb)
      .orderBy("vec_id").as[(Long, Seq[Long])].collect().toSeq
    // vec 1: 0.2 → centroid 0 (code 1); tie subspace → first-min code 1
    // vec 2: 0.9 → centroid 1 (code 2)
    assert(codes == Seq((1L, Seq(1L, 1L)), (2L, Seq(2L, 1L))))
    // full-corpus expand: candidate set = everything → the exact re-rank
    // IS brute force, whatever the codebook quality — the same invariant
    // rerankTopK and IVF nprobe=nlist pin
    val e = core.Tables.embeddings(spark, sf("sf0.001"))
    val q = e.filter(col("vec_id") < 5)
    val brute = ops.Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val n = e.count().toInt
    val full = ops.Similarity.pqTopK(e, q, "vec_id", "embedding", 10,
        ops.Similarity.pqCodebook(8, 16, 8), expand = n / 10 + 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(full == brute, "full-expand PQ must reproduce exact brute-force top-k")
    // tight expand: k rows per query; agreed rows carry identical scores
    val tight = ops.Similarity.pqTopK(e, q, "vec_id", "embedding", 10,
        ops.Similarity.pqCodebook(8, 16, 8), expand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(tight.groupBy(_._1._1).forall(_._2.length == 10), "k rows per query")
    tight.toMap.foreach { case (key, c) =>
      brute.get(key).foreach(b => assert(b == c, s"score mismatch at $key")) }
  }

  test("pqCodebookTrained: deterministic, full expand ≡ brute force, tight-expand recall floor") {
    val e = core.Tables.embeddings(spark, sf("sf0.001"))
    val q = e.filter(col("vec_id") < 5)
    val fit = () => ops.Similarity.pqCodebookTrained(e, "vec_id", "embedding",
      m = 8, k = 16, subDim = 8, trainCap = 512)
    val cb = fit()
    // no RNG state anywhere: refitting reproduces the codebook bit-for-bit
    assert(cb.flatten.flatten.toSeq == fit().flatten.flatten.toSeq)
    assert(cb.length == 8 && cb.forall(s => s.length == 16 && s.forall(_.length == 8)))
    val brute = ops.Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // full-corpus expand: the exact re-rank IS brute force regardless of
    // codebook quality — same invariant the md5-grid pqTopK test pins
    val n = e.count().toInt
    val full = ops.Similarity.pqTopK(e, q, "vec_id", "embedding", 10,
        cb, expand = n / 10 + 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(full == brute, "full-expand trained-PQ must reproduce brute-force top-k")
    // tight expand (the x120 knobs): k rows per query, agreed rows carry
    // identical scores. Absolute recall through a 4x buffer is bounded by
    // the ADC approximation itself (squared-L2 over 8x-compressed codes
    // ranking a COSINE objective on unnormalized vectors) — the md5 grid
    // measures 22/50 here, training lifts it to 26/50, expand=8 to 39/50
    // — so the pins are (a) training is never WORSE than the untrained
    // grid at identical knobs and (b) a 50% absolute floor; both exact
    // every run (deterministic sample + Lloyd, no RNG state)
    def recallAt(codebook: Array[Array[Array[Double]]]) = {
      val got = ops.Similarity.pqTopK(e, q, "vec_id", "embedding", 10,
          codebook, expand = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      assert(got.groupBy(_._1._1).forall(_._2.length == 10), "k rows per query")
      val tm = got.toMap
      val overlap = tm.keySet.intersect(brute.keySet)
      overlap.foreach(k => assert(tm(k) == brute(k)))
      overlap.size
    }
    val trained = recallAt(cb)
    val grid = recallAt(ops.Similarity.pqCodebook(8, 16, 8))
    assert(trained >= grid, s"trained $trained < grid $grid")
    assert(trained * 2 >= brute.size, s"recall floor: $trained/${brute.size}")
  }

  test("ann partitioned index: bucket= dirs prune at the scan; result ≡ in-memory lshPqTopK") {
    val e = core.Tables.embeddings(spark, sf("sf0.001"))
    val cb = ops.Similarity.pqCodebook(8, 16, 8)
    val dir = tempDir().toString
    ops.Similarity.writeAnnIndex(e, "vec_id", "embedding", cb,
      planes = 2, dim = 64, path = dir)
    val nParts = new java.io.File(dir).listFiles().count(_.getName.startsWith("bucket="))
    assert(nParts > 1, s"want multiple bucket partitions, got $nParts")
    val q = e.filter(col("vec_id") === 0L)
    val got = ops.Similarity.queryAnnIndex(e, q, "vec_id", "embedding", k = 10,
      codebook = cb, planes = 2, dim = 64, path = dir, expand = 4)
    // the single query's single bucket must prune to ONE bucket= directory
    // at the DIRECTORY level (PartitionFilters), not the row level
    val plan = got.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains(
          new java.io.File(dir).getName)) => s
    }
    assert(scans.nonEmpty, "index scan not found in the physical plan")
    assert(scans.head.selectedPartitions.partitionCount == 1,
      s"one query bucket must read ONE bucket= dir, got " +
        s"${scans.head.selectedPartitions.partitionCount} of $nParts")
    assert(scans.head.metadata.getOrElse("PartitionFilters", "").contains("bucket"))
    // and the persisted path reproduces the in-memory composition bit-for-bit
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("query_id"), col("neighbor_id")).collect().toSeq.map(_.toSeq)
    val mem = ops.Similarity.lshPqTopK(e, q, "vec_id", "embedding", 10, cb,
      planes = 2, dim = 64, expand = 4)
    assert(rows(got) == rows(mem))
    val q8 = e.filter(col("vec_id") < 8)
    val got8 = ops.Similarity.queryAnnIndex(e, q8, "vec_id", "embedding", k = 10,
      codebook = cb, planes = 2, dim = 64, path = dir, expand = 4)
    val mem8 = ops.Similarity.lshPqTopK(e, q8, "vec_id", "embedding", 10, cb,
      planes = 2, dim = 64, expand = 4)
    assert(rows(got8) == rows(mem8))
  }

  test("appendAnnIndex: grown layout ≡ full rebuild ≡ in-memory; existing files untouched") {
    val e = core.Tables.embeddings(spark, sf("sf0.001"))
    val cb = ops.Similarity.pqCodebook(8, 16, 8)
    val dir = tempDir().toString
    // base = 80% of the corpus; batch = the remaining 20%
    ops.Similarity.writeAnnIndex(e.filter(col("vec_id") % 5 =!= 0),
      "vec_id", "embedding", cb, planes = 2, dim = 64, path = dir)
    def files() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = files()
    ops.Similarity.appendAnnIndex(e.filter(col("vec_id") % 5 === 0),
      "vec_id", "embedding", cb, planes = 2, dim = 64, path = dir)
    val after = files()
    // append-only maintenance: every pre-existing file survives byte-
    // untouched (same path, same mtime); the batch only ADDS files
    assert(before.forall { case (p, m) => after.get(p).contains(m) },
      "append must not rewrite existing index files")
    assert(after.size > before.size, "append must add files")
    // the grown layout serves the identical result as the in-memory
    // composition over the UNIONED corpus (and hence as a full rebuild)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("query_id"), col("neighbor_id")).collect().toSeq.map(_.toSeq)
    val q8 = e.filter(col("vec_id") < 8)
    val got = ops.Similarity.queryAnnIndex(e, q8, "vec_id", "embedding", k = 10,
      codebook = cb, planes = 2, dim = 64, path = dir, expand = 4)
    val mem = ops.Similarity.lshPqTopK(e, q8, "vec_id", "embedding", 10, cb,
      planes = 2, dim = 64, expand = 4)
    assert(rows(got) == rows(mem))
  }

  /** A spec's oracle SQL at `dir`, as Verify writes it. */
  private def oracleAt(name: String, dir: String): String =
    SparkEntry.specs.find(_.name == name).get.oracleSql(spark, dir).get

  test("s143 pqt tier: three tiers per query; the trained codebook refits bit-for-bit") {
    val rows = SparkEntry.queries("s143_pq_recall")(spark, sf("sf0.001")).collect()
    assert(rows.map(_.getString(0)).distinct.sorted.toSeq == Seq("lshpq", "pq", "pqt"))
    // all three tiers report every query (full-scan tiers k rows each;
    // lshpq may prune below k but never to a missing query row)
    val nq = rows.map(_.getLong(1)).distinct.length
    assert(rows.groupBy(_.getString(0)).forall(_._2.length == nq))
    // the oracle refits at the same dir: a refit reproduces the fit
    // bit-for-bit (the determinism the oracle's exactness rests on)
    def fit() = ops.Similarity.pqCodebookTrained(
      core.Tables.embeddings(spark, sf("sf0.001")), "vec_id", "embedding",
      m = 8, k = 16, subDim = 8)
    assert(fit().flatten.flatten.toSeq == fit().flatten.flatten.toSeq)
  }

  test("d74/p92 auto-planes: the oracle inlines autoPlanes(n); d74 equals the fixed-knob form") {
    val n = core.Tables.embeddings(spark, sf("sf0.001")).count()
    val expected = ops.Similarity.autoPlanes(n)
    val rows = SparkEntry.queries("d74_embed_neardup_lsh")(spark, sf("sf0.001")).collect()
    val sql = oracleAt("d74_embed_neardup_lsh", sf("sf0.001"))
    assert(!sql.contains("error("))
    // the bucket expression carries exactly `expected` CASE terms per table
    // (2 tables) — the knob is verifiably inlined, not a fixed constant
    assert("CASE WHEN".r.findAllIn(sql).size == expected * 2,
      s"expected ${expected * 2} CASE terms in:\n${sql.take(400)}")
    // and the result equals the fixed-knob form at the same planes
    val fixed = ops.Similarity.nearDupPairs(
        core.Tables.embeddings(spark, sf("sf0.001")), "vec_id", "embedding",
        threshold = 0.35, planes = expected, tables = 2, dim = 64)
      .orderBy(col("id_a"), col("id_b")).collect()
    assert(rows.toSeq.map(_.toSeq) == fixed.toSeq.map(_.toSeq))
  }

  test("s151 auto-serving: the oracle replays autoServingPlanes; the row equals the fixed-knob form") {
    val e = core.Tables.embeddings(spark, sf("sf0.001"))
    val expected = ops.Similarity.autoServingPlanes(e.count(), k = 10, expand = 4)
    val rows = SparkEntry.queries("s151_lshpq_auto")(spark, sf("sf0.001")).collect()
    assert(!oracleAt("s151_lshpq_auto", sf("sf0.001")).contains("error("))
    // and the row equals the fixed-knob serving form at the same planes
    val fixed = ops.Similarity.lshPqTopK(e, e.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 10, codebook = ops.Similarity.pqCodebook(8, 16, 8),
        planes = expected, dim = 64, expand = 4)
      .orderBy(col("query_id"), col("neighbor_id")).collect()
    assert(rows.toSeq.map(_.toSeq) == fixed.toSeq.map(_.toSeq))
  }

  test("q125: MIN/MAX/COUNT answered from parquet footer statistics (PushedAggregation)") {
    val s = spark.newSession()
    // aggregate pushdown exists only in the V2 parquet reader; the scoped
    // session opts parquet out of the V1 list
    s.conf.set("spark.sql.sources.useV1SourceList", "")
    s.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    val agg = s.read.parquet(sf("sf0.001") + "/lineitem.parquet")
      .agg(expr("count(*)").as("n"), min(col("l_quantity")), max(col("l_orderkey")))
    val fmt = agg.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(fmt.contains("PushedAggregation: [COUNT(*)"),
      s"aggregate must reach the scan:\n$fmt")
    // and the numbers match a full-scan aggregate with pushdown off
    val full = spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
      .agg(expr("count(*)"), min(col("l_quantity")), max(col("l_orderkey")))
    assert(agg.collect().toSeq.map(_.toSeq) == full.collect().toSeq.map(_.toSeq))
  }

  test("lshPqTopK: corpus-covering expand ≡ exact in-bucket top-k") {
    val e = core.Tables.embeddings(spark, sf("sf0.001"))
    val q = e.filter(col("vec_id") < 5)
    val cb = ops.Similarity.pqCodebook(8, 16, 8)
    val n = e.count().toInt
    val got = ops.Similarity.lshPqTopK(e, q, "vec_id", "embedding", 10, cb,
        planes = 2, dim = 64, expand = n / 10 + 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // expected: exact cosine top-k RESTRICTED to the query's own bucket —
    // with the candidate buffer covering the bucket, PQ's coarse ranking
    // cannot evict anyone, so the composition must equal this exactly
    // (ranked on the unrounded cosine, rounded only for the final compare)
    val b = e.select(col("vec_id"),
      ops.Similarity.lshBucket(col("embedding"), 2, 64).as("b"))
    val pairs = b.select(col("vec_id").as("query_id"), col("b"))
      .filter(col("query_id") < 5)
      .join(b.select(col("vec_id").as("neighbor_id"), col("b")), "b")
      .filter(col("neighbor_id") =!= col("query_id"))
    val scored = pairs
      .join(e.select(col("vec_id").as("query_id"), col("embedding").as("qv")), "query_id")
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv")), "neighbor_id")
      .withColumn("c0", graft.functions.VectorExpressions.cosineNative(spark, col("qv"), col("cv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("c0").desc, col("neighbor_id").asc)
    val expect = scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .select(col("query_id"), col("neighbor_id"), round(col("c0"), 4).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got == expect, "bucket-pruned PQ at full expand must equal exact in-bucket top-k")
    assert(got.nonEmpty)
  }

  test("autoServingPlanes: flat per-query coarse cost, prune ratio tracks n, clamps") {
    import ops.Similarity.autoServingPlanes
    // the gate corpora (k=10, expand=4 → target occupancy 160): 500
    // vectors → 1 plane, sf0.1's 2000 → 3, the 10× stress corpus's
    // 20000 → 6 — the knob tracks corpus growth (docs/PLANS.md, "Round-15
    // PQ serving auto-sizing contract", records recall at these picks vs
    // the fixed-knob grid)
    assert(autoServingPlanes(500, 10, 4) == 1)
    assert(autoServingPlanes(2000, 10, 4) == 3)
    assert(autoServingPlanes(20000, 10, 4) == 6)
    // the defining property: the LARGEST planes whose expected bucket
    // occupancy n/2^planes still covers occupancyFactor·k·expand — coarse
    // ADC cost per query stays ~flat while 2^planes (the prune ratio)
    // grows with n
    val target = 4.0 * 10 * 4
    for (n <- Seq(1000L, 5000L, 50000L, 1000000L, 123456789L)) {
      val p = autoServingPlanes(n, 10, 4)
      assert(n / math.pow(2, p) >= target, s"occupancy violated at n=$n p=$p")
      assert(n / math.pow(2, p + 1) < target, s"p=$p not the largest at n=$n")
    }
    // clamps: empty/tiny corpora get the minimum viable single plane
    // (below 2·target even one plane violates occupancy — that end of the
    // range is pqTopK's full scan territory, documented on the contract)
    assert(autoServingPlanes(0, 10, 4) == 1)
    assert(autoServingPlanes(100, 10, 4) == 1)
    assert(autoServingPlanes(Long.MaxValue, 1, 1, 1e-9) == 48)
  }

  test("autoServingPlanes lshPqTopK: auto planes release the bucket constraint") {
    // the recall curve's driving observation (docs/PLANS.md, "Round-15
    // PQ serving auto-sizing contract"), pinned: at the 500-vector gate
    // corpus the fixed serving knob (planes=3,
    // expected occupancy 62.5 < k·expand·4) BINDS recall at the bucket,
    // not the codebook — auto sizing (planes=1, occupancy 250) must be
    // at least as good at every expand (deterministic md5 hyperplanes +
    // grid codebook → these means are exact constants, not noise)
    val e = core.Tables.embeddings(spark, sf("sf0.001"))
    val q = e.filter(col("vec_id") < 8)
    val cb = ops.Similarity.pqCodebook(8, 16, 8)
    val exact = ops.Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 10)
    def mean(df: org.apache.spark.sql.DataFrame): Double =
      ops.Similarity.recallAtK(df, exact).agg(avg(col("recall"))).first().getDouble(0)
    val n = e.count()
    for (expand <- Seq(4, 16)) {
      val auto = mean(ops.Similarity.lshPqTopK(e, q, "vec_id", "embedding",
        k = 10, codebook = cb, planes = ops.Similarity.autoServingPlanes(n, 10, expand),
        dim = 64, expand = expand))
      val fixed = mean(ops.Similarity.lshPqTopK(e, q, "vec_id", "embedding",
        k = 10, codebook = cb, planes = 3, dim = 64, expand = expand))
      assert(auto >= fixed,
        s"expand=$expand: auto recall $auto below fixed-planes $fixed")
    }
  }

  test("tokenBudgetPrefix: inclusive prefix rule, running totals, determinism") {
    // order by (score desc, id): sizes 5, 4, 3, 1 — budget 10 keeps docs
    // 1-2 (cum 5, 9); doc 3 CROSSES (12 > 10) and, prefix semantics (not
    // knapsack), doc 4 is out too even though its 1 token would still fit
    val df = Seq(
      (1L, 0.9, 5L), (2L, 0.8, 4L), (3L, 0.7, 3L), (4L, 0.6, 1L)
    ).toDF("doc_id", "score", "n_tokens")
    val got = ops.Sampling.tokenBudgetPrefix(df, "doc_id", "score", "n_tokens", 10L)
      .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toSeq.sorted
    assert(got == Seq((1L, 5L), (2L, 9L)))
    // tie on score → doc_id ascending breaks it
    val tied = Seq((7L, 0.5, 2L), (5L, 0.5, 2L), (6L, 0.5, 2L))
      .toDF("doc_id", "score", "n_tokens")
    val t = ops.Sampling.tokenBudgetPrefix(tied, "doc_id", "score", "n_tokens", 4L)
      .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toSeq.sorted
    assert(t == Seq((5L, 2L), (6L, 4L)))
    // determinism under physical layout changes: same kept set from a
    // repartitioned input (the order is a total order, the totals exact)
    val d = core.Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id"), (col("doc_id") % 7).cast("double").as("score"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    def run(in: org.apache.spark.sql.DataFrame) =
      ops.Sampling.tokenBudgetPrefix(in, "doc_id", "score", "n_tokens", 2000L)
        .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toSet
    val r1 = run(d)
    val r2 = run(d.repartition(17))
    assert(r1 == r2 && r1.nonEmpty)
    // running totals reconstruct the driver-computed prefix exactly
    val expect = d.collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .sortBy { case (id, s, _) => (-s, id) }
      .scanLeft((0L, 0L)) { case ((_, cum), (id, _, n)) => (id, cum + n) }
      .drop(1).takeWhile(_._2 <= 2000L).toSet
    assert(r1 == expect)
  }

  test("clusterSplit: cluster-atomic splits, exact singleton rule, sane fractions") {
    val docs = core.Tables.documents(spark, sf("sf0.001"))
    val pairs = ops.Dedup.simHashPairs(
        ops.Dedup.simHash(docs, "doc_id", "text"), maxDist = 3)
      .select(col("id_a"), col("id_b"))
    val cc = ops.Dedup.connectedComponents(pairs, "id_a", "id_b")
    val split = ops.Sampling.clusterSplit(docs.select(col("doc_id")), "doc_id",
      cc, "node", "component",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).cache()
    // a partition of the corpus: every doc exactly once, labels from the cuts
    assert(split.count() == docs.count())
    assert(split.select("split").distinct().as[String].collect().toSet
      .subsetOf(Set("train", "val", "test")))
    // THE leakage property: no near-dup pair straddles a split boundary
    val straddle = pairs
      .join(split.select(col("doc_id").as("id_a"), col("split").as("sa")), "id_a")
      .join(split.select(col("doc_id").as("id_b"), col("split").as("sb")), "id_b")
      .filter(col("sa") =!= col("sb")).count()
    assert(straddle == 0L, s"$straddle near-dup pairs straddle splits")
    // singleton rows (rep = own id) follow the documented md5-vs-hex5 rule
    // exactly; the literals pin the 1/2^20 quantization (0.8 → ccccd,
    // 0.9 → e6666) the oracle inlines
    val rule = docs.select(col("doc_id"),
      when(substring(md5(col("doc_id").cast("string")), 1, 5) < "ccccd", "train")
        .when(substring(md5(col("doc_id").cast("string")), 1, 5) < "e6666", "val")
        .otherwise("test").as("want"))
    val wrongSingles = split.filter(col("rep_id") === col("doc_id"))
      .join(rule, "doc_id").filter(col("split") =!= col("want")).count()
    assert(wrongSingles == 0L, "singleton split must equal the per-row hash rule")
    // fractions land near the cuts (md5 uniformity; loose small-table bound)
    val n = split.count().toDouble
    val tr = split.filter(col("split") === "train").count() / n
    assert(tr > 0.7 && tr < 0.9, s"train fraction $tr")
    split.unpersist()
  }

  test("hardNegatives: label-mismatched boundary negatives, driver-exact, salt-invariant") {
    val e = core.Tables.embeddings(spark, sf("sf0.001"))
    val q = e.filter(col("vec_id") < 6)
    val hn = ops.Similarity.hardNegatives(e, q, "vec_id", "embedding", "label", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    val labels = e.select(col("vec_id"), col("label")).as[(Long, Int)].collect().toMap
    // k rows per query; never self, never the query's own label
    assert(hn.groupBy(_._1).forall(_._2.length == 5))
    hn.foreach { case (qid, nid, nl, _) =>
      assert(qid != nid && labels(nid) == nl && nl != labels(qid))
    }
    // ids match a driver-side exact reference (same fold order, same
    // (cosine desc, id) tie-break)
    val vecs = e.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      def dot(x: Array[Double], y: Array[Double]) =
        x.zip(y).foldLeft(0.0) { case (acc, (u, v)) => acc + u * v }
      dot(ad, bd) / (math.sqrt(dot(ad, ad)) * math.sqrt(dot(bd, bd)))
    }
    val want = q.select(col("vec_id"), col("label")).as[(Long, Int)].collect()
      .map { case (qid, ql) =>
        qid -> vecs.toSeq
          .filter { case (nid, _) => nid != qid && labels(nid) != ql }
          .map { case (nid, v) => (nid, cos(vecs(qid), v)) }
          .sortBy { case (nid, c) => (-c, nid) }.take(5).map(_._1).toSet
      }.toMap
    assert(hn.groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).toSet } == want)
    // the salted two-stage reduction is exact: equals the unsalted ranking
    val one = ops.Similarity.hardNegatives(e, q, "vec_id", "embedding", "label",
        k = 5, salts = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(one == hn.map(t => (t._1, t._2)).toSet)
  }

  test("interleaveByStratum: aligned batches cycle through every stratum") {
    val d = core.Tables.documents(spark, sf("sf0.001")).select(col("doc_id"), col("source"))
    val nStrata = d.select("source").distinct().count().toInt
    val out = ops.Sampling.interleaveByStratum(d, "source", "doc_id").cache()
    // a permutation: every doc once, positions contiguous from 0
    assert(out.count() == d.count())
    assert(out.agg(min("pos"), max("pos")).as[(Long, Long)].head() ==
      ((0L, d.count() - 1)))
    // equal-size strata → every aligned batch of n_strata rows holds ALL
    // strata (the by-construction mixing shuffleShards only has in expectation)
    val perBatch = out.withColumn("batch", expr(s"pos div $nStrata"))
      .groupBy("batch").agg(countDistinct("source").as("ns"))
      .filter(col("ns") =!= nStrata).count()
    assert(perBatch == 0L, s"$perBatch batches miss a stratum")
    // deterministic across physical layouts
    val again = ops.Sampling.interleaveByStratum(d.repartition(17), "source", "doc_id")
      .select("doc_id", "pos").as[(Long, Long)].collect().toSet
    assert(again == out.select("doc_id", "pos").as[(Long, Long)].collect().toSet)
    out.unpersist()
  }

  test("jaccardHistogram: bins partition the pair set; tail equals jaccardPairs") {
    val d = core.Tables.documents(spark, sf("sf0.001"))
    val hist = ops.Dedup.jaccardHistogram(d, "doc_id", "text", n = 3,
      minJ = 0.1, maxShingleDf = 500).collect()
    assert(hist.nonEmpty)
    hist.foreach { r =>
      val bin = r.getLong(0)
      assert(bin >= 1 && bin <= 9) // minJ = 0.1 floors to bin 1 at least
      assert(r.getDouble(1) == bin / 10.0 && r.getDouble(2) == (bin + 1) / 10.0)
    }
    // the histogram's >= 0.8 mass is exactly the d22 pair count at the
    // same cap (same raw-ratio filter, so no rounding seam)
    val tail = hist.filter(_.getLong(0) >= 8).map(_.getLong(3)).sum
    val pairs08 = ops.Dedup.jaccardPairs(d, "doc_id", "text", n = 3,
      threshold = 0.8, maxShingleDf = 500).count()
    assert(tail == pairs08, s"hist tail $tail != jaccardPairs $pairs08")
    val total = hist.map(_.getLong(3)).sum
    val pairs01 = ops.Dedup.jaccardPairs(d, "doc_id", "text", n = 3,
      threshold = 0.1, maxShingleDf = 500).count()
    assert(total == pairs01)
  }

  test("phraseContamination: planted verbatim phrases found, paraphrases and mid-token not") {
    val evalSet = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"), // windows: [1..6], 2 tokens left over
      (2L, "one two three four five"),                       // < 6 tokens: contributes nothing
      (3L, "red orange yellow green blue indigo violet ultraviolet infrared xray gamma2 radio")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "prefix alpha beta gamma delta epsilon zeta suffix"),      // eval-1 window 1, token-aligned
      (11L, "alpha beta gamma delta zeta epsilon nothing"),            // paraphrase (reordered): no hit
      (12L, "x red orange yellow green blue indigo y violet ultraviolet infrared xray gamma2 radio z"), // both eval-3 windows
      (13L, "one two three four five"),                                // eval-2 too short to emit phrases
      (14L, "completely unrelated text with many tokens here"),
      (15L, "xalpha beta gamma delta epsilon zeta")                    // raw substring but NOT token-aligned: no hit
    ).toDF("doc_id", "text")
    val hits = ops.Dedup.phraseContamination(corpus, evalSet, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(hits == Map(10L -> 1L, 12L -> 2L), s"got $hits")
    // empty eval set → empty result
    assert(ops.Dedup.phraseContamination(corpus, evalSet.limit(0),
      "doc_id", "text").count() == 0L)
  }

  test("targetMix: binding stratum kept whole, mix lands on target, unlisted dropped") {
    val d = core.Tables.documents(spark, sf("sf0.001"))
    val targets = Map("en" -> 0.5, "zh" -> 0.2, "es" -> 0.15, "de" -> 0.15)
    val out = ops.Sampling.targetMix(d, "lang", "doc_id", targets).cache()
    val before = d.groupBy("lang").count().as[(String, Long)].collect().toMap
    val after = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    // unlisted strata are dropped entirely
    assert(!after.contains("fr"))
    // the binding stratum (min n/p) survives ~whole (floor quantization can
    // shave the 1/2^20 tail of an exactly-1.0 fraction)
    val binding = targets.keys.minBy(l => before(l) / targets(l))
    assert(after(binding) >= before(binding) - 1,
      s"binding $binding: ${after(binding)}/${before(binding)}")
    // every kept stratum lands near its p·T share (md5 uniformity slack)
    val tTotal = targets.keys.map(l => before(l) / targets(l)).min
    targets.foreach { case (l, p) =>
      val want = p * tTotal
      assert(math.abs(after(l) - want) <= math.max(6.0, 0.35 * want),
        s"$l kept ${after(l)}, target share $want")
    }
    // pure content function: identical kept set across physical layouts
    val again = ops.Sampling.targetMix(d.repartition(13), "lang", "doc_id", targets)
      .select("doc_id").as[Long].collect().toSet
    assert(again == out.select("doc_id").as[Long].collect().toSet)
    out.unpersist()
  }

  test("covarianceUpper: driver-exact within rounding, PSD diagonal, width guard") {
    val e = core.Tables.embeddings(spark, sf("sf0.001"))
    val dim = 64
    val cov = ops.Similarity.covarianceUpper(e, "embedding", dim)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cov.size == dim * (dim + 1) / 2)
    assert(cov.keys.forall { case (i, j) => i >= 0 && i <= j && j < dim })
    // diagonal entries are variances: non-negative up to the 1e-6 rounding
    (0 until dim).foreach(i => assert(cov((i.toLong, i.toLong)) >= -1e-6))
    // matches the plain-double driver covariance within rounding granularity
    val vecs = e.select(col("embedding")).as[Array[Float]].collect()
      .map(_.map(_.toDouble))
    val n = vecs.length.toDouble
    val mu = (0 until dim).map(i => vecs.map(_(i)).sum / n)
    for (((i, j), c) <- cov) {
      val exy = vecs.map(v => v(i.toInt) * v(j.toInt)).sum / n
      assert(math.abs(c - (exy - mu(i.toInt) * mu(j.toInt))) < 5e-6,
        s"cov($i,$j)=$c vs driver ${exy - mu(i.toInt) * mu(j.toInt)}")
    }
    // wrong-width vectors are excluded, not mis-multiplied
    val mixed = e.select(col("embedding"))
      .union(Seq(Array(1.0f, 2.0f)).toDF("embedding"))
    val cov2 = ops.Similarity.covarianceUpper(mixed, "embedding", dim)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cov2 == cov)
  }

  test("jacobiEigen: golden 2×2 and 3×3 eigenpairs, unique sign, sorted desc") {
    // [[2,1],[1,2]] → λ = 3, 1; vectors (1,1)/√2 and (1,−1)/√2 — the
    // sign rule makes the largest-|entry| component positive
    val (vals, vecs) = ops.Similarity.jacobiEigen(
      Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(math.abs(vals(0) - 3.0) < 1e-12 && math.abs(vals(1) - 1.0) < 1e-12)
    val s2 = 1.0 / math.sqrt(2.0)
    assert(vecs(0).zip(Array(s2, s2)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    assert(math.abs(math.abs(vecs(1)(0)) - s2) < 1e-12 &&
      vecs(1)(0) * vecs(1)(1) < 0)
    // a diagonal matrix is already solved: eigenvalues sorted desc,
    // eigenvectors the (sign-normalized) axes
    val (dv, dV) = ops.Similarity.jacobiEigen(
      Array(Array(1.0, 0.0, 0.0), Array(0.0, 5.0, 0.0), Array(0.0, 0.0, 3.0)))
    assert(dv.toSeq == Seq(5.0, 3.0, 1.0))
    assert(dV(0).toSeq == Seq(0.0, 1.0, 0.0) && dV(1).toSeq == Seq(0.0, 0.0, 1.0))
    // V diagonalizes A: ‖A·v − λ·v‖ small for a dense symmetric case
    val a = Array(Array(4.0, 1.0, 0.5), Array(1.0, 3.0, 0.25), Array(0.5, 0.25, 2.0))
    val (ev, eV) = ops.Similarity.jacobiEigen(a)
    for (c <- 0 until 3; r <- 0 until 3) {
      val av = (0 until 3).map(k => a(r)(k) * eV(c)(k)).sum
      assert(math.abs(av - ev(c) * eV(c)(r)) < 1e-10, s"residual at ($r,$c)")
    }
  }

  test("whiten: output covariance ≈ identity on the real corpus; deterministic fit") {
    val e = core.Tables.embeddings(spark, sf("sf0.001"))
    val (mu, w) = ops.Similarity.whitenModel(e, "embedding", dim = 64, k = 8)
    assert(mu.length == 64 && w.length == 8 && w.forall(_.length == 64))
    // the fit is a pure function of the corpus (decimal moments +
    // fixed-order StrictMath Jacobi): two fits are bit-identical
    val (mu2, w2) = ops.Similarity.whitenModel(e, "embedding", dim = 64, k = 8)
    assert(mu.sameElements(mu2) && w.zip(w2).forall { case (a, b) => a.sameElements(b) })
    // THE whitening property: cov(y) ≈ I — diagonals ~1, off-diagonals ~0
    val y = ops.Similarity.whiten(e, "vec_id", "embedding", mu, w)
    val rows = y.orderBy("id").collect()
      .map(r => (1 to 8).map(i => r.getDouble(i)).toArray)
    val n = rows.length.toDouble
    val ymu = (0 until 8).map(c => rows.map(_(c)).sum / n)
    for (i <- 0 until 8; j <- i until 8) {
      val cij = rows.map(v => v(i) * v(j)).sum / n - ymu(i) * ymu(j)
      if (i == j) assert(math.abs(cij - 1.0) < 0.05, s"var($i)=$cij not ~1")
      else assert(math.abs(cij) < 0.05, s"cov($i,$j)=$cij not ~0")
    }
    // wrong-width vectors are excluded, not mis-projected
    import spark.implicits._
    val mixed = e.select(col("vec_id"), col("embedding"))
      .union(Seq((99999L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding"))
    assert(ops.Similarity.whiten(mixed, "vec_id", "embedding", mu, w).count() ==
      y.count())
  }

  test("recallAtK: hand-built overlaps exact, empty-approx query reported as 0") {
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L), (3L, 30L))
      .toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (1L, 12L), (1L, 99L), (2L, 77L))
      .toDF("query_id", "neighbor_id")
    val got = ops.Similarity.recallAtK(approx, exact)
      .as[(Long, Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // query 1: 2 of 3 exact found; query 2: 0 of 2; query 3: approx empty
    assert(got(1L) == ((1L, 3L, 3L, 2L, 0.666667)))
    assert(got(2L) == ((2L, 1L, 2L, 0L, 0.0)))
    assert(got(3L) == ((3L, 0L, 1L, 0L, 0.0)))
    // LSH probing every hyperplane sign must reach recall 1.0 vs itself
    val e = core.Tables.embeddings(spark, sf("sf0.001"))
    val q = e.filter(col("vec_id") < 4)
    val brute = ops.Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5)
    val self = ops.Similarity.recallAtK(brute, brute)
      .select("recall").as[Double].collect()
    assert(self.nonEmpty && self.forall(_ == 1.0))
  }

  test("noveltyScore: planted df-1 fractions exact, short docs absent") {
    val docs = Seq(
      (1L, "a b c d e f"),            // "a b c d e" shared with doc 2, "b c d e f" unique
      (2L, "a b c d e x"),            // one shared, one unique
      (3L, "zz yy xx ww vv uu tt"),   // 3 shingles, all unique
      (4L, "too short")               // < 5 tokens: no shingles, absent
    ).toDF("doc_id", "text")
    val got = ops.Dedup.noveltyScore(docs, "doc_id", "text", n = 5)
      .select("id", "n_shingles", "n_unique", "novelty")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got(1L) == ((1L, 2L, 1L, 0.5)))
    assert(got(2L) == ((2L, 2L, 1L, 0.5)))
    assert(got(3L) == ((3L, 3L, 3L, 1.0)))
  }

  test("topKByScore: absolute per-stratum cap, best-k by score, k>=n keeps all") {
    val d = Seq(
      ("a", 1L, 0.9), ("a", 2L, 0.5), ("a", 3L, 0.7), ("a", 4L, 0.5),
      ("b", 5L, 0.1), ("b", 6L, 0.2)
    ).toDF("g", "id", "score")
    val kept = ops.Sampling.topKByScore(d, "g", "id", "score", 2)
      .select("g", "id").as[(String, Long)].collect().toSet
    // a: best-2 = 0.9 and 0.7; the 0.5 tie pair never enters. b: cap not binding
    assert(kept == Set(("a", 1L), ("a", 3L), ("b", 5L), ("b", 6L)))
    // at the cap boundary the md5(id) tie-break picks ONE 0.5 row, deterministically
    val k3 = ops.Sampling.topKByScore(d, "g", "id", "score", 3)
      .filter(col("g") === "a").select("id").as[Long].collect().toSet
    val tieWinner = Seq(2L, 4L).minBy(i =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    assert(k3 == Set(1L, 3L, tieWinner))
    assert(ops.Sampling.topKByScore(d, "g", "id", "score", 10).count() == d.count())
  }

  test("PqDistTable: wrong-length vector fails with an explicit geometry error") {
    val cb = ops.Similarity.pqCodebook(8, 16, 8) // m=8, kc=16, subDim=8 -> dim 64
    val c = graft.functions.PqExpressions.pqDistTable(spark, col("embedding"), cb)
    def rootMsgs(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ rootMsgs(t.getCause)
    // codegen path (DataFrame execution)
    val bad = Seq((1L, Array.fill(63)(0.1f))).toDF("vec_id", "embedding")
    val e1 = intercept[Throwable] { bad.select(c).collect() }
    assert(rootMsgs(e1).exists(_.contains("pq_dist_table: vector length 63")),
      s"unexpected error chain: ${rootMsgs(e1)}")
    // interpreted path (direct nullSafeEval)
    val expr = graft.functions.PqDistTable(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array.fill(63)(0.1f), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = false)),
      cb.flatten.flatten.toSeq, 8, 16)
    val e2 = intercept[IllegalArgumentException] {
      expr.nullSafeEval(org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array.fill(63)(0.1f)))
    }
    assert(e2.getMessage.contains("vector length 63"))
    // and the correct length still evaluates
    val ok = Seq((1L, Array.fill(64)(0.1f))).toDF("vec_id", "embedding")
    assert(ok.select(c).collect().head.getSeq[Double](0).length == 8 * 16)
  }

  test("clusterWeights: 1/size soft-dedup weights, singleton fill, mass ≈ distinct docs") {
    import graft.ops.Sampling
    // docs 1..6; cluster {1,2,3} under component 1, {4,5} under 4; 6 absent
    val docs = (1L to 6L).map(i => Tuple1(i)).toDF("doc_id")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("node", "component")
    val got = Sampling.clusterWeights(docs, clusters, "doc_id", "node", "component")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(_._2).toSeq == Seq(1L, 1L, 1L, 4L, 4L, 6L))
    assert(got.map(_._3).toSeq == Seq(3L, 3L, 3L, 2L, 2L, 1L))
    // weights through the portable floor: 1/3 → 0.333333, 1/2, singleton 1.0
    assert(got.map(_._4).toSeq == Seq(0.333333, 0.333333, 0.333333, 0.5, 0.5, 1.0))
    // the soft-dedup invariant: total weighted mass ≈ number of distinct
    // clusters (each cluster contributes ~1 doc of gradient mass)
    val mass = got.map(_._4).sum
    assert(math.abs(mass - 3.0) < 1e-5, s"weighted mass $mass != 3 clusters")
  }
}
