package graft

import graft.ops.{Diagnostics, Similarity, TextIndex}
import org.apache.spark.sql.functions._

/** Corpus indexing, n-gram LM statistics, cluster centroids, and key
  * distribution diagnostics — semantics on hand-checkable micro-data plus
  * invariants (posting cap, smoothing normalization, exact means) that must
  * survive any plan change. */
class TextIndexSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "alpha beta alpha gamma"),
    (2L, "beta gamma beta"),
    (3L, "alpha beta"),
    (4L, "Gamma! ALPHA?")
  ).toDF("doc_id", "text")

  test("invertedIndex: df counts, sorted postings, minDf filter") {
    val idx = TextIndex.invertedIndex(docs, "doc_id", "text").orderBy("token")
      .as[(String, Long, String)].collect().toSeq
    // alpha ∈ {1,3,4}, beta ∈ {1,2,3}, gamma ∈ {1,2,4} — distinct per doc,
    // case-folded, punctuation split away
    assert(idx == Seq(
      ("alpha", 3L, "1,3,4"), ("beta", 3L, "1,2,3"), ("gamma", 3L, "1,2,4")))
    val minDf = TextIndex.invertedIndex(docs, "doc_id", "text", minDf = 4L)
    assert(minDf.count() == 0L)
  }

  test("invertedIndex: posting list capped, df count complete") {
    val many = (1L to 30L).map(i => (i, "tok")).toDF("doc_id", "text")
    val r = TextIndex.invertedIndex(many, "doc_id", "text", capPostings = 5)
      .as[(String, Long, String)].collect().toSeq
    // df counts all 30 documents; postings keep only the 5 smallest ids
    assert(r == Seq(("tok", 30L, "1,2,3,4,5")))
  }

  test("bigramConditional: counts and add-k smoothed probabilities") {
    val r = TextIndex.bigramConditional(docs, "text", topN = 10)
      .as[(String, String, Long, Double)].collect().toSeq
    // bigram stream: (alpha,beta) (beta,alpha) (alpha,gamma) | (beta,gamma)
    // (gamma,beta) | (alpha,beta) | (gamma,alpha); V = distinct w2 = 3
    val m = r.map(t => (t._1, t._2) -> (t._3, t._4)).toMap
    assert(m(("alpha", "beta"))._1 == 2L)
    // c(alpha,·) = 3: p = (2 + 0.5) / (3 + 0.5·3) = 2.5/4.5
    assert(math.abs(m(("alpha", "beta"))._2 - 2.5 / 4.5) < 1e-6)
    assert(m(("gamma", "alpha"))._1 == 1L)
    // c(gamma,·) = 2: p = 1.5/3.5
    assert(math.abs(m(("gamma", "alpha"))._2 - 1.5 / 3.5) < 1e-6)
    // top-1 by count is the only count-2 bigram
    assert(r.head._3 == 2L && (r.head._1, r.head._2) == (("alpha", "beta")))
  }

  test("bigramConditional: per-left observed mass bounded by 1") {
    val d = core.Tables.documents(spark, sf("sf0.001"))
    val r = TextIndex.bigramConditional(d, "text", topN = 10000)
    val mass = r.groupBy("w1").agg(sum("p_cond").as("mass"), count(lit(1)).as("k"))
    // observed-continuation mass is (c1 + 0.5k)/(c1 + 0.5V) ≤ 1, equal only
    // when w1 was seen before every token in V — which this small-vocab
    // corpus does reach, so the bound is ≤ 1 up to the 6-dp output rounding
    val (maxMass, maxK) = mass.agg(max("mass"), max("k")).as[(Double, Long)].head()
    assert(maxMass <= 1.0 + maxK * 5e-7)
    assert(mass.agg(min("mass")).as[Double].head() > 0.0)
  }

  test("bigramLogProbScore: hand-computed add-k means") {
    val d = Seq((1L, "a b a"), (2L, "b b")).toDF("doc_id", "text")
    val r = graft.ops.TextIndex.bigramLogProbScore(d, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    // model: c(a,b)=c(b,a)=c(b,b)=1; c(a,·)=1, c(b,·)=2; V=2
    // doc1: mean(ln 1.5/2, ln 1.5/3); doc2: ln 1.5/3 — with 7-dp per-term
    // rounding and the portable floor 6-dp mean
    def score(ps: Seq[Double]): Double = {
      val s = ps.map(p => BigDecimal(math.log(p))
        .setScale(7, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
      math.floor(s / ps.length * 1e6 + 0.5) / 1e6
    }
    assert(r == Seq(
      (1L, 2L, score(Seq(0.75, 0.5))),
      (2L, 1L, score(Seq(0.5)))))
  }

  test("bucketCentroids: exact per-bucket means, every dimension present") {
    val e = core.Tables.embeddings(spark, sf("sf0.001"))
    val c = Similarity.bucketCentroids(e, "vec_id", "embedding", planes = 3, dim = 64)
    val rows = c.collect()
    val buckets = rows.map(_.getLong(0)).distinct
    // every (bucket, dim) pair present; dims complete per bucket
    assert(rows.length == buckets.length * 64)
    // n_vectors per bucket sums to the corpus size, constant across dims
    val n = c.filter(col("dim_pos") === 0).agg(sum("n_vectors")).as[Long].head()
    assert(n == e.count())
    // spot-check one bucket/dim against a driver-side exact mean
    val b0 = buckets.min
    val members = e.withColumn("b",
        Similarity.lshBucket(col("embedding"), 3, 64))
      .filter(col("b") === b0)
      .select(element_at(col("embedding"), 1).cast("double")).as[Double].collect()
    val expected = math.floor(members.map(BigDecimal(_).setScale(7, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / members.length * 1e6 + 0.5) / 1e6
    val got = rows.find(r => r.getLong(0) == b0 && r.getLong(1) == 0L).get.getDouble(3)
    assert(math.abs(got - expected) < 1e-9)
  }

  test("funnel: ordered steps, strictly-after semantics, tie does not advance") {
    val ev = Seq(
      (1L, "A", 1L), (1L, "B", 2L), (1L, "C", 3L),      // full funnel
      (2L, "B", 1L), (2L, "A", 2L), (2L, "B", 5L),       // B-before-A ignored, later B counts
      (3L, "B", 2L), (3L, "A", 3L),                       // B only before A -> step 1 only
      (4L, "B", 1L), (4L, "C", 2L),                       // never signs up
      (5L, "A", 4L), (5L, "B", 4L)                        // tie: B NOT strictly after A
    ).toDF("u", "t", "ts")
    val r = graft.ops.Events.funnel(ev, "u", "t", "ts", Seq("A", "B", "C"))
      .collect()
    assert(r.map(x => (x.getLong(0), x.getString(1), x.getLong(2))).toSeq ==
      Seq((1L, "A", 4L), (2L, "B", 2L), (3L, "C", 1L)))
    assert(r.map(_.getDouble(3)).toSeq == Seq(1.0, 0.5, 0.5))   // conv_from_prev
    assert(r.map(_.getDouble(4)).toSeq == Seq(1.0, 0.5, 0.25))  // conv_from_first
  }

  test("topPaths: per-user lead chains, end-of-run exclusion, tie-broken ranks") {
    val ev = Seq(
      // user 1: A B C D -> paths A>B>C, B>C>D
      (1L, 10L, "A", 1L), (1L, 11L, "B", 2L), (1L, 12L, "C", 3L), (1L, 13L, "D", 4L),
      // user 2: A B C -> A>B>C (cross-user aggregation)
      (2L, 20L, "A", 1L), (2L, 21L, "B", 2L), (2L, 22L, "C", 3L),
      // user 3: two events only -> NO path (window crosses the run's end)
      (3L, 30L, "A", 1L), (3L, 31L, "B", 2L),
      // user 4: same-timestamp tie -> event_id order decides X>Y>Z
      (4L, 40L, "X", 5L), (4L, 41L, "Y", 5L), (4L, 42L, "Z", 5L)
    ).toDF("user_id", "event_id", "event_type", "ts_ns")
    val r = graft.ops.Events.topPaths(ev, n = 3, topN = 10)
      .as[(String, Long, Long)].collect().toSeq
    assert(r == Seq(
      ("A>B>C", 2L, 1L), ("B>C>D", 1L, 2L), ("X>Y>Z", 1L, 3L)))
    // n = 2 pairs: user 3 contributes now; count ties rank lexicographically
    val pairs = graft.ops.Events.topPaths(ev, n = 2, topN = 3)
      .as[(String, Long, Long)].collect().toSeq
    // count-1 ties (C>D, X>Y, Y>Z) break lexicographically: C>D wins slot 3
    assert(pairs == Seq(("A>B", 3L, 1L), ("B>C", 2L, 2L), ("C>D", 1L, 3L)))
  }

  test("scd2: run collapse, interval chaining, same-timestamp id order, open current run") {
    val ev = Seq(
      // user 1: A A B A -> runs A[1,3) x2, B[3,4) x1, A[4,∞) x1
      (1L, 10L, "A", 1L), (1L, 11L, "A", 2L), (1L, 12L, "B", 3L), (1L, 13L, "A", 4L),
      // user 2: same-timestamp events — event_id order decides the runs:
      // 20:X, 21:Y, 22:Y at ts 5 -> X[5,5) then Y[5,∞) x2
      (2L, 20L, "X", 5L), (2L, 21L, "Y", 5L), (2L, 22L, "Y", 5L)
    ).toDF("user_id", "event_id", "event_type", "ts_ns")
    val r = graft.ops.Events.scd2(ev, "user_id", "event_type")
      .orderBy(col("user_id"), col("valid_from"), col("event_type"))
      .as[(Long, String, Long, Option[Long], Long, Boolean)].collect().toSeq
    assert(r == Seq(
      (1L, "A", 1L, Some(3L), 2L, false),
      (1L, "B", 3L, Some(4L), 1L, false),
      (1L, "A", 4L, None, 1L, true),
      (2L, "X", 5L, Some(5L), 1L, false),
      (2L, "Y", 5L, None, 2L, true)))
  }

  test("resampleDaily: grid spans, forward fill, last-per-day by (ts, id)") {
    val ev = Seq(
      // user 1: events on day 1 (two, same ts — id breaks the tie) and day 4
      (1L, 10L, java.sql.Date.valueOf("2024-01-01"), 100L, 5.0),
      (1L, 11L, java.sql.Date.valueOf("2024-01-01"), 100L, 7.0), // later id wins
      (1L, 12L, java.sql.Date.valueOf("2024-01-04"), 400L, 9.0),
      // user 2: single event — single-row grid
      (2L, 20L, java.sql.Date.valueOf("2024-01-10"), 10L, 3.0)
    ).toDF("user_id", "event_id", "day", "ts_ns", "value")
    val r = graft.ops.Events.resampleDaily(ev, "user_id", "day", "value")
      .orderBy("user_id", "day")
      .as[(Long, java.sql.Date, Long, Double)].collect().toSeq
      .map { case (u, d, n, v) => (u, d.toString, n, v) }
    assert(r == Seq(
      (1L, "2024-01-01", 2L, 7.0), // same-ts tie → higher event_id's value
      (1L, "2024-01-02", 0L, 7.0), // filled
      (1L, "2024-01-03", 0L, 7.0), // filled
      (1L, "2024-01-04", 1L, 9.0),
      (2L, "2024-01-10", 1L, 3.0)))
  }

  test("retention: cohort by first day, per-cell distinct users, exact rates") {
    val ev = Seq(
      (1L, "2024-01-01"), (1L, "2024-01-02"), (1L, "2024-01-02"), // dup day collapses
      (2L, "2024-01-01"), (2L, "2024-01-03"),
      (3L, "2024-01-02")
    ).toDF("u", "ds").withColumn("day", to_date(col("ds")))
    val r = graft.ops.Events.retention(ev, "u", "day")
      .orderBy("cohort_day", "day_offset").collect()
    val cells = r.map(x => (x.getDate(0).toString, x.getLong(1), x.getLong(2),
      x.getLong(3), x.getDouble(4))).toSeq
    assert(cells == Seq(
      ("2024-01-01", 0L, 2L, 2L, 1.0),   // cohort 1/1: both users day 0
      ("2024-01-01", 1L, 1L, 2L, 0.5),   // u1 back on day 1
      ("2024-01-01", 2L, 1L, 2L, 0.5),   // u2 back on day 2
      ("2024-01-02", 0L, 1L, 1L, 1.0)))  // u3's own cohort
  }

  test("weightedDownsample: proportional keep, caps, non-positive excluded") {
    import graft.ops.Sampling
    val docs = core.Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id"), lit(1.0).as("w"))
    // uniform weights over 50 docs, target 20 → keep-prob exactly 0.4;
    // the kept count is hash-deterministic, assert a sane band
    val kept = Sampling.weightedDownsample(docs, "doc_id", "w", 20L)
    val n = kept.count()
    assert(n > 5 && n < 40, s"kept $n of 50 at p=0.4")
    // determinism: the same call yields the same set
    val a = kept.select("doc_id").as[Long].collect().toSet
    val b = Sampling.weightedDownsample(docs, "doc_id", "w", 20L)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b)
    // zero/negative weights never kept; a dominant weight caps at keep-all
    val zw = Seq((1L, 0.0), (2L, -1.0), (3L, 100.0)).toDF("id", "w")
    val k2 = Sampling.weightedDownsample(zw, "id", "w", 3L)
      .select("id").as[Long].collect().toSeq
    assert(k2 == Seq(3L))
  }

  test("keyProfile: ranks, shares, cumulative shares, skew ratio") {
    val df = (Seq.fill(6)("a") ++ Seq.fill(3)("b") ++ Seq("c")).toDF("k")
    val r = Diagnostics.keyProfile(df, "k", topN = 2).orderBy("rank").collect()
    assert(r.length == 2)
    val top = r.head
    assert(top.getLong(0) == 1L && top.getString(1) == "a" && top.getLong(2) == 6L)
    assert(top.getDouble(3) == 0.6 && top.getDouble(4) == 0.6)
    assert(top.getLong(5) == 3L && top.getLong(6) == 10L)
    // skew = max_cnt · n_keys / total = 6·3/10
    assert(top.getDouble(7) == 1.8)
    val second = r(1)
    assert(second.getString(1) == "b" && second.getDouble(4) == 0.9)
  }

  test("dsirResample: target and corpus scores equal bigramLogProbScore's mean") {
    // with the target model estimated from the corpus itself, both of a
    // doc's scores must equal bigramLogProbScore's mean exactly: one
    // estimation path, two entry points
    val self = TextIndex.bigramLogProbScore(docs, "doc_id", "text")
      .select("doc_id", "avg_logprob").orderBy("doc_id").collect().toSeq
      .map(r => r.getLong(0) -> r.getDouble(1))
    val both = TextIndex.dsirResample(docs, docs, "doc_id", "text", 1.0)
      .select("doc_id", "lp_target", "lp_corpus").orderBy("doc_id").collect().toSeq
    assert(both.map(r => r.getLong(0) -> r.getDouble(1)) == self)
    assert(both.map(r => r.getLong(0) -> r.getDouble(2)) == self)
    // fraction=1 keeps every SCORED doc (all 4 here have ≥ 2 tokens)
    val all = TextIndex.dsirResample(docs, docs.limit(2), "doc_id", "text", 1.0)
    assert(all.count() == 4)
  }

  test("dsirResample: a zero-bigram target model fails loudly, not with null scores") {
    // every target doc under 2 tokens → no bigrams → the add-k denominator
    // c1 + k·v would be 0 and non-ANSI division would publish silently
    // null scores (the DuckDB replay errors instead — divergent failure
    // modes); the require names the precondition at the call site
    val emptyModel = Seq((9L, "single"), (10L, "")).toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      TextIndex.dsirResample(docs, emptyModel, "doc_id", "text", 0.5)
    }
    assert(ex.getMessage.contains("no bigrams"))
  }

  test("dsirResample: reserved __dsir_idx input column fails loudly at the call site") {
    val clash = docs.withColumn("__dsir_idx", lit(0L))
    val ex = intercept[IllegalArgumentException] {
      TextIndex.dsirResample(clash, docs, "doc_id", "text", 0.5)
    }
    assert(ex.getMessage.contains("__dsir_idx"))
  }

  test("bm25TopK: hand-computed scores on the micro fixture, zero-score docs excluded") {
    // docs fixture (tokenized): 1=[alpha beta alpha gamma] 2=[beta gamma
    // beta] 3=[alpha beta] 4=[gamma alpha] — query [alpha]: df=3, N=4,
    // avgdl=(4+3+2+2)/4=2.75
    val got = TextIndex.bm25TopK(docs, "doc_id", "text", query = Seq("alpha"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def bm25(tf: Double, dl: Double, dfT: Double, n: Double, avgdl: Double,
             k1: Double = 1.2, b: Double = 0.75): Double = {
      val idf = math.log(1.0 + (n - dfT + 0.5) / (dfT + 0.5))
      idf * tf * (k1 + 1.0) / (tf + k1 * ((1.0 - b) + b * dl / avgdl))
    }
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    assert(got.keySet == Set(1L, 3L, 4L), "doc 2 has no 'alpha' and must be excluded")
    assert(got(1L) == r6(bm25(2, 4, 3, 4, 2.75)))
    assert(got(3L) == r6(bm25(1, 2, 3, 4, 2.75)))
    assert(got(4L) == r6(bm25(1, 2, 3, 4, 2.75)))
    // multi-term: scores add per term; length normalization (b=0.75) puts
    // the SHORT doc 3 [alpha beta] above the long doc 1 [alpha beta alpha
    // gamma] despite doc 1's double alpha — the classic BM25 behavior,
    // pinned against the hand formula (df_beta = 3 too)
    val two = TextIndex.bm25TopK(docs, "doc_id", "text",
        query = Seq("alpha", "beta"), topN = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    val d1 = bm25(2, 4, 3, 4, 2.75) + bm25(1, 4, 3, 4, 2.75)
    val d3 = bm25(1, 2, 3, 4, 2.75) + bm25(1, 2, 3, 4, 2.75)
    assert(d3 > d1)
    assert(two.toSeq == Seq(3L -> r6(d3), 1L -> r6(d1)))
  }

  // independent reference implementation of the entropy formula (same
  // ascending-symbol summation order the expressions promise)
  private def refEntropy(counts: Seq[Long]): Double = {
    val n = counts.sum
    val s = counts.foldLeft(0.0)((acc, c) => acc + c.toDouble * math.log(c.toDouble))
    (math.log(n.toDouble) - s / n) / math.log(2.0)
  }

  test("char_entropy: known values, unicode codepoints, empty and null → null") {
    // é (2-byte) and 😀 (surrogate pair, 1 codepoint) pin the
    // CODEPOINT alphabet: "é😀é😀" = 2 symbols × 2 → exactly 1 bit
    val df = Seq(
      (1L, "aabb"), (2L, "aaaa"), (3L, "abcd"), (4L, ""),
      (5L, "é😀é😀"), (6L, null.asInstanceOf[String])
    ).toDF("id", "t")
    val got = df.select($"id", graft.functions.EntropyExpressions.charEntropy(spark, $"t"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(1L).contains(1.0) && got(2L).contains(0.0) && got(5L).contains(1.0))
    assert(got(3L).contains(refEntropy(Seq(1L, 1L, 1L, 1L))))
    assert(got(4L).isEmpty && got(6L).isEmpty)
    // interpreted path (eval without codegen) agrees with the df/codegen path
    val e = graft.functions.CharEntropy(
      org.apache.spark.sql.catalyst.expressions.Literal("aabb"))
    assert(e.eval(null) == 1.0)
  }

  test("char_entropy ≡ independent recompute on the corpus fixture") {
    val d = core.Tables.documents(spark, sf("sf0.001")).limit(64)
    val got = d.select($"doc_id", $"text",
        graft.functions.EntropyExpressions.charEntropy(spark, $"text"))
      .collect()
    got.foreach { r =>
      val cps = r.getString(1).codePoints().toArray
      val counts = cps.groupBy(identity).toSeq.sortBy(_._1).map(_._2.length.toLong)
      assert(r.getDouble(2) == refEntropy(counts), s"doc ${r.getLong(0)}")
    }
  }

  test("token_entropy: value alphabet, null elements skipped, empty → null") {
    val df = Seq(
      (1L, Seq("a", "b", "a", "b")),
      (2L, Seq("a", null, "a", "b")),       // nulls skipped → [a,a,b]
      (3L, Seq.empty[String]),              // no tokens → null
      (4L, Seq[String](null))               // only nulls → null
    ).toDF("id", "toks")
    val got = df.select($"id", graft.functions.EntropyExpressions.tokenEntropy(spark, $"toks"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(1L).contains(1.0))
    assert(got(2L).contains(refEntropy(Seq(2L, 1L))))
    assert(got(3L).isEmpty && got(4L).isEmpty)
    // distinct VALUES, not distinct chars: "aa aa bb bb" at the token level
    // is 1 bit even though its char entropy is also 1 bit on {a,b, space}…
    val one = Seq((1L, Seq("aa", "aa", "bb"))).toDF("id", "toks")
      .select(graft.functions.EntropyExpressions.tokenEntropy(spark, $"toks"))
      .head().getDouble(0)
    assert(one == refEntropy(Seq(2L, 1L)))
  }

  test("pmiCollocations: glued pair outranks independent pair; minCount prunes") {
    // "x y" always adjacent (perfectly glued); "p"/"q" co-occur adjacently
    // only sometimes; "rare once" appears once (under minCount)
    val docs = (1 to 10).map(_ => "x y p m q").mkString(" rare once ", " ", "") ::
      (1 to 10).map(_ => "p q x y").mkString(" ", " ", "") :: Nil
    val got = ops.TextIndex.pmiCollocations(
        docs.toDF("text"), "text", topK = 10, minCount = 5)
      .as[(String, String, Long, Double)].collect()
    val byPair = got.map(r => (r._1, r._2) -> r._4).toMap
    assert(byPair.contains(("x", "y")), s"got ${got.toSeq}")
    // x→y is deterministic (every x is followed by y); p→q is diluted by
    // the "p m q" form — the glued pair must score strictly higher
    assert(byPair(("x", "y")) > byPair.getOrElse(("p", "q"), 0.0))
    // sub-minCount pairs are absent
    assert(!got.exists(r => r._1 == "rare" || r._2 == "once"))
    // driver-side reference of the ratio for one pair
    val toks = docs.flatMap(_.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty))
    val uni = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bis = docs.flatMap { d =>
      val t = d.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      t.sliding(2).filter(_.length == 2).map(p => (p(0), p(1)))
    }
    val nab = bis.count(_ == ("x", "y")).toLong
    val tt = toks.size.toDouble; val tb = bis.size.toDouble
    val ref = math.floor(nab.toDouble * tt * tt / (tb * uni("x") * uni("y")) * 1e6 + 0.5) / 1e6
    assert(byPair(("x", "y")) == ref)
  }

  test("sparseCosinePairs: identical docs at 1.0, disjoint absent, df cap excludes hot terms") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),   // identical to 1 → cosine 1.0
      (3L, "zeta eta theta iota kappa"),        // disjoint from 1/2
      (4L, "alpha beta gamma something else entirely")) // partial overlap
      .toDF("doc_id", "text")
    // doc 4 shares ONE trigram with doc 1 out of 3x4 — cosine ~0.03, so the
    // inclusive threshold must sit below that
    val got = ops.TextIndex.sparseCosinePairs(docs, "doc_id", "text",
        threshold = 0.02, maxDf = 100, ngram = 3)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got((1L, 2L)) == 1.0, s"identical docs must hit 1.0: $got")
    assert(!got.contains((1L, 3L)) && !got.contains((2L, 3L)))
    assert(got.contains((1L, 4L)) && got((1L, 4L)) < 0.1)
    // df cap: with maxDf = 1 every trigram shared by docs 1/2 (df = 2) is
    // barred from pairing — no candidates at all
    val capped = ops.TextIndex.sparseCosinePairs(docs, "doc_id", "text",
        threshold = 0.02, maxDf = 1, ngram = 3)
    assert(capped.count() == 0)
    // threshold filters: near 1.0 only the identical pair survives (the
    // filter compares the RAW cosine, where sqrt(n)·sqrt(n) can land one
    // ulp either side of n — an exact-1.0 threshold is a float edge by
    // design, so the strict case pins 0.999)
    val strict = ops.TextIndex.sparseCosinePairs(docs, "doc_id", "text",
        threshold = 0.999, maxDf = 100, ngram = 3)
      .as[(Long, Long, Double)].collect().toSeq
    assert(strict.map(r => (r._1, r._2)) == Seq((1L, 2L)))
  }

  test("zipfFit: exact driver replay of the decimal OLS; ≈ −1 on a planted Zipf corpus") {
    // token i appears floor(120/i) times — a near-perfect Zipf curve
    val words = (1 to 12).flatMap(i => Seq.fill(120 / i)(f"w$i%02d"))
    val df = Seq(Tuple1(words.mkString(" "))).toDF("text")
    val got = TextIndex.zipfFit(df, "text", topN = 100).collect().head
    assert(got.getLong(0) == 12L)
    assert(math.abs(got.getDouble(1) + 1.0) < 0.1,
      s"planted Zipf slope ${got.getDouble(1)} not ≈ −1")
    // full driver replay: same ranks, same DECIMAL(27,7) term rounding,
    // same floor-rounded slope/intercept — must match EXACTLY
    import java.math.{BigDecimal => BD, RoundingMode}
    val counts = (1 to 12).map(i => f"w$i%02d" -> (120 / i).toLong)
      .sortBy { case (w, c) => (-c, w) }
    def d7(v: Double) = new BD(v).setScale(7, RoundingMode.HALF_UP)
    var (sx, sy, sxy, sxx) = (BD.ZERO, BD.ZERO, BD.ZERO, BD.ZERO)
    counts.zipWithIndex.foreach { case ((_, c), i) =>
      val x = math.log((i + 1).toDouble); val y = math.log(c.toDouble)
      sx = sx.add(d7(x)); sy = sy.add(d7(y))
      sxy = sxy.add(d7(x * y)); sxx = sxx.add(d7(x * x))
    }
    val n = counts.size.toDouble
    def r6(v: Double) = math.floor(v * 1e6 + 0.5) / 1e6
    val slope = r6((n * sxy.doubleValue - sx.doubleValue * sy.doubleValue) /
      (n * sxx.doubleValue - sx.doubleValue * sx.doubleValue))
    val icept = r6((sy.doubleValue - slope * sx.doubleValue) / n)
    assert(got.getDouble(1) == slope && got.getDouble(2) == icept,
      s"(${got.getDouble(1)}, ${got.getDouble(2)}) != ($slope, $icept)")
    // degenerate corpus rejected loudly
    val e = intercept[IllegalArgumentException](
      TextIndex.zipfFit(Seq(Tuple1("solo solo solo")).toDF("text"), "text"))
    assert(e.getMessage.contains("distinct tokens"))
  }

  test("naiveBayesLabelAudit: recovers a separable labeling, flags the mislabel, prior-only zero-token docs") {
    val labeled = Seq(
      (1L, "alpha alpha beta", "a"),
      (2L, "alpha beta beta alpha", "a"),
      (3L, "alpha alpha", "a"),
      (4L, "gamma delta gamma", "b"),
      (5L, "delta gamma delta", "b"),
      (6L, "gamma delta", "a"), // mislabeled: b-vocabulary text tagged 'a'
      (7L, "???", "a")          // no a-z0-9 tokens at all
    ).toDF("doc_id", "text", "lang")
    val out = TextIndex.naiveBayesLabelAudit(labeled, "doc_id", "text", "lang")
      .collect().sortBy(_.getLong(0))
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2),
        r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out.size == 7, "one verdict row per document")
    // clean docs classify to their own label
    for (id <- Seq(1L, 2L, 3L)) assert(out(id)._2 == "a" && out(id)._4, s"doc $id")
    for (id <- Seq(4L, 5L)) assert(out(id)._2 == "b" && out(id)._4, s"doc $id")
    // the mislabel is the audit's catch: model says 'b', tag says 'a'
    assert(out(6L)._1 == "a" && out(6L)._2 == "b" && !out(6L)._4)
    // zero-token doc falls back to the prior argmax — 'a' holds 5 of 7 docs
    assert(out(7L)._2 == "a" && out(7L)._4)
    // and its score IS the smoothed log prior, through the exact decimal
    // pipeline: ln((5+0.5)/(7+0.5·2)) rounded DECIMAL(27,7), then the
    // portable 6dp floor
    val priorLp = new java.math.BigDecimal(math.log(5.5 / 8.0))
      .setScale(7, java.math.RoundingMode.HALF_UP).doubleValue()
    val expected = math.floor(priorLp * 1e6 + 0.5) / 1e6
    assert(out(7L)._3 == expected, s"prior-only score ${out(7L)._3} != $expected")
  }
}
