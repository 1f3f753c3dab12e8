package graft

import graft.ops.{Dedup, Relational}
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests over operator invariants (SURVEY.md §5: sort-permutation
  * invariants, join containment, NA propagation). Small generated tables,
  * 10 cases per property — fast enough for a Spark-backed check. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic mini property-runner over raw ScalaCheck generators
    * (scalatestplus bridge is not on the offline classpath). */
  private def forAll[A](g: Gen[A], cases: Int = 10)(f: A => Unit): Unit = {
    val params = Gen.Parameters.default.withSize(30)
    (0 until cases).foreach { i =>
      g.apply(params, Seed(42L + i)).foreach(f)
    }
  }

  private def forAll[A, B](g1: Gen[A], g2: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(g1, g2))(t => f(t._1, t._2))

  private def whenever(c: Boolean)(f: => Unit): Unit = if (c) f

  private val rowsGen: Gen[List[(Long, Option[Double])]] =
    Gen.listOf(Gen.zip(Gen.choose(0L, 20L), Gen.option(Gen.choose(-100.0, 100.0))))

  test("sort is a permutation: same multiset, ordered output") {
    forAll(rowsGen) { rows =>
      val df = rows.toDF("k", "v")
      val sorted = Relational.sortStable(df, Seq("v"), Seq("k"))
        .select("v").as[Option[Double]].collect()
      assert(sorted.toSeq.sorted(Ordering.Option[Double]) == sorted.toSeq ||
        sorted.flatten.sameElements(sorted.flatten.sorted))
      assert(sorted.groupBy(identity).view.mapValues(_.length).toMap ==
        rows.map(_._2).groupBy(identity).view.mapValues(_.length).toMap)
    }
  }

  test("filter output ⊆ input; filter ∘ filter = conjunction") {
    forAll(rowsGen) { rows =>
      val df = rows.toDF("k", "v")
      val a = df.filter(col("v") > 0)
      val b = a.filter(col("k") < 10)
      val direct = df.filter(col("v") > 0 && col("k") < 10)
      assert(b.count() == direct.count())
      assert(a.count() <= rows.length)
    }
  }

  test("NULL keys never join (NA propagation)") {
    forAll(rowsGen, rowsGen) { (l, r) =>
      val lf = l.toDF("k", "v").withColumn("jk", when(col("v").isNull, lit(null)).otherwise(col("k")))
      val rf = r.toDF("k", "v").withColumn("jk", when(col("v").isNull, lit(null)).otherwise(col("k")))
      val j = Relational.joinOn(lf, rf, "jk", "jk", "=")
      // inner join row count equals the sum over non-null key matches
      val lc = lf.filter(col("jk").isNotNull).groupBy("jk").count()
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      val rc = rf.filter(col("jk").isNotNull).groupBy("jk").count()
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      val expected = lc.toSeq.map { case (k, n) => n * rc.getOrElse(k, 0L) }.sum
      assert(j.count() == expected)
    }
  }

  test("union row count adds; unique is idempotent") {
    forAll(rowsGen) { rows =>
      val df = rows.toDF("k", "v")
      assert(Relational.union(df, df).count() == 2L * rows.length)
      val u1 = Relational.unique(df, Seq("k"))
      assert(Relational.unique(u1, Seq("k")).count() == u1.count())
    }
  }

  test("melt row count = rows × melted columns; values preserved per metric") {
    forAll(Gen.listOf(Gen.zip(Gen.choose(0L, 50L), Gen.choose(-9.0, 9.0), Gen.choose(-9.0, 9.0)))) { rows =>
      val df = rows.zipWithIndex.map { case ((k, a, b), i) => (i.toLong, a, b) }.toDF("id", "a", "b")
      val long = Relational.melt(df, Seq("id"), Seq("a", "b"), "m", "v")
      assert(long.count() == 2L * rows.length)
      val sumA = long.filter(col("m") === "a").agg(sum("v")).as[Option[Double]].collect().head.getOrElse(0.0)
      val direct = df.agg(sum("a")).as[Option[Double]].collect().head.getOrElse(0.0)
      assert(math.abs(sumA - direct) < 1e-9)
    }
  }

  test("exact dedup: group count sums to row count; canonical ids are minimal") {
    forAll(Gen.listOf(Gen.zip(Gen.choose(0L, 1000L), Gen.oneOf("x", "y", "z")))) { rows =>
      whenever(rows.nonEmpty) {
        val df = rows.zipWithIndex.map { case ((_, t), i) => (i.toLong, t) }.toDF("id", "text")
        val d = Dedup.exact(df, "id", Seq("text")).collect()
        assert(d.map(_.getAs[Long]("n_dups")).sum == rows.length)
        val minByText = rows.zipWithIndex.groupBy(_._1._2).view.mapValues(_.map(_._2.toLong).min)
        d.foreach(r => assert(minByText(r.getAs[String]("text")) == r.getAs[Long]("id")))
      }
    }
  }

  test("scrub is idempotent: placeholders contain nothing left to scrub") {
    val wordGen = Gen.oneOf("plain", "bob@x.io", "https://a.b/c", "123456789012", "t3xt")
    forAll(Gen.nonEmptyListOf(wordGen)) { words =>
      val df = Seq((1L, words.mkString(" "))).toDF("id", "text")
      val once = df.select(graft.functions.TextFunctions.scrub(col("text")).as("s"))
        .head.getString(0)
      val twice = df.select(graft.functions.TextFunctions.scrub(
          graft.functions.TextFunctions.scrub(col("text"))).as("s"))
        .head.getString(0)
      assert(once == twice, s"scrub not idempotent on: ${words.mkString(" ")}")
    }
  }

  test("contamination: eval ⊇ corpus flags every doc with ≥1 shingle; disjoint eval flags none") {
    val textGen = Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" "))
    forAll(Gen.nonEmptyListOf(textGen)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      // self-contamination: every doc with at least one 2-gram must be flagged
      val flagged = Dedup.contamination(df, df, "id", "text", n = 2)
        .collect().map(_.getLong(0)).toSet
      val withShingle = texts.zipWithIndex
        .filter(_._1.split(" ").length >= 2).map(_._2.toLong).toSet
      assert(flagged == withShingle)
      // disjoint vocab eval set → nothing flagged
      val clean = Seq((99L, "x y z x y")).toDF("id", "text")
      assert(Dedup.contamination(df, clean, "id", "text", n = 2).count() == 0)
    }
  }

  private val edgesGen: Gen[List[(Long, Long)]] =
    Gen.listOf(Gen.zip(Gen.choose(0L, 15L), Gen.choose(0L, 15L)))

  /** Reference components: plain union-find over the edge list, each node
    * labeled with its component's min member id. */
  private def unionFindComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // union-find roots are path-dependent; normalize to min member id
    nodes.groupBy(find).values.flatMap(g => g.map(_ -> g.min)).toMap
  }

  test("connectedComponents equals a driver union-find on random graphs") {
    forAll(edgesGen, cases = 8) { edges =>
      whenever(edges.nonEmpty) {
        val got = Dedup.connectedComponents(
            edges.toDF("a", "b"), "a", "b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == unionFindComponents(edges), s"edges=$edges")
      }
    }
  }

  /** Edges of a path over n nodes with non-monotone ids (a sawtooth). */
  private def sawPath(n: Long): Seq[(Long, Long)] = {
    def id(i: Long) = i * 7919L % 1000000L + i * 2L
    (0L until n - 1).map(i => (id(i), id(i + 1)))
  }

  test("connectedComponents: long path graphs (the deep-round regime)") {
    // Regression guard for the r8 stats-compounding planner blowup: a path
    // of n nodes has diameter n-1, the regime where carried join statistics
    // compounded exponentially (random sparse graphs converge in 1-3 rounds
    // and never saw it). The 64- and 300-node paths (non-monotone ids) fit
    // one edge partition, so the partition-local union-find seed solves
    // them and no round runs; the 20,000-node path spans two edge
    // partitions, whose seed fragments take several rounds to merge.
    for (edges <- Seq(sawPath(64L), sawPath(300L), DeadlockSoak.longPath)) {
      val t0 = System.nanoTime()
      val got = Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b").collect()
      val secs = (System.nanoTime() - t0) / 1e9
      assert(got.length == edges.length + 1)
      assert(got.map(r => r.getLong(0) -> r.getLong(1)).toMap == unionFindComponents(edges))
      // pre-fix this exploded past 10 minutes on 300 nodes; post-fix each
      // round is sub-second — generous bound to stay host-noise-proof
      assert(secs < 120.0, f"long-path CC took $secs%.1f s")
    }
  }

  test("connectedComponents on one edge partition: the seed is exact and no round runs") {
    // Every job the builder call starts, measured on the 300-node path
    // (598 edge rows, one edge-cache partition) under local[4]: 4 — the
    // edge checkpoint's job, which also counts the edges, and the seed's
    // plan (two shuffle stages and its checkpointing job), which builds
    // the edge cache. A confirming round would add its own shuffle stages
    // and checkpointing job (5 jobs on d130's graph).
    val edges = sawPath(300L).toDF("a", "b")
    val sc = spark.sparkContext
    ListenerBus.drain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      Dedup.connectedComponents(edges, "a", "b")
      ListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get <= 6, s"connectedComponents ran ${jobs.get} jobs")
  }

  test("funnel ≡ driver brute force on random event sequences") {
    import graft.ops.Events
    val evGen = Gen.listOf(Gen.zip(
      Gen.choose(1L, 8L), Gen.oneOf("A", "B", "C", "X"), Gen.choose(1L, 30L)))
    forAll(evGen, cases = 8) { evs =>
      whenever(evs.exists(_._2 == "A")) {
        val steps = Seq("A", "B", "C")
        // reference: per-user strictly-after chain
        def reach(u: Long): Int = {
          val mine = evs.filter(_._1 == u)
          var last = Long.MinValue
          var k = 0
          var continue = true
          for (s <- steps if continue) {
            val c = mine.filter(e => e._2 == s && (k == 0 || e._3 > last)).map(_._3)
            if (c.nonEmpty) { last = c.min; k += 1 } else continue = false
          }
          k
        }
        val users = evs.map(_._1).distinct
        val expected = steps.indices.map(i => users.count(u => reach(u) >= i + 1).toLong)
        val got = Events.funnel(evs.toDF("u", "t", "ts"), "u", "t", "ts", steps)
          .orderBy("step").select("users").as[Long].collect().toSeq
        assert(got == expected, s"evs=$evs got=$got exp=$expected")
      }
    }
  }

  test("keyProfile ≡ driver counts on random key streams") {
    import graft.ops.Diagnostics
    val keysGen = Gen.nonEmptyListOf(Gen.choose(0L, 12L))
    forAll(keysGen, cases = 8) { keys =>
      val expected = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val topN = 5
      val order = expected.toSeq.sortBy { case (k, c) => (-c, k) }.take(topN)
      val got = Diagnostics.keyProfile(keys.toDF("k"), "k", topN)
        .orderBy("rank").collect()
      assert(got.length == math.min(topN, expected.size))
      got.zip(order).zipWithIndex.foreach { case ((r, (k, c)), i) =>
        assert(r.getLong(0) == i + 1 && r.getString(1) == k.toString &&
          r.getLong(2) == c)
        assert(r.getLong(6) == keys.length.toLong) // total_rows
      }
      // cumulative share of the last returned row = prefix mass
      val prefix = order.map(_._2).sum.toDouble / keys.length
      assert(math.abs(got.last.getDouble(4) - prefix) < 1e-5)
    }
  }

  test("weightedDownsample ≡ driver threshold recomputation") {
    import graft.ops.Sampling
    val wGen = Gen.nonEmptyListOf(Gen.choose(0, 1000))
    forAll(wGen, cases = 6) { ws =>
      val rows = ws.zipWithIndex.map { case (w, i) => (i.toLong, w / 250.0) }
      val target = 3L
      val tw = rows.map(r => BigDecimal(r._2).setScale(7, BigDecimal.RoundingMode.HALF_UP)).sum
      whenever(tw > 0) {
        def md5hex5(id: Long): String = {
          val md = java.security.MessageDigest.getInstance("MD5")
          md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(5)
        }
        val expected = rows.filter { case (id, w) =>
          val q = math.floor(w * (target.toDouble / tw.toDouble) * 1048576.0 + 0.5).toLong
          val thresh = if (q <= 0) "00000" else if (q >= (1L << 20)) "g" else f"$q%05x"
          md5hex5(id) < thresh
        }.map(_._1).toSet
        val got = Sampling.weightedDownsample(rows.toDF("id", "w"), "id", "w", target)
          .select("id").as[Long].collect().toSet
        assert(got == expected, s"ws=$ws")
      }
    }
  }

  test("bigramLogProbScore ≡ driver brute force on random token docs") {
    import graft.ops.TextIndex
    val docGen = Gen.nonEmptyListOf(
      Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" ")))
    forAll(docGen, cases = 6) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val bigrams = docs.map { case (id, t) =>
        id -> t.split(" ").toSeq.sliding(2).filter(_.length == 2)
          .map(p => (p(0), p(1))).toSeq
      }.filter(_._2.nonEmpty)
      whenever(bigrams.nonEmpty) {
        val all = bigrams.flatMap(_._2)
        val c12 = all.groupBy(identity).view.mapValues(_.size).toMap
        val c1 = all.groupBy(_._1).view.mapValues(_.size).toMap
        val v = all.map(_._2).distinct.size
        val expected = bigrams.map { case (id, bs) =>
          val terms = bs.map { bg =>
            val p = (c12(bg) + 0.5) / (c1(bg._1) + 0.5 * v)
            BigDecimal(math.log(p)).setScale(7, BigDecimal.RoundingMode.HALF_UP)
          }
          id -> (bs.length.toLong,
            math.floor(terms.sum.toDouble / bs.length * 1e6 + 0.5) / 1e6)
        }.toMap
        val got = TextIndex.bigramLogProbScore(docs.toDF("doc_id", "text"),
            "doc_id", "text")
          .as[(Long, Long, Double)].collect()
          .map(r => r._1 -> (r._2, r._3)).toMap
        assert(got == expected, s"texts=$texts")
      }
    }
  }

  test("connectedComponents/dedupByClusters: empty and self-loop edge cases") {
    val docs = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(noPairs, "id_a", "id_b").count() == 0)
    // no pairs → every doc passes through
    assert(Dedup.dedupByClusters(docs, noPairs, "doc_id").count() == 2)
    // a self-loop neither crashes nor merges anything
    val selfLoop = Seq((1L, 1L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(selfLoop, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(cc == Seq(1L -> 1L))
    assert(Dedup.dedupByClusters(docs, selfLoop, "doc_id").count() == 2)
  }

  test("packSequences: token mass conserved, offsets in budget, bins contiguous") {
    val docsGen = Gen.listOf(Gen.zip(Gen.choose(1L, 50L), Gen.choose(1, 12)))
      .map(_.distinctBy(_._1))
    forAll(docsGen, cases = 5) { docs =>
      whenever(docs.nonEmpty) {
        val df = docs.map { case (id, n) => (id, Seq.fill(n)("w").mkString(" ")) }
          .toDF("doc_id", "text")
        val out = graft.ops.Chunking.packSequences(df, "doc_id", "text", budget = 8)
          .select("doc_id", "n_tokens", "bin", "bin_offset")
          .as[(Long, Long, Long, Long)].collect().toSet
        // independent concat-and-cut walk in (md5, id) order — a doc longer
        // than the budget legitimately leaves bins no doc STARTS in, so the
        // full assignment is the property, not bin contiguity
        def m(s: String) = java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
        var off = 0L
        val want = docs.sortBy { case (id, _) => (m(id.toString), id) }
          .map { case (id, n) =>
            val s = off; off += n; (id, n.toLong, s / 8, s % 8)
          }.toSet
        assert(out == want)
      }
    }
  }

  test("temperatureBalance: output ⊆ input rows, min strata intact") {
    val rowsGen2 = Gen.listOf(Gen.zip(Gen.choose(1L, 400L), Gen.oneOf("a", "b", "c")))
      .map(_.distinctBy(_._1))
    forAll(rowsGen2, cases = 5) { rows =>
      whenever(rows.nonEmpty) {
        val df = rows.toDF("id", "g")
        val out = graft.ops.Sampling.temperatureBalance(df, "g", "id")
          .select("id", "g").as[(Long, String)].collect().toSeq
        assert(out.toSet.subsetOf(rows.toSet), "sample must be a subset")
        val before = rows.groupBy(_._2).view.mapValues(_.size).toMap
        val after = out.groupBy(_._2).view.mapValues(_.size).toMap
        val minN = before.values.min
        before.filter(_._2 == minN).keys.foreach { g =>
          assert(after.getOrElse(g, 0) == minN, s"min stratum $g must keep all")
        }
      }
    }
  }

  test("simHashPairs ≡ brute-force Hamming pairs for random 60-bit fingerprints") {
    // pins the banded bucket join AND the first-collision-band uniqueness
    // rule: every distance ≤ 3 pair found exactly once (pigeonhole over the
    // 4 bands), nothing above 3, no duplicates from multi-band collisions.
    // Fingerprints are biased toward shared prefixes so bands DO collide.
    val fpGen = Gen.listOfN(60,
      Gen.zip(Gen.choose(0L, (1L << 60) - 1), Gen.choose(0, 63)).map {
        case (base, flips) => base & ~((1L << (flips % 8)) - 1)
      }).map(_.distinct)
    forAll(fpGen, cases = 5) { fps =>
      whenever(fps.size > 1) {
        val ids = fps.zipWithIndex.map { case (fp, i) => (i.toLong, fp) }
        val got = Dedup.simHashPairs(ids.toDF("id", "simhash"), maxDist = 3)
          .as[(Long, Long, Long)].collect().toSeq.sorted
        val want = (for {
          (a, ia) <- ids; (b, ib) <- ids if a < b
          d = java.lang.Long.bitCount(ia ^ ib) if d <= 3
        } yield (a, b, d.toLong)).sorted
        assert(got == want, s"got=${got.take(5)}… want=${want.take(5)}…")
      }
    }
  }

  test("repeatedSpans ≡ driver brute force on random multibyte docs") {
    // small alphabet with a multibyte char → frequent cross-doc repeats AND
    // a char-vs-byte indexing trap: substr must count CHARACTERS
    val docGen = Gen.listOfN(12,
      Gen.listOfN(14, Gen.oneOf("a", "b", "é", " ")).map(_.mkString)).map(_.distinct)
    val (span, stride) = (4, 3)
    forAll(docGen, cases = 5) { texts =>
      whenever(texts.nonEmpty) {
        val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        def spansOf(t: String): Seq[String] =
          if (t.length < span) Nil
          else (0 to (t.length - span) by stride).map(o => t.substring(o, o + span))
        // distinct-doc frequency per span; repeated = seen in >1 doc
        val dfOf = docs.flatMap { case (id, t) => spansOf(t).distinct.map(_ -> id) }
          .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).distinct.size }
        // cap = 0 is the exact statistic; cap = 2 exercises the maxSpanDf
        // exclusion (spans in >2 docs leave both counts, empty docs drop out)
        for (cap <- Seq(0, 2)) {
          val want = docs.flatMap { case (id, t) =>
            val sp =
              if (cap == 0) spansOf(t) else spansOf(t).filter(s => dfOf(s) <= cap)
            if (sp.isEmpty) None
            else {
              val nRep = sp.count(s => dfOf(s) > 1)
              Some((id, sp.size.toLong, nRep.toLong,
                BigDecimal(nRep.toDouble / sp.size).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
            }
          }.sortBy(_._1)
          val got = Dedup.repeatedSpans(docs.toDF("doc_id", "text"), "doc_id", "text",
              spanChars = span, stride = stride, maxSpanDf = cap.toLong)
            .orderBy("id").as[(Long, Long, Long, Double)].collect().toSeq
          assert(got == want, s"cap=$cap texts=$texts\ngot=$got\nwant=$want")
        }
      }
    }
  }

  test("bloom incremental dedup ≡ exact anti-join for arbitrary key sets") {
    val keysGen = Gen.listOf(Gen.alphaNumStr.map(_.take(12))).map(_.distinct)
    forAll(Gen.zip(keysGen, keysGen), cases = 5) { case (hist, batch) =>
      whenever(hist.nonEmpty && batch.nonEmpty) {
        val h = hist.toDF("fp")
        val b = batch.toDF("fp")
        val got = Dedup.incrementalDedup(b, h, "fp", numBits = 1 << 10, numHashes = 3)
          .as[String].collect().toSeq.sorted
        val want = batch.filterNot(hist.toSet).sorted
        assert(got == want, s"hist=$hist batch=$batch")
      }
    }
  }

  test("pruneBoilerplateSegments ≡ driver brute force on random docs") {
    // small word alphabet → frequent cross-doc segments; "x" is under the
    // minSegmentChars exemption, "" appears via consecutive separators
    val docGen = Gen.listOfN(8,
      Gen.listOfN(6, Gen.oneOf("aa", "bb", "cc", "x", "")).map(_.mkString(" ")))
    val (minChars, sep) = (2, " ")
    forAll(docGen, cases = 5) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      def segsOf(t: String): Seq[String] =
        t.split(java.util.regex.Pattern.quote(sep), -1).toSeq
      val dfOf = docs
        .flatMap { case (id, t) => segsOf(t).filter(_.length >= minChars).distinct.map(_ -> id) }
        .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).distinct.size }
      for (cap <- Seq(1L, 3L)) {
        val want = docs.map { case (id, t) =>
          val ss = segsOf(t)
          val kept = ss.filter(s => s.length < minChars || dfOf(s) <= cap)
          (id, kept.mkString(sep), kept.size.toLong, (ss.size - kept.size).toLong)
        }.sortBy(_._1)
        val got = Dedup.pruneBoilerplateSegments(docs.toDF("doc_id", "text"),
            "doc_id", "text", sep = sep, maxSegmentDf = cap,
            minSegmentChars = minChars)
          .orderBy("id").as[(Long, String, Long, Long)].collect().toSeq
        assert(got == want, s"cap=$cap texts=$texts\ngot=$got\nwant=$want")
      }
    }
  }

  test("composed corpus pass: stage-boundary invariants on adversarial corpora") {
    // p90/p91's single recursive-CTE oracle proves the happy path at sf0.01;
    // these generators stress the corpus shapes the driver data can't reach
    // (all-duplicate, all-boilerplate, single-language, empty/singleton) and
    // assert the set-algebra each stage boundary must preserve regardless of
    // data: every stage's survivors ⊆ its input, near-dup pairs never both
    // survive cluster resolution, and the temperature mix keeps the minimum
    // stratum whole.
    import graft.functions.TextFunctions
    import graft.ops.{Chunking, Sampling}
    val langs = Seq("en", "de", "fr")
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val sentence = for {
      n <- Gen.choose(3, 25); ws <- Gen.listOfN(n, word)
    } yield ws.mkString(" ")
    // ≥ 75 chars shared prefix → span offsets 0 and 25 collide across docs
    // while the unique suffix keeps exact dedup from collapsing them first
    val boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor"
    val mixed = for {
      n <- Gen.choose(2, 40)
      rows <- Gen.listOfN(n, Gen.zip(Gen.oneOf(langs), sentence))
    } yield rows.zipWithIndex.map { case ((l, t), i) => (i.toLong + 1, l, t) }
    val allDup = for {
      n <- Gen.choose(2, 30); l <- Gen.oneOf(langs); t <- sentence
    } yield (1 to n).map(i => (i.toLong, l, t)).toList
    val allBoiler = for { n <- Gen.choose(2, 20) } yield
      (1 to n).map(i => (i.toLong, langs(i % langs.size), s"$boiler unique$i")).toList
    val singleLang = for {
      n <- Gen.choose(2, 25); rows <- Gen.listOfN(n, sentence)
    } yield rows.zipWithIndex.map { case (t, i) => (i.toLong + 1, "en", t) }
    val corpus = Gen.oneOf(mixed, allDup, allBoiler, singleLang)
    def check(rows: List[(Long, String, String)]): Unit = {
      val d = rows.toDF("doc_id", "lang", "text")
      val ids = rows.map(_._1).toSet

      val keep = Dedup.exact(d, "doc_id", Seq("text")).select(col("doc_id"))
      val keepIds = keep.as[Long].collect().toSet
      assert(keepIds.subsetOf(ids), "dedup emitted an unknown id")
      assert(keepIds.size == rows.map(_._3).distinct.size, "dedup ≠ distinct texts")
      // canonical member = min id per text group
      val wantReps = rows.groupBy(_._3).values.map(_.map(_._1).min).toSet
      assert(keepIds == wantReps, s"dedup reps $keepIds ≠ min-id reps $wantReps")

      val clean = d.join(keep, Seq("doc_id"), "left_semi")
        .withColumn("quality", TextFunctions.qualityScore(col("text"), Seq("the", "a")))
        .filter(col("quality") >= 0.3)
      val cleanIds = clean.select(col("doc_id")).as[Long].collect().toSet
      assert(cleanIds.subsetOf(keepIds), "quality floor grew the set")

      val boilerDrop = Dedup.repeatedSpans(clean, "doc_id", "text",
          spanChars = 50, stride = 25, maxSpanDf = 10000)
        .filter(col("repeat_frac") >= 0.5)
        .select(col("id").as("doc_id"))
      val pruned = clean.join(boilerDrop, Seq("doc_id"), "left_anti")
      val prunedIds = pruned.select(col("doc_id")).as[Long].collect().toSet
      assert(prunedIds.subsetOf(cleanIds), "span prune grew the set")

      val pairs = Dedup.minHashLsh(pruned, "doc_id", "text",
          n = 3, numHashes = 16, bands = 4, verifyThreshold = 0.8)
        .select(col("id_a"), col("id_b"))
      val pairRows = pairs.as[(Long, Long)].collect().toSeq
      val deduped = Dedup.dedupByClusters(pruned, pairs, "doc_id")
      val dedupedIds = deduped.select(col("doc_id")).as[Long].collect().toSet
      assert(dedupedIds.subsetOf(prunedIds), "cluster resolution grew the set")
      pairRows.foreach { case (a, b) =>
        assert(!(dedupedIds(a) && dedupedIds(b)),
          s"near-dup pair ($a,$b) both survived cluster resolution")
      }

      val balanced = Sampling.temperatureBalance(deduped, "lang", "doc_id")
      val balIds = balanced.select(col("doc_id")).as[Long].collect().toSet
      assert(balIds.subsetOf(dedupedIds), "mix grew the set")
      val strata = deduped.groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .as[(String, Long)].collect().toMap
      if (strata.nonEmpty) {
        val minN = strata.values.min
        strata.filter(_._2 == minN).keys.foreach { l =>
          val before = deduped.filter(col("lang") === l)
            .select(col("doc_id")).as[Long].collect().toSet
          assert(before.subsetOf(balIds), s"min stratum '$l' not kept whole")
        }
      }

      // prep tail (p91): chunks only from surviving docs; packing assigns
      // every chunk exactly one bin and loses/invents nothing
      val chunks = Chunking.tokenWindows(balanced, "doc_id", "text",
          window = 8, stride = 4)
      val chunkDocIds = chunks.select(col("doc_id")).as[Long].collect()
      assert(chunkDocIds.toSet.subsetOf(balIds), "chunk from a dropped doc")
      assert(balIds.forall(chunkDocIds.toSet), "surviving doc with no chunks")
      val withLang = chunks
        .join(balanced.select(col("doc_id"), col("lang")), "doc_id")
        .withColumn("chunk_uid", col("doc_id") * 10000 + col("chunk_id"))
      val packed = Chunking.packSequences(withLang, "chunk_uid", "chunk",
          budget = 32, shardCols = Seq("lang"))
      assert(packed.count() == withLang.count(), "packing lost or invented rows")
      assert(packed.filter(col("bin") < 0 || col("bin_offset") < 0 ||
        col("bin_offset") >= 32).count() == 0, "bin assignment out of range")
    }
    // the degenerate corpora ALWAYS run (Gen.oneOf might skip them):
    // empty corpus, a single doc, two exact duplicates, and a pure
    // shared-boilerplate pair that the span prune must empty out
    check(List.empty)
    check(List((7L, "en", "solo doc text here")))
    check(List((1L, "en", "same text twice over"), (2L, "en", "same text twice over")))
    check(List((1L, "en", s"$boiler tail1"), (2L, "de", s"$boiler tail2")))
    forAll(corpus, cases = 8)(check)
  }

  test("segmentDedup ≡ driver brute force; every distinct segment survives exactly once") {
    val word = Gen.oneOf("aa", "bb", "cc", "dd")
    val doc = Gen.choose(1, 9).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val corpus = Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, doc))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    def segsOf(text: String, bw: Int): Seq[String] =
      text.split(" ", -1).grouped(bw).map(_.mkString(" ")).toSeq
    forAll(corpus, cases = 10) { rows =>
      val bw = 2
      val got = ops.Dedup.segmentDedup(rows.toDF("doc_id", "text"), "doc_id", "text", bw)
        .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
      // driver brute force: first (doc, pos) occurrence of each segment
      val seen = scala.collection.mutable.Set[String]()
      val expect = rows.sortBy(_._1).map { case (id, text) =>
        val segs = segsOf(text, bw)
        val kept = segs.filter(s => seen.add(s))
        (id, segs.length.toLong, kept.length.toLong, kept.mkString(" "))
      }
      assert(got == expect)
      // global invariant: the kept segments across the corpus are exactly
      // the distinct segments of the corpus, each once
      val allKept = got.flatMap(r => if (r._4.isEmpty) Nil else segsOf(r._4, bw))
      assert(allKept.sorted == rows.flatMap(r => segsOf(r._2, bw)).distinct.sorted)
    }
  }

  test("tokenBudgetPrefix: kept mass within budget, monotone in budget, prefix-closed") {
    val rows = Gen.choose(1, 12).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.choose(0.0, 1.0), Gen.choose(1L, 30L))))
      .map(_.zipWithIndex.map { case ((s, t), i) => (i.toLong, s, t) })
    forAll(rows, cases = 10) { rs =>
      val df = rs.toDF("doc_id", "score", "n_tokens")
      def kept(b: Long): Seq[Long] =
        ops.Sampling.tokenBudgetPrefix(df, "doc_id", "score", "n_tokens", b)
          .select("doc_id").as[Long].collect().toSeq.sorted
      val k1 = kept(40L); val k2 = kept(80L)
      // budget respected exactly
      val byId = rs.map(r => r._1 -> r._3).toMap
      assert(k1.map(byId).sum <= 40L && k2.map(byId).sum <= 80L)
      // monotone: a bigger budget keeps a superset
      assert(k1.toSet.subsetOf(k2.toSet))
      // prefix-closed under the (score desc, id) order
      val order = rs.sortBy(r => (-r._2, r._1)).map(_._1)
      assert(order.take(k2.length).toSet == k2.toSet)
    }
  }

  test("snapshot diff: swap symmetry, fingerprint sensitivity, partition of ids") {
    val rowsGen = Gen.choose(0, 10).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.choose(0L, 12L), Gen.oneOf("x", "y", "z"))))
      .map(_.distinctBy(_._1))
    forAll(Gen.zip(rowsGen, rowsGen), cases = 10) { case (ra, rb) =>
      val a = ra.toDF("doc_id", "text"); val b = rb.toDF("doc_id", "text")
      val d = ops.Snapshot.diff(a, b, "doc_id", md5(col("text")))
        .as[(Long, String)].collect().toMap
      val dRev = ops.Snapshot.diff(b, a, "doc_id", md5(col("text")))
        .as[(Long, String)].collect().toMap
      // swapping snapshots swaps added/removed and keeps changed
      assert(d.keySet == dRev.keySet)
      d.foreach { case (id, st) =>
        val exp = st match {
          case "added" => "removed"; case "removed" => "added"; case s => s }
        assert(dRev(id) == exp) }
      // the diff ids are exactly those where the maps disagree
      val ma = ra.toMap; val mb = rb.toMap
      val expectIds = (ma.keySet ++ mb.keySet).filter(id => ma.get(id) != mb.get(id))
      assert(d.keySet == expectIds)
    }
  }

  test("clusterSplit: cluster-atomic on random edge sets; partitions the id space") {
    val idsGen = Gen.choose(5, 25).flatMap(n => Gen.listOfN(n, Gen.choose(0L, 40L))).map(_.distinct)
    val edgeGen = (ids: List[Long]) => Gen.listOf(
      Gen.zip(Gen.oneOf(ids), Gen.oneOf(ids))).map(_.filter(p => p._1 != p._2))
    forAll(idsGen.flatMap(ids => Gen.zip(Gen.const(ids), edgeGen(ids))), cases = 8) {
      case (ids, edges) => whenever(edges.nonEmpty) {
        val df = ids.toDF("id")
        val cc = ops.Dedup.connectedComponents(
          edges.toDF("a", "b"), "a", "b")
        val split = ops.Sampling.clusterSplit(df, "id", cc, "node", "component",
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .select("id", "split").as[(Long, String)].collect().toMap
        // a labeling of every id
        assert(split.keySet == ids.toSet)
        // cluster-atomic: both endpoints of EVERY edge share a split
        edges.foreach { case (a, b) =>
          assert(split(a) == split(b), s"edge ($a,$b) straddles ${split(a)}/${split(b)}")
        }
      }
    }
  }

  test("targetMix: targets proportional to counts keep every row") {
    val rowsGen = Gen.choose(5, 40).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.choose(0L, 200L), Gen.oneOf("a", "b", "c")))).map(_.distinctBy(_._1))
    forAll(rowsGen, cases = 8) { rows =>
      val present = rows.map(_._2).distinct
      whenever(present.size == 3) {
        val df = rows.toDF("id", "g")
        val n = rows.size.toDouble
        val counts = rows.groupBy(_._2).view.mapValues(_.size).toMap
        // proportions equal to the empirical mix → T = total, f_s = 1.0 for
        // every stratum → water-filling must keep the corpus whole
        val targets = counts.map { case (g, c) => g -> c / n }
        val kept = ops.Sampling.targetMix(df, "g", "id", targets).count()
        assert(kept == rows.size.toLong, s"kept $kept of ${rows.size}")
      }
    }
  }

  test("phrase hits imply shingle-overlap hits (d135 ⊆ d61 at n ≤ phraseLen)") {
    // a verbatim token-aligned 6-token window shared with an eval doc
    // forces shared 5-gram shingles, so every phraseContamination doc must
    // also be flagged by the (strictly looser) shingle-overlap contamination
    val d = core.Tables.documents(spark, sf("sf0.001"))
    val corpus = d.filter(col("doc_id") % 25 =!= 0)
    val evalSet = d.filter(col("doc_id") % 25 === 0)
    val sub = ops.Dedup.phraseContamination(corpus, evalSet, "doc_id", "text",
      phraseLen = 6).select("id").as[Long].collect().toSet
    val sh = ops.Dedup.contamination(corpus, evalSet, "doc_id", "text", n = 5)
      .select("id").as[Long].collect().toSet
    assert(sub.subsetOf(sh), s"phrase hits ${sub -- sh} missing from shingle overlap")
  }

  test("applyChangelog ≡ driver replay for arbitrary I/U/D logs") {
    val baseGen = Gen.choose(0, 8).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.choose(0L, 9L), Gen.choose(0, 99)))).map(_.distinctBy(_._1))
    val chgGen = Gen.choose(0, 8).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.choose(0L, 12L), Gen.choose(0, 99), Gen.oneOf("I", "U", "D"))))
      .map(_.zipWithIndex.map { case ((k, v, op), i) => (k, v, op, i.toLong) })
      // one change per (key, ord) by construction (ord = log position)
    forAll(Gen.zip(baseGen, chgGen), cases = 10) { case (bs, cs) =>
      val base = bs.toDF("k", "v")
      val changes = cs.toDF("k", "v", "op", "ord")
      val got = ops.Relational.applyChangelog(base, changes, Seq("k"))
        .as[(Long, Int)].collect().toSeq.sorted
      // driver replay: fold the log in ord order over the base map
      val end = cs.sortBy(_._4).foldLeft(bs.toMap) { case (m, (k, v, op, _)) =>
        if (op == "D") m - k else m + (k -> v)
      }
      assert(got == end.toSeq.sorted)
    }
  }

  test("globalNtile matches SQL NTILE's definition for random (total, k)") {
    // driver-side reference: NTILE's definitional bucket layout — with
    // total = q·k + r, the first r tiles have q+1 rows, the rest q; tile
    // of 0-based sorted index i follows directly. Stronger than the
    // fixed-case table in RelationalSpec: 15 random shapes including
    // total < k, total % k ∈ {0, …}, and k = 1.
    def refTile(total: Long, k: Int, i: Long): Long = {
      val q = total / k; val r = total % k
      if (q == 0) i + 1
      else if (i < r * (q + 1)) i / (q + 1) + 1
      else r + (i - r * (q + 1)) / q + 1
    }
    forAll(Gen.zip(Gen.choose(0L, 200L), Gen.choose(1, 20)), cases = 15) {
      case (total, k) =>
        val df = spark.range(total).toDF("id").repartition(4)
        val got = Relational.globalNtile(df, k, Seq(col("id")), "tile")
          .select("id", "tile").as[(Long, Long)].collect().toMap
        val want = (0L until total).map(i => i -> refTile(total, k, i)).toMap
        assert(got == want, s"total=$total k=$k")
    }
  }

  test("Proto codec: decode∘encode = identity on random rows (nulls, unicode, binary, extremes)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("l", LongType), StructField("i", IntegerType),
      StructField("b", BooleanType), StructField("d", DoubleType),
      StructField("f", FloatType), StructField("s", StringType),
      StructField("y", BinaryType)))
    def opt[A](g: Gen[A]): Gen[Any] =
      Gen.frequency(3 -> g.map(_.asInstanceOf[Any]), 1 -> Gen.const(null))
    val rowGen: Gen[Row] = for {
      l <- opt(Gen.oneOf(Gen.choose(Long.MinValue, Long.MaxValue), Gen.const(0L), Gen.const(-1L)))
      i <- opt(Gen.choose(Int.MinValue, Int.MaxValue))
      b <- opt(Gen.oneOf(true, false))
      d <- opt(Gen.oneOf(Gen.choose(-1e18, 1e18), Gen.const(0.0), Gen.const(-0.0),
        Gen.const(Double.MaxValue), Gen.const(Double.MinPositiveValue)))
      f <- opt(Gen.choose(-1e9f, 1e9f))
      s <- opt(Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.const('é'), Gen.const('中'),
        Gen.const('\n'), Gen.const(' '),
        Gen.const(Character.toChars(0x1D11E)(0)))).map { cs =>
        // a lone high surrogate is not valid UTF-8-encodable text; pair it
        val str = cs.mkString
        str.replace(new String(Array(Character.toChars(0x1D11E)(0))),
          new String(Character.toChars(0x1D11E)))
      })
      y <- opt(Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray))
    } yield Row(l, i, b, d, f, s, y)
    forAll(Gen.listOfN(8, rowGen), cases = 12) { rows =>
      rows.foreach { r =>
        val back = graft.io.Proto.decodeRecord(graft.io.Proto.encodeRow(r, schema), schema)
        (0 until schema.length).foreach { k =>
          (r.get(k), back.get(k)) match {
            case (a: Array[Byte], b: Array[Byte]) => assert(a.sameElements(b))
            case (a, b) => assert(a == b, s"col $k: $a != $b")
          }
        }
      }
      // and through the framing layer: payloads byte-equal, not just counted
      val recs = rows.map(graft.io.Proto.encodeRow(_, schema))
      val back = graft.io.Proto.unframe(graft.io.Proto.frame(recs.iterator)).toList
      assert(back.size == recs.size &&
        back.zip(recs).forall { case (a, b) => a.sameElements(b) })
    }
  }

  test("winsorize: clamped == driver reference clamp on random score sets") {
    import graft.ops.Quality
    val g = Gen.listOf(Gen.zip(Gen.choose(0L, 1000L), Gen.choose(-50.0, 50.0)))
      .map(_.distinctBy(_._1))
    forAll(g, cases = 8) { xs =>
      whenever(xs.nonEmpty) {
        val df = xs.toDF("id", "s")
        val got = Quality.winsorize(df, "id", "s", 0.1, 0.9)
          .as[(Long, Double, Double)].collect().map(r => r._1 -> r._3).toMap
        val sorted = xs.map(_._2).sorted
        val n = sorted.length
        def th(p: Double) = sorted(math.max(math.ceil(p * n).toInt - 1, 0))
        val (lo, hi) = (th(0.1), th(0.9))
        xs.foreach { case (id, s) =>
          assert(got(id) == math.min(math.max(s, lo), hi), s"id=$id s=$s")
        }
      }
    }
  }
}
