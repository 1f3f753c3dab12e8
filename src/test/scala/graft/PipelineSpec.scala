package graft

import graft.functions.TextFunctions
import graft.multimodal.Multimodal
import graft.ops.{Chunking, Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Corpus-pipeline operators: dedup, similarity, text analysis, multimodal
  * plumbing — semantics tests on hand-checkable micro-data plus a recall
  * check of LSH against exact Jaccard on the sf0.001 corpus. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different content here entirely now"),
    (4L, "the quick brown fox jumps over the lazy dog")  // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup keeps canonical min-id and counts dups") {
    val d = Dedup.exact(docs, "doc_id", Seq("text")).orderBy("doc_id")
      .select("doc_id", "n_dups").as[(Long, Long)].collect().toSeq
    assert(d == Seq((1L, 2L), (2L, 1L), (3L, 1L)))
  }

  test("jaccard pairs: exact n-gram similarity") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .orderBy("id_a", "id_b").collect()
    // docs 1/2 share 6 of 8 distinct trigrams (J=0.75); 1/4 identical (J=1.0)
    val m = pairs.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(m((1L, 4L)) == 1.0)
    assert(m((1L, 2L)) == 0.75 && m((2L, 4L)) == 0.75)
    assert(!m.contains((1L, 3L)))
  }

  test("containmentPairs: sub-document inclusion that Jaccard misses") {
    val d = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d") // both its trigrams inside doc 1
    ).toDF("doc_id", "text")
    val c = Dedup.containmentPairs(d, "doc_id", "text", n = 3, threshold = 0.9)
      .collect()
    assert(c.length == 1 &&
      (c.head.getLong(0), c.head.getLong(1), c.head.getDouble(2)) == ((1L, 2L, 1.0)))
    // the symmetric metric on the same pair: 2 shared of 8 distinct = 0.25
    assert(Dedup.jaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.5).count() == 0)
    // both directions reduce to min-size denominator: swapping roles is identical
    val sw = Dedup.containmentPairs(
      d.withColumn("doc_id", lit(3L) - col("doc_id")), "doc_id", "text", 3, 0.9)
      .collect()
    assert(sw.length == 1 && sw.head.getDouble(2) == 1.0)
  }

  test("jaccardPairs ≡ exact Jaccard over plain Scala shingle sets (sf0.001, with and without df cap)") {
    val d = core.Tables.documents(spark, sf("sf0.001"))
    def pairs(cap: Long) =
      Dedup.jaccardPairs(d, "doc_id", "text", 3, 0.5, maxShingleDf = cap)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    // the reference: each doc's distinct trigram set, collected once; pairs
    // and intersections are counted in plain Scala
    val sets = d.select(col("doc_id"),
        array_distinct(TextFunctions.shingles(col("text"), 3)))
      .as[(Long, Seq[String])].collect()
      .map { case (id, sh) => id -> sh.toSet }.filter(_._2.nonEmpty).sortBy(_._1)
    val df = sets.toSeq.flatMap(_._2).groupBy(identity).map { case (k, v) => k -> v.size }
    def reference(cap: Long) = (for {
      i <- sets.indices; j <- (i + 1) until sets.length
      (a, sa) = sets(i); (b, sb) = sets(j)
      // a df cap drops hot shingles from the numerator only; the
      // denominator keeps the exact set sizes
      inter = sa.intersect(sb).count(s => cap <= 0 || df(s) <= cap)
      jac = inter.toDouble / (sa.size + sb.size - inter)
      if inter > 0 && jac >= 0.5
    } yield (a, b, BigDecimal(jac).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    val uncapped = reference(0)
    assert(uncapped.nonEmpty)
    assert(pairs(0) == uncapped)
    val capped = reference(5)
    assert(capped != uncapped, "df cap 5 must drop some hot shingle at sf0.001")
    assert(pairs(5) == capped)
  }

  test("jaccardPairs: degenerate boilerplate shingle — bounded join shape, no collected lists") {
    // the k² hazard: every doc shares one boilerplate trigram. The streamed
    // default must hold no collect_list anywhere in the plan and still count
    // intersections exactly
    val n = 60
    val boiler = (1L to n).map(i => (i, s"shared boiler plate unique$i tail$i end$i"))
      .toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(boiler, "doc_id", "text", 3, 0.0)
    val fmt = pairs.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!fmt.contains("collect_list"), s"per-shingle list in plan:\n$fmt")
    // each doc has 4 trigrams; every pair shares exactly the one boilerplate
    // trigram → J = 1/(4+4-1) = 1/7
    assert(pairs.count() == n.toLong * (n - 1) / 2)
    val one = pairs.filter(col("id_a") === 1 && col("id_b") === 2).head()
    assert(one.getDouble(2) == math.rint(1.0 / 7.0 * 10000) / 10000)
  }

  test("minhash-LSH finds the same high-threshold pairs as exact jaccard (sf0.001)") {
    val d = core.Tables.documents(spark, sf("sf0.001"))
    val exact = Dedup.jaccardPairs(d, "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minHashLsh(d, "doc_id", "text", 3, 64, 16, verifyThreshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh == exact)
    assert(exact.nonEmpty) // the corpus has planted near-dups
  }

  test("minHashLsh: degenerate all-duplicates bucket — every pair once, no collected lists") {
    // the skew case LSH invites: EVERY doc identical, so all 120 land in
    // the same (band, bsig) bucket in every band. The join shape must emit
    // each pair exactly once (first-collision-band rule — no distinct pass)
    // and the plan must hold no per-bucket collect_list anywhere: one
    // k-element aggregate row cannot be split by AQE, a streamed join can
    val n = 120
    val dup = (1L to n).map(i => (i, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minHashLsh(dup, "doc_id", "text", 3, 64, 16)
    val fmt = pairs.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!fmt.contains("collect_list"), s"per-bucket list in plan:\n$fmt")
    val expected = n.toLong * (n - 1) / 2
    assert(pairs.count() == expected)
    assert(pairs.distinct().count() == expected, "pairs must be unique without a distinct")
  }

  test("minHashLsh: AQE reuses the (band, bsig) exchange — signatures computed once") {
    // the codegen'd min_hash64 banded projection is referenced by BOTH
    // sides of the candidate self equi-join; the explicit (band, bsig)
    // repartition below the per-side renames is the very distribution the
    // join requires, and AQE's stage cache must materialize it once —
    // otherwise the signature projection (the dominant per-row cost) runs
    // twice over the corpus
    val d = core.Tables.documents(spark, sf("sf0.001"))
    val pairs = Dedup.minHashLsh(d, "doc_id", "text", 3, 64, 16)
    pairs.collect() // drive to the final adaptive plan
    val fin = pairs.queryExecution.executedPlan.toString
    assert(fin.contains("isFinalPlan=true"), fin)
    assert(fin.contains("ReusedExchange") || fin.contains("ReusedQueryStage"),
      s"the (band, bsig) signature exchange was not reused:\n$fin")
  }

  test("incrementalMinHashLsh ≡ full minHashLsh restricted to batch-touching pairs (sf0.001)") {
    val d = core.Tables.documents(spark, sf("sf0.001"))
    val batch = d.filter(col("doc_id") % 4 === 0)
    val history = d.filter(col("doc_id") % 4 =!= 0)
    val inc = Dedup.incrementalMinHashLsh(batch, history, "doc_id", "text",
        verifyThreshold = 0.8)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    val incSet = inc.toSet
    assert(inc.length == incSet.size, "pairs must be unique without a distinct")
    val full = Dedup.minHashLsh(d, "doc_id", "text", 3, 64, 16, verifyThreshold = 0.8)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
      .filter(p => p._1 % 4 == 0 || p._2 % 4 == 0)
    assert(incSet.nonEmpty && incSet == full)
  }

  test("incrementalMinHashLsh: stored signatures ≡ recomputed; empty-side edges") {
    val d = core.Tables.documents(spark, sf("sf0.001"))
    val batch = d.filter(col("doc_id") % 4 === 0)
    val history = d.filter(col("doc_id") % 4 =!= 0)
    def set(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    // the bandSignatures store round-trips through parquet bit-for-bit:
    // probing stored history signatures = recomputing them from text
    val tmp = tempDir().toString
    Dedup.bandSignatures(history, "doc_id", "text").write.mode("overwrite").parquet(tmp)
    val viaStore = set(Dedup.incrementalMinHashLsh(batch, history, "doc_id", "text",
      historySigs = Some(spark.read.parquet(tmp)), verifyThreshold = 0.8))
    val fresh = set(Dedup.incrementalMinHashLsh(batch, history, "doc_id", "text",
      verifyThreshold = 0.8))
    assert(viaStore == fresh && fresh.nonEmpty)
    // empty batch: nothing to pair
    assert(Dedup.incrementalMinHashLsh(d.limit(0), history, "doc_id", "text").isEmpty)
    // empty history: every pair touches the batch — equals plain minHashLsh
    val own = set(Dedup.incrementalMinHashLsh(batch, d.limit(0), "doc_id", "text",
      verifyThreshold = 0.8))
    val ref = set(Dedup.minHashLsh(batch, "doc_id", "text", 3, 64, 16,
      verifyThreshold = 0.8))
    assert(own == ref)
  }

  test("simhash: identical docs collide, different docs differ") {
    val s = Dedup.simHash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s(1L) == s(4L))
    assert(s(1L) != s(3L))
    val pairs = Dedup.simHashPairs(Dedup.simHash(docs, "doc_id", "text"), maxDist = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("sim_hash60 expression ≡ the 60-sum aggregate shape; null semantics") {
    // the r1-r6 simHash was an explode + 60-sum hash-aggregate; the r7
    // expression must reproduce its fingerprints bit-for-bit on arbitrary
    // text (incl. repeated tokens, whose distinctness the aggregate got
    // from array_distinct and the expression gets from its HashSet)
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "same same same same different tokens here"),
      (4L, ""),                    // one empty-string token — still a vote
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val viaExpr = Dedup.simHash(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // inline replica of the old aggregate shape
    val toks = d.select(col("doc_id").as("id"),
        explode(array_distinct(graft.functions.TextFunctions.tokens(col("text")))).as("tok"))
      .select(col("id"),
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
    val aggs = (0 until Dedup.SimHashBits).map { b =>
      sum(shiftright(col("h"), b).bitwiseAND(1).cast("int") * 2 - 1).as(s"b$b")
    }
    val votes = toks.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
    val fp = (0 until Dedup.SimHashBits).map { b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce((x, y) => x.bitwiseOR(y))
    val viaAgg = votes.select(col("id"), fp.as("simhash")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaExpr == viaAgg, s"expr=$viaExpr agg=$viaAgg")
    assert(!viaExpr.contains(5L), "null-text doc must be absent, like the old shape")
    assert(viaExpr.contains(4L), "empty text has one empty token -> a fingerprint")
    // interpreted eval agrees with codegen
    import org.apache.spark.sql.catalyst.expressions.{Literal => CatLit}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val arr = new GenericArrayData(Seq("quick", "brown", "quick").map(UTF8String.fromString))
    val lit2 = CatLit(arr, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType))
    val evalFp = graft.functions.SimHash60(lit2).eval(null)
    val sparkFp = Dedup.simHash(Seq((1L, "quick brown quick")).toDF("doc_id", "text"),
      "doc_id", "text").collect().head.getLong(1)
    assert(evalFp == sparkFp, s"eval=$evalFp codegen=$sparkFp")
  }

  test("min_hash64 expression ≡ the explode + k-min aggregate shape; null semantics") {
    // minHashLsh ran signatures through minHashSignatures (explode + k-min
    // hash-aggregate) in r1-r7; the native expression must reproduce every
    // minimum bit-for-bit on real corpus shingle sets
    val k = 64
    val d = core.Tables.documents(spark, sf("sf0.001"))
    val docs = d.select(col("doc_id").as("id"),
        array_distinct(TextFunctions.shingles(col("text"), 3)).as("sh"))
      .filter(size(col("sh")) > 0)
    val viaExpr = docs.select(col("id"),
        graft.functions.MinHashExpression.minHash64(spark, col("sh"), k).as("mh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaAgg = Dedup.minHashSignatures(
        docs.select(col("id"), explode(col("sh")).as("shingle")), k)
      .collect().map(r => r.getLong(0) -> (1 to k).map(r.getLong)).toMap
    assert(viaExpr.keySet == viaAgg.keySet)
    viaAgg.foreach { case (id, sig) =>
      assert(viaExpr(id) == sig, s"signature mismatch for doc $id")
    }
    // banded form == the old xxhash64(h_{b·r}..h_{b·r+r-1}) band fold over
    // the aggregate's minima columns (what minHashLsh actually runs)
    val bands = 16; val r = k / bands
    val viaExprBands = docs.select(col("id"),
        graft.functions.MinHashExpression.minHash64(spark, col("sh"), k, bands).as("b"))
      .collect().map(row => row.getLong(0) -> row.getSeq[Long](1)).toMap
    val aggSig = Dedup.minHashSignatures(
      docs.select(col("id"), explode(col("sh")).as("shingle")), k)
    val bandsArr = array((0 until bands).map { b =>
      xxhash64((0 until r).map(j => col(s"h${b * r + j}")): _*)
    }: _*)
    val viaAggBands = aggSig.select(col("id"), bandsArr.as("b"))
      .collect().map(row => row.getLong(0) -> row.getSeq[Long](1)).toMap
    assert(viaExprBands == viaAggBands)
    // empty shingle set -> NULL (the old shape's "no rows exploded" absence);
    // a null element contributes the bare seed like xxhash64(NULL) did
    val edge = Seq((1L, Seq.empty[String]), (2L, Seq[String](null, "x")))
      .toDF("id", "sh")
    val e = edge.select(col("id"),
        graft.functions.MinHashExpression.minHash64(spark, col("sh"), 4).as("mh"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toMap
    assert(e(1L).isEmpty, "empty array must yield NULL")
    val nullAndX = edge.filter(col("id") === 2L)
      .select(explode(col("sh")).as("shingle")).withColumn("id", lit(2L))
    val aggNullAndX = Dedup.minHashSignatures(nullAndX, 4).collect()
      .map(r => (1 to 4).map(r.getLong)).head
    assert(e(2L).get == aggNullAndX, s"${e(2L).get} != $aggNullAndX")
    // interpreted eval agrees with codegen
    import org.apache.spark.sql.catalyst.expressions.{Literal => CatLit}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val arr = new GenericArrayData(Seq("a b c", "b c d").map(UTF8String.fromString))
    val lit1 = CatLit(arr, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType))
    val evalSig = graft.functions.MinHash64(lit1, 8).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq
    val codegenSig = Seq((1L, Seq("a b c", "b c d"))).toDF("id", "sh")
      .select(graft.functions.MinHashExpression.minHash64(spark, col("sh"), 8))
      .collect().head.getSeq[Long](0)
    assert(evalSig == codegenSig, s"eval=$evalSig codegen=$codegenSig")
  }

  test("lsh_buckets expression ≡ the per-plane aggregate(zip_with) shape; null semantics") {
    // the r1-r7 bucket projection was planes×tables interpreted HOF passes;
    // the native expression must reproduce every table's bucket bit-for-bit
    // (same md5 matrix, same left-to-right double fold, same >= 0 sign test)
    val planes = 5; val tables = 3; val dim = 8
    val rnd = new scala.util.Random(42)
    val vecs = (1L to 64L).map(i => (i, Array.fill(dim)(rnd.nextFloat() * 2f - 1f))) :+
      (65L, Array(1e-30f, -1e-30f, 0f, 0f, 0f, 0f, 0f, 0f))  // near-zero projections
    val d = vecs.toDF("id", "vec")
    val viaExpr = d.select(col("id"),
        graft.functions.LshExpressions.lshBuckets(spark, col("vec"), planes, tables, dim).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // inline replica of the old HOF shape (lshBucketTables pre-r7)
    val mat = Similarity.planeMatrix(planes * tables, dim)
    val bs = (0 until tables).map { tbl =>
      (0 until planes).map { p =>
        val proj = aggregate(
          zip_with(col("vec"), typedLit(mat(tbl * planes + p).toIndexedSeq),
            (x, w) => x.cast("double") * w),
          lit(0.0), (acc, v) => acc + v)
        when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    val viaHof = d.select(col("id"), array(bs: _*).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaExpr == viaHof)
    // a null element poisons every projection -> bucket 0 in every table,
    // exactly like zip_with's null product through the old fold
    val withNull = Seq((1L, Array[java.lang.Float](1f, null, 3f, 4f, 5f, 6f, 7f, 8f)))
      .toDF("id", "vec").select(col("id"), col("vec").cast("array<float>").as("vec"))
    val nb = withNull.select(
        graft.functions.LshExpressions.lshBuckets(spark, col("vec"), planes, tables, dim))
      .collect().head.getSeq[Long](0)
    assert(nb == Seq.fill(tables)(0L), s"null element must degrade to bucket 0, got $nb")
    // interpreted eval agrees with codegen
    import org.apache.spark.sql.catalyst.expressions.{Literal => CatLit}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val arr = new GenericArrayData(vecs.head._2)
    val lit1 = CatLit(arr, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
    val evalB = graft.functions.LshBuckets(lit1, planes, tables, dim)
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq
    assert(evalB == viaExpr(1L), s"eval=$evalB codegen=${viaExpr(1L)}")
  }

  test("cosine + brute-force top-k on hand-checkable vectors") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 1), "vec_id", "embedding", 2)
      .orderBy(desc("cosine")).collect()
    assert(top.map(_.getLong(1)).toSeq == Seq(2L, 3L))
    assert(math.abs(top.head.getDouble(2) - 0.9939) < 1e-4) // 0.9/sqrt(0.82)
    assert(top(1).getDouble(2) == 0.0)
  }

  test("LSH ANN: OR-amplification recall is monotone in tables, floor vs brute force") {
    // planeMatrix row p is height-independent, so table 0 of tables=2 IS the
    // tables=1 table: candidates only grow with tables, and exact rerank
    // over a candidate superset can only move the top-k toward brute force's
    val e = core.Tables.embeddings(spark, sf("sf0.001"))
    val q = e.filter(col("vec_id") < 8)
    def topSet(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val brute = topSet(Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 10))
    val one = topSet(Similarity.lshTopK(e, q, "vec_id", "embedding", 10,
      planes = 6, dim = 64, tables = 1))
    val two = topSet(Similarity.lshTopK(e, q, "vec_id", "embedding", 10,
      planes = 6, dim = 64, tables = 2))
    val r1 = (one intersect brute).size.toDouble / brute.size
    val r2 = (two intersect brute).size.toDouble / brute.size
    assert(r2 >= r1, s"tables=2 recall $r2 below tables=1 recall $r1")
    assert(r2 > 0, s"OR-amplified top-k shares nothing with brute force")
    // the amplification mechanism itself: an unbounded-k probe returns every
    // candidate, and the tables=2 candidate set must contain tables=1's
    val all1 = topSet(Similarity.lshTopK(e, q, "vec_id", "embedding", Int.MaxValue,
      planes = 6, dim = 64, tables = 1))
    val all2 = topSet(Similarity.lshTopK(e, q, "vec_id", "embedding", Int.MaxValue,
      planes = 6, dim = 64, tables = 2))
    assert(all1.subsetOf(all2), "tables=1 candidates escaped the tables=2 set")
    assert(all2.size > all1.size, "second table added no candidates at this scale")
  }

  test("LSH ANN returns a subset of brute-force candidates with same scoring") {
    val e = core.Tables.embeddings(spark, sf("sf0.001"))
    val q = e.filter(col("vec_id") < 3)
    val brute = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.lshTopK(e, q, "vec_id", "embedding", 5, planes = 4).collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r => // any overlapping pair must carry the identical score
      brute.get((r.getLong(0), r.getLong(1))).foreach(c => assert(c == r.getDouble(2)))
    }
  }

  test("text functions: tokens, shingles, fingerprints, quality") {
    val df = Seq((1L, "a b c d"), (2L, "d c b a"), (3L, "a b c d")).toDF("id", "text")
    val sh = df.select(TextFunctions.shingles(col("text"), 2).as("s"))
      .filter(col("id") === 1 || lit(true)).limit(1).as[Seq[String]].collect().head
    assert(sh == Seq("a b", "b c", "c d"))
    // canonical fingerprint ignores order; rolling fingerprint does not
    val canon = df.select(col("id"), TextFunctions.canonicalFingerprint(col("text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(canon(1L) == canon(2L) && canon(1L) == canon(3L))
    val roll = df.select(col("id"), TextFunctions.rollingFingerprint(col("text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(roll(1L) != roll(2L) && roll(1L) == roll(3L))
    val q = df.select(TextFunctions.tokenCount(col("text"))).as[Int].collect()
    assert(q.forall(_ == 4))
  }

  test("language id: marker argmax with deterministic tie-break") {
    val df = Seq((1L, "the cat and the dog"), (2L, "xyz qqq"), (3L, "el la de y es"))
      .toDF("id", "text")
    val got = df.select(col("id"), TextFunctions.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en")
    assert(got(2L) == "und")
    assert(got(3L) == "es")
  }

  test("contamination: eval-shingle overlap counts, clean docs absent") {
    // corpus docs 1-3, eval doc 4 (= exact dup of 1): doc1 shares all 7
    // trigrams, doc2 (last word differs) shares 6, doc3 shares none
    val corpus = docs.filter(col("doc_id") < 4)
    val eval = docs.filter(col("doc_id") === 4)
    val got = Dedup.contamination(corpus, eval, "doc_id", "text", n = 3)
      .orderBy("id").collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(got == Seq(1L -> 7L, 2L -> 6L))
    // minShared threshold filters the weak overlap
    val strict = Dedup.contamination(corpus, eval, "doc_id", "text", n = 3, minShared = 7L)
      .collect().map(_.getLong(0)).toSeq
    assert(strict == Seq(1L))
  }

  test("contamination plan: eval shingle set broadcasts, corpus side never sort-merges") {
    val d = core.Tables.documents(spark, sf("sf0.001"))
    val q = Dedup.contamination(d.filter(col("doc_id") % 25 =!= 0),
      d.filter(col("doc_id") % 25 === 0), "doc_id", "text", n = 5)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"eval side should broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus must not shuffle for the join:\n$plan")
  }

  test("scrub: emails, URLs, and long digit runs become typed placeholders") {
    val df = Seq(
      (1L, "mail bob.smith+x@corp.example.org now"),
      (2L, "see https://a.io/p?q=1#f and http://b.c/d"),
      (3L, "id 12345678901 but keep 123456"),
      (4L, "clean text stays intact")
    ).toDF("id", "text")
    val got = df.select(col("id"), TextFunctions.scrub(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "mail <EMAIL> now")
    assert(got(2L) == "see <URL> and <URL>")
    assert(got(3L) == "id <NUM> but keep 123456")
    assert(got(4L) == "clean text stays intact")
  }

  test("qualityScore: hand-computed goldens, bounded in [0,1]") {
    val df = Seq(
      (1L, "the quick brown fox"),                      // 4 tokens, all alpha
      (2L, ("word " * 59).trim + " end!"),              // 60 tokens, capped len
      (3L, "!!! ??? ###")                               // no alpha, no stopwords
    ).toDF("id", "text")
    val got = df.select(col("id"),
        TextFunctions.qualityScore(col("text"), Seq("the", "a")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // id 1: lenScore 4/50=0.08, alpha 19/19=1.0, stop 1/4=0.25 → 1-|0.25-0.15|=0.9
    assert(got(1L) == BigDecimal((0.08 + 1.0 + 0.9) / 3.0)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // id 2: lenScore capped at 1.0; id 3: alpha≈spaces only, stop 0
    assert(got(2L) > got(1L))
    assert(got.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(got(3L) < got(1L))
  }

  test("repetition metrics: duplicated 2-gram and top-token fractions") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // 8 distinct 2-grams
      (2L, "spam spam spam ham"),                          // grams: ss, ss, sh
      (3L, "solo")                                         // shorter than n
    ).toDF("id", "text")
    val got = df.select(col("id"),
        TextFunctions.dupNgramFraction(col("text"), 2).as("d"),
        TextFunctions.topTokenFraction(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(got(1L) == ((0.0, BigDecimal(2.0 / 9).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(got(2L) == ((BigDecimal(1.0 - 2.0 / 3).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble, 0.75)))
    assert(got(3L) == ((0.0, 1.0)))
  }

  test("tokenRarityScore: mean vocab rank with OOV penalty, deterministic ranks") {
    val df = Seq((1L, "a a b"), (2L, "b c"), (3L, "z")).toDF("id", "text")
    // tf: a=2, b=2, c=1, z=1 → ranks (tf desc, token asc): a=1, b=2; c,z OOV=3
    val got = ops.Sampling.tokenRarityScore(df, "id", "text", vocab = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == BigDecimal(4.0 / 3).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got(2L) == 2.5)
    assert(got(3L) == 3.0)
  }

  test("native cosine Expression is bit-identical to the composable form") {
    val e = core.Tables.embeddings(spark, sf("sf0.001")).limit(200)
    val pairs = e.toDF("id_a", "v_a", "l_a").crossJoin(
      e.toDF("id_b", "v_b", "l_b").limit(5))
    val both = pairs.select(
      Similarity.cosine(col("v_a"), col("v_b")).as("composable"),
      graft.functions.VectorExpressions.cosineNative(spark, col("v_a"), col("v_b")).as("native"))
    assert(both.filter(col("composable") =!= col("native")).count() == 0)
  }

  test("multimodal: binary attach, feature extraction shape, frame sampling") {
    val media = Multimodal.attachBinary(docs, "doc_id", "text")
    assert(media.schema("media").dataType.typeName == "binary")
    val feats = Multimodal.extractFeatures(media, dim = 8).collect()
    assert(feats.length == 4 && feats.forall(_.getSeq[Float](1).length == 8))
    // identical payloads → identical features (deterministic stub)
    val byId = feats.map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(byId(1L) == byId(4L) && byId(1L) != byId(3L))
    // md5-portable definition: seed = md5(text) hex, component d =
    // (md5(seed|'|'|d)[60b] % 1024)/1024
    val md = java.security.MessageDigest.getInstance("MD5")
    val seed = md.digest("the quick brown fox jumps over the lazy dog"
      .getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = (0 until 8).map { d =>
      val hex = md.digest(s"$seed|$d".getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 1024L).toFloat / 1024.0f
    }
    assert(byId(1L) == expected)
    val frames = Multimodal.frameSample(media, n = 3, frameBytes = 4)
    assert(frames.count() == 12)
  }

  test("nearDupPairs: LSH candidates exact-verified, a subset of all-pairs, deterministic") {
    val e = core.Tables.embeddings(spark, sf("sf0.001"))
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
    val exact = a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", graft.functions.VectorExpressions.cosineNative(
        spark, col("ea"), col("eb")))
      .filter(col("cosine") >= 0.35)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def run() = Similarity.nearDupPairs(e, "vec_id", "embedding",
        threshold = 0.35, planes = 4, tables = 2, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = run()
    assert(lsh.nonEmpty, "LSH near-dup found no pairs at sf0.001")
    // every LSH pair is a true pair with the identical exact cosine
    lsh.foreach { case (k, c) =>
      assert(exact.get(k).contains(c), s"pair $k: lsh=$c exact=${exact.get(k)}")
    }
    assert(lsh == run(), "bucketing must be deterministic across runs")
  }

  test("knnGraph: per-node top-k among bucket candidates, both directions — full golden replay") {
    val e = core.Tables.embeddings(spark, sf("sf0.001"))
    val (k, planes, tables, dim) = (3, 4, 2, 64)
    val got = Similarity.knnGraph(e, "vec_id", "embedding",
        k = k, planes = planes, tables = tables, dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.nonEmpty)
    // golden: recompute buckets from the md5 plane matrix with the same
    // left-to-right double accumulation, then rank candidates by the
    // operator's own exact cosine (unrounded) driver-side
    val vecs = e.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val mat = Similarity.planeMatrix(planes * tables, dim)
    def bucket(v: Array[Float], tbl: Int): Long = (0 until planes).map { p =>
      val w = mat(tbl * planes + p)
      val proj = v.indices.foldLeft(0.0)((acc, i) => acc + v(i).toDouble * w(i))
      if (proj >= 0) 1L << p else 0L
    }.sum
    val byBucket = (for {
      (id, v) <- vecs.toSeq; tbl <- 0 until tables
    } yield (tbl, bucket(v, tbl)) -> id).groupBy(_._1)
    val aa = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
    val bb = e.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
    val cos = aa.join(bb, col("id_a") =!= col("id_b"))
      .withColumn("c", graft.functions.VectorExpressions.cosineNative(
        spark, col("ea"), col("eb")))
      .select("id_a", "id_b", "c").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val cands = byBucket.values.flatMap { grp =>
      val ids = grp.map(_._2)
      for (a <- ids; b <- ids if a != b) yield (a, b)
    }.toSet
    def round4(x: Double): Double = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = cands.groupBy(_._1).flatMap { case (node, ps) =>
      ps.toSeq.map(p => (p._2, cos(p)))
        .sortBy { case (nbr, c) => (-c, nbr) }.take(k)
        .map { case (nbr, c) => (node, nbr) -> round4(c) }
    }
    assert(got == expected, {
      val extra = got.keySet -- expected.keySet
      val missing = expected.keySet -- got.keySet
      s"knnGraph mismatch: extra=${extra.take(5)} missing=${missing.take(5)}"
    })
    // asymmetry is real in this fixture: some edge's reverse is absent
    assert(got.keys.exists { case (a, b) => !got.contains((b, a)) },
      "expected at least one asymmetric k-NN edge")
  }

  test("triangleStats: clique/path goldens, reversed-duplicate edges counted once") {
    import graft.ops.Graph
    // K4 on {1,2,3,4} (every node: deg 3, 3 triangles, coeff 1.0), a path
    // 4-5-6 hanging off it (5: deg 2, 0 triangles, coeff 0), plus
    // duplicate and REVERSED copies of one clique edge — the canonical
    // a<b dedup must count each triangle exactly once
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L),
      (2L, 1L), (1L, 2L) // noise: reversed + duplicate
    ).toDF("s", "d")
    val got = Graph.triangleStats(edges, "s", "d")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((3L, 3L, 1.0)) && got(2L) == ((3L, 3L, 1.0))
      && got(3L) == ((3L, 3L, 1.0)))
    assert(got(4L) == ((4L, 3L, 0.5)), s"bridge node: ${got(4L)}") // 2*3/(4*3)
    assert(got(5L) == ((2L, 0L, 0.0)) && got(6L) == ((1L, 0L, 0.0)))
    assert(got.size == 6)
  }

  test("labelPropagate: weighted majority, seed clamp, tie to smaller label, multi-hop reach") {
    import graft.ops.Graph
    // graph: 3 votes from seeds {1→10, 2→20}; 4 is a weight tie; 5 only
    // reaches a label through 3 (needs round 2); 1 has an edge that would
    // relabel it if seeds weren't clamped
    val g = Seq(
      (3L, 1L, 0.9), (3L, 2L, 0.8),  // 10:0.9 > 20:0.8 → 10
      (4L, 1L, 0.5), (4L, 2L, 0.5),  // exact tie → smaller label 10
      (5L, 3L, 0.9),                 // unlabeled at round 1, 10 at round 2
      (1L, 2L, 0.99)                 // seed 1 must stay 10
    ).toDF("node_id", "neighbor_id", "cosine")
    val seeds = Seq((1L, 10), (2L, 20)).toDF("vec_id", "label")
    def run(rounds: Int) = Graph.labelPropagate(g, seeds, "vec_id", "label", rounds)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val one = run(1)
    assert(one == Map(1L -> 10, 2L -> 20, 3L -> 10, 4L -> 10),
      s"round 1: $one — 5 must be ABSENT (no labeled reachable in one hop)")
    val two = run(2)
    assert(two == Map(1L -> 10, 2L -> 20, 3L -> 10, 4L -> 10, 5L -> 10),
      s"round 2: $two — 5 reaches 10 through 3")
    // determinism across runs (vote sums are decimal — no float order)
    assert(run(2) == two)
  }

  test("appendKnnGraph ≡ full rebuild; unaffected nodes untouched (sf0.001)") {
    val e = core.Tables.embeddings(spark, sf("sf0.001"))
    val (k, planes, tables, dim) = (3, 4, 2, 64)
    val old = e.filter(col("vec_id") % 5 =!= 0)
    val batch = e.filter(col("vec_id") % 5 === 0)
    def rowsOf(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val g = Similarity.knnGraph(old, "vec_id", "embedding",
      k = k, planes = planes, tables = tables, dim = dim)
    val appended = Similarity.appendKnnGraph(g, old, batch, "vec_id", "embedding",
      k = k, planes = planes, tables = tables, dim = dim)
    val rebuilt = Similarity.knnGraph(e, "vec_id", "embedding",
      k = k, planes = planes, tables = tables, dim = dim)
    assert(rowsOf(appended) == rowsOf(rebuilt),
      "append must equal the full rebuild exactly")
    // the batch genuinely changed something (otherwise the test is vacuous)
    assert(rowsOf(g) != rowsOf(rebuilt))
    // an empty batch is the identity — INCLUDING with dim left to inference
    // (the empty-batch head() crash, r17 review)
    val idAppend = Similarity.appendKnnGraph(g, old, batch.filter(lit(false)),
      "vec_id", "embedding", k = k, planes = planes, tables = tables)
    assert(rowsOf(idAppend) == rowsOf(g))
    // re-ingesting an EXISTING id is rejected loudly (silent stale edges
    // otherwise — r17 review)
    intercept[IllegalArgumentException](Similarity.appendKnnGraph(
      g, old, old.limit(1), "vec_id", "embedding",
      k = k, planes = planes, tables = tables, dim = dim))
  }

  test("mutualKnnClusters: union-find over mutual edges, total coverage, min-id labels") {
    val e = core.Tables.embeddings(spark, sf("sf0.001"))
    val (k, planes, tables, dim) = (3, 4, 2, 64)
    val got = Similarity.mutualKnnClusters(e, "vec_id", "embedding",
        k = k, planes = planes, tables = tables, dim = dim)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val ids = e.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got.keySet == ids, "every vector gets exactly one cluster row")
    // golden: mutual-filter the (golden-verified) knnGraph edges, then
    // driver-side union-find
    val edges = Similarity.knnGraph(e, "vec_id", "embedding",
        k = k, planes = planes, tables = tables, dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mutual = edges.filter { case (a, b) => a < b && edges((b, a)) }
    assert(mutual.nonEmpty, "fixture should produce mutual edges")
    val parent = scala.collection.mutable.Map(ids.toSeq.map(i => i -> i): _*)
    def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    mutual.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val comp = ids.map(i => i -> find(i)).toMap
    // path-compress to true minima: find() after all unions settles labels
    val settled = ids.map(i => i -> find(i)).toMap
    val sizes = settled.values.groupBy(identity).map { case (c, m) => c -> m.size.toLong }
    ids.foreach { i =>
      assert(got(i)._1 == settled(i), s"cluster of $i: ${got(i)._1} != ${settled(i)}")
      assert(got(i)._2 == sizes(settled(i)), s"size of $i's cluster")
    }
    assert(comp.nonEmpty)
    // mutuality kept a strict subset of directed edges in this fixture —
    // the hub-trimming the construction exists for
    assert(mutual.size * 2 < edges.size,
      s"expected mutual (${mutual.size}×2) < directed (${edges.size})")
    // the similarity gate: an unreachable threshold leaves only singletons
    // (clusters of size 1 under each node's own id)
    val gated = Similarity.mutualKnnClusters(e, "vec_id", "embedding",
        k = k, minCosine = 0.99, planes = planes, tables = tables, dim = dim)
      .collect()
    assert(gated.length == ids.size
      && gated.forall(r => r.getLong(2) == 1L && r.getLong(1) == r.getLong(0)),
      "minCosine above every edge must yield all-singleton clusters")
  }

  test("autoPlanes: linear-candidate sizing, log2 growth, clamps") {
    import Similarity.autoPlanes
    // n/2^planes <= targetMates at the returned planes, not at planes-1
    assert(autoPlanes(1000, 32.0) == 5)   // 1000/32 = 31.25 -> ceil(log2) = 5
    assert(autoPlanes(10000, 32.0) == 9)  // 312.5 -> 8.29 -> 9
    // 10x the corpus adds ceil-log2(10) = 3..4 planes, so per-table expected
    // candidates n * targetMates stay LINEAR in n
    for (n <- Seq(1L << 10, 1L << 15, 1L << 20, 1L << 30)) {
      val p = autoPlanes(n, 32.0)
      assert(n.toDouble / math.pow(2, p) <= 32.0, s"n=$n planes=$p misses target")
      assert(p == 1 || n.toDouble / math.pow(2, p - 1) > 32.0,
        s"n=$n planes=$p overshoots: planes-1 already meets the target")
      assert(autoPlanes(10 * n, 32.0) - p <= 4, s"10x step at n=$n too large")
    }
    // clamps: tiny/empty corpora floor at 1 plane; astronomic ones cap at 48
    assert(autoPlanes(0) == 1 && autoPlanes(10) == 1)
    assert(autoPlanes(Long.MaxValue, 1e-9) == 48)
  }

  test("autoPlanes at the sf0.01 gate = 4, the plane count the d74/p92 oracles pin") {
    // The d74/p92 queries compose autoPlanes with the fixed nearDupPairs,
    // and their gate-scale plane count is 4: autoPlanes(n) == 4 iff
    // 256 < n <= 512. Their oracles are FromData and recompute the count
    // at whatever dir Verify runs (ScaleJoinsSpec pins that), so a
    // testdata regeneration cannot turn into an oracle mismatch. What this
    // pins is the gate data's count: a regeneration that leaves that range
    // changes the buckets d74/p92 compare at sf0.01, and fails here first.
    val n = core.Tables.embeddings(spark, sf("sf0.01")).count()
    assert(Similarity.autoPlanes(n) == 4,
      s"sf0.01 embeddings count $n gives autoPlanes ${Similarity.autoPlanes(n)}; " +
        "regenerate the d74/p92 oracle SQL at the new plane count")
  }

  test("p92 semantic dedup: one keep per cluster, keeper is the min id, singletons whole") {
    val r = SparkEntry.queries("p92_semantic_dedup")(spark, sf("sf0.001"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    val ids = r.map(_._1)
    assert(ids.distinct.length == ids.length, "every embedding appears exactly once")
    val byCluster = r.groupBy(_._2)
    byCluster.foreach { case (cid, rows) =>
      assert(rows.count(_._4 == 1L) == 1, s"cluster $cid must keep exactly one")
      assert(rows.find(_._4 == 1L).get._1 == cid, s"cluster $cid keeper must be the min id")
      assert(rows.forall(_._3 == rows.length), s"cluster $cid sizes disagree")
      assert(rows.map(_._1).min == cid, s"cluster $cid id must be its min member")
    }
    assert(byCluster.exists(_._2.length > 1), "sf0.001 must contain a real semantic cluster")
    assert(byCluster.exists(_._2.length == 1), "sf0.001 must contain singletons")
  }

  test("rrfFuse: hand-computed scores, agreement boost, per-query k bound") {
    // two tiers over two queries; ranks are by (cosine desc, neighbor_id)
    val t1 = Seq((1L, 10L, 0.9), (1L, 11L, 0.8), (1L, 12L, 0.7),
      (2L, 20L, 0.9)).toDF("query_id", "neighbor_id", "cosine")
    val t2 = Seq((1L, 11L, 0.95), (1L, 13L, 0.85),
      (2L, 21L, 0.5)).toDF("query_id", "neighbor_id", "cosine")
    def pts(rank: Int) = math.floor(1e6 / (60 + rank)).toLong
    val got = ops.Similarity.rrfFuse(Seq(t1, t2), k = 10, rrfK = 60)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // 11 appears in both lists (rank 2 in t1, rank 1 in t2): boosted above
    // t1's own rank-1 doc
    assert(got((1L, 11L)) == (pts(2) + pts(1), 2L))
    assert(got((1L, 10L)) == (pts(1), 1L))
    assert(got((1L, 11L))._1 > got((1L, 10L))._1, "agreement must outrank a single rank-1")
    assert(got((1L, 12L)) == (pts(3), 1L) && got((1L, 13L)) == (pts(2), 1L))
    assert(got((2L, 20L)) == (pts(1), 1L) && got((2L, 21L)) == (pts(1), 1L))
    // k bounds per query: k=1 keeps only the fused winner
    val top1 = ops.Similarity.rrfFuse(Seq(t1, t2), k = 1, rrfK = 60)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(top1 == Map(1L -> 11L, 2L -> 20L)) // q2 tie (20 vs 21) → min id
  }

  test("crossNearDup: exact-verified subset of cross all-pairs; identical vector always found") {
    val e = core.Tables.embeddings(spark, sf("sf0.001"))
    val corpus = e.filter(col("vec_id") % 25 =!= 0)
    val probes = e.filter(col("vec_id") % 25 === 0)
    val got = ops.Similarity.crossNearDup(corpus, probes, "vec_id", "embedding",
        threshold = 0.35, planes = 4, tables = 2, dim = 64)
      .as[(Long, Long, Double)].collect().toSet
    // every reported pair verifies against the exact cross computation
    val exact = corpus.select(col("vec_id").as("id"), col("embedding").as("ec"))
      .crossJoin(probes.select(col("vec_id").as("probe_id"), col("embedding").as("ep")))
      .withColumn("cosine", graft.functions.VectorExpressions.cosineNative(
        spark, col("ec"), col("ep")))
      .filter(col("cosine") >= 0.35)
      .select(col("id"), col("probe_id"), round(col("cosine"), 4))
      .as[(Long, Long, Double)].collect().toSet
    assert(got.subsetOf(exact), s"false positives: ${got.diff(exact).take(3)}")
    assert(got.nonEmpty)
    // a probe that IS a corpus vector lands in the same bucket in every
    // table — candidacy is guaranteed at any plane count, cosine 1.0
    val copy = corpus.filter(col("vec_id") === corpus.agg(min("vec_id")).as[Long].head())
    val planted = ops.Similarity.crossNearDup(corpus, copy, "vec_id", "embedding",
        threshold = 0.999, planes = 8, tables = 1, dim = 64)
      .as[(Long, Long, Double)].collect()
    assert(planted.exists(r => r._1 == r._2 && r._3 == 1.0))
  }

  test("tfIdfTopTerms: rational-idf goldens, k rows per doc, lexicographic tie-break") {
    // N=4; 'dog' df=2 -> 1*(4-2+0.5)/2.5 = 1.0; 'the' tf=2 df=3 ->
    // 2*1.5/3.5 = 0.8571; other doc-1 tokens 1*1.5/3.5 = 0.4286 (tie ->
    // 'brown' first); doc-3 tokens are unique to it -> all 3.5/1.5 = 2.3333
    val r = graft.ops.Sampling.tfIdfTopTerms(docs, "doc_id", "text", k = 3)
      .orderBy("id", "rnk").collect()
    assert(r.length == 12, s"expected 3 rows x 4 docs, got ${r.length}")
    val d1 = r.filter(_.getLong(0) == 1L).map(x => (x.getString(1), x.getDouble(2))).toSeq
    assert(d1 == Seq("dog" -> 1.0, "the" -> 0.8571, "brown" -> 0.4286), d1.toString)
    val d3 = r.filter(_.getLong(0) == 3L).map(_.getString(1)).toSeq
    assert(d3 == Seq("completely", "content", "different"), d3.toString)
  }

  test("token_counts: map equals explode+groupBy tf on nulls, empties, repeats") {
    import graft.functions.{TextFunctions, TokenCountsExpression}
    val d = Seq(
      (1L, "the quick the quick the fox"),
      (2L, ""),                    // split("") -> [""] — one empty token
      (3L, null.asInstanceOf[String]),
      (4L, "a a a a a a a a")
    ).toDF("id", "text")
    val viaMap = d.select(col("id"),
        explode(TokenCountsExpression.tokenCounts(spark, TextFunctions.tokens(col("text")))))
      .select(col("id"), col("key").as("token"), col("value").as("tf"))
    val viaAgg = d.select(col("id"),
        explode(TextFunctions.tokens(col("text"))).as("token"))
      .groupBy(col("id"), col("token")).agg(count(lit(1)).as("tf"))
    val m = viaMap.collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val a = viaAgg.collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m == a, s"map=$m agg=$a")
    assert(m((1L, "the")) == 3L && m((1L, "quick")) == 2L && m((4L, "a")) == 8L)
    assert(m.contains((2L, "")) && !m.keys.exists(_._1 == 3L)) // null text -> no rows
    // interpreted path (eval) agrees with the codegen'd one
    import org.apache.spark.sql.catalyst.expressions.{Literal => CatLit}
    import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
    import org.apache.spark.unsafe.types.UTF8String
    val arr = new GenericArrayData(Seq("x", "y", "x").map(UTF8String.fromString))
    val out = graft.functions.TokenCounts(CatLit.create(null, org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType)))
    assert(out.eval(null) == null)
    val lit2 = CatLit(arr, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType))
    val got = graft.functions.TokenCounts(lit2).eval(null).asInstanceOf[ArrayBasedMapData]
    assert(got.keyArray.numElements == 2 && got.valueArray.getLong(0) == 2L)
  }

  test("quantizeInt8: codes in [-127,127], per-component error <= scale/2, zero vector safe") {
    val vecs = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.125f)),
      (2L, Array(3.0f, -2.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("id", "v")
    val q = Similarity.quantizeInt8(vecs, "id", "v", keepVec = true).collect()
      .map(r => r.getLong(0) ->
        (r.getSeq[Double](1), r.getDouble(2), r.getSeq[Int](3))).toMap
    q.foreach { case (id, (vec, scale, codes)) =>
      assert(codes.forall(c => c >= -127 && c <= 127), s"id=$id codes=$codes")
      vec.zip(codes).foreach { case (x, c) =>
        assert(math.abs(x - c * scale) <= scale / 2 + 1e-12,
          s"id=$id x=$x c=$c scale=$scale")
      }
    }
    // absmax lands exactly on +/-127
    assert(q(1L)._3 == Seq(64, -127, 32, 16) && q(1L)._2 == 1.0 / 127.0)
    assert(q(3L)._2 == 0.0 && q(3L)._3 == Seq(0, 0, 0, 0))
    // dequantize reproduces code * scale bit-exactly
    val deq = Similarity.quantizeInt8(vecs, "id", "v")
      .select(col("id"), Similarity.dequantize(col("qvec"), col("scale")).as("d"))
      .filter(col("id") === 1L).head.getSeq[Double](1)
    assert(deq == Seq(64, -127, 32, 16).map(_ * (1.0 / 127.0)))
  }

  test("connectedComponents: transitive closure, min-id labels, isolated nodes absent") {
    // chain 1-2-3-4-5 (diameter 4, exercises pointer jumping), triangle
    // 10-11-12, pair 20-21; node 30 appears in no edge
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (5L, 4L),
      (10L, 11L), (11L, 12L), (12L, 10L), (21L, 20L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(edges, "id_a", "id_b")
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(cc == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // deterministic across runs
    val cc2 = Dedup.connectedComponents(edges, "id_a", "id_b")
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(cc == cc2)
  }

  test("connectedComponents: long chain converges under the iteration cap") {
    // path of 200 nodes: hash-min alone needs ~199 rounds; the
    // partition-local union-find seed solves it (one edge partition), so
    // it is returned without a round
    val edges = (1L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(edges, "id_a", "id_b")
    assert(cc.select("component").distinct().as[Long].collect().toSeq == Seq(1L))
    assert(cc.count() == 200)
    // hitting the cap before convergence must fail loudly, not return a
    // partially-merged (wrong) clustering — on a 20,000-node path, whose
    // two edge partitions leave the seed in fragments that need more than
    // two rounds to merge
    intercept[IllegalStateException] {
      Dedup.connectedComponents(DeadlockSoak.longPath.toDF("id_a", "id_b"),
        "id_a", "id_b", maxIter = 2)
    }
    // an EMPTY edge list (no near-dup pairs found — the common case for a
    // clean corpus slice) converges immediately to an empty label map, and
    // dedupByClusters over it is the identity
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(none, "id_a", "id_b").count() == 0)
    val docs4 = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(Dedup.dedupByClusters(docs4, none, "doc_id").count() == 2)
  }

  test("LSH buckets fail loudly on a dim mismatch instead of collapsing to bucket 0") {
    val e = core.Tables.embeddings(spark, sf("sf0.001"))
    val ex = intercept[Exception] {
      Similarity.nearDupPairs(e, "vec_id", "embedding",
        threshold = 0.35, planes = 4, tables = 2, dim = 32).count()
    }
    assert(ex.getMessage.contains("lshBucket"), ex.getMessage)
  }

  test("dedupByClusters keeps one canonical doc per cluster plus singletons") {
    // docs: 1~2 near-dup, 1=4 exact dup → pairs chain {1,2,4}; 3 is singleton
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .select("id_a", "id_b")
    val kept = Dedup.dedupByClusters(docs, pairs, "doc_id")
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(kept == Seq(1L, 3L))
  }

  test("dedupByClustersPriority keeps the preferred-source copy, not min-id") {
    // same graph as above: cluster {1,2,4}, singleton 3 — but doc 4 carries
    // the best (lowest) priority, so IT survives instead of min-id doc 1
    val prios = Seq((1L, 5), (2L, 7), (3L, 9), (4L, 2)).toDF("doc_id", "prio")
    val docsP = docs.join(prios, "doc_id")
    val pairs = Dedup.jaccardPairs(docsP, "doc_id", "text", n = 3, threshold = 0.5)
      .select("id_a", "id_b")
    val kept = Dedup.dedupByClustersPriority(docsP, pairs, "doc_id", col("prio"))
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(kept == Seq(3L, 4L))
    // priority ties fall back to min-id: equal prios reproduce dedupByClusters
    val keptTie = Dedup.dedupByClustersPriority(docsP, pairs, "doc_id", lit(1))
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(keptTie == Seq(1L, 3L))
    // no pairs → identity
    val none = spark.emptyDataset[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.dedupByClustersPriority(docsP, none, "doc_id", col("prio")).count() == 4)
    // a NULL priority (unparsable source id) must LOSE its cluster, never
    // win it — SQL NULLS LAST semantics, matching the DuckDB oracle's
    // ORDER BY p, node (Spark's bare asc would put nulls FIRST)
    val priosN = Seq((1L, Some(5)), (2L, None: Option[Int]), (3L, Some(9)), (4L, Some(7)))
      .toDF("doc_id", "prio")
    val docsN = docs.join(priosN, "doc_id")
    val keptN = Dedup.dedupByClustersPriority(docsN, pairs, "doc_id", col("prio"))
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(keptN == Seq(1L, 3L), s"null-priority doc 2 must not win: kept $keptN")
  }

  test("dedupByClustersPriorityCc over an external component map ≡ pairs form") {
    // the precomputed-CC variant (what d95 feeds from the shared bench
    // prefix) must keep exactly the docs the pairs form keeps — for a CC
    // map built independently of the internal call
    val prios = Seq((1L, 5), (2L, 7), (3L, 9), (4L, 2)).toDF("doc_id", "prio")
    val docsP = docs.join(prios, "doc_id")
    val pairs = Dedup.jaccardPairs(docsP, "doc_id", "text", n = 3, threshold = 0.5)
      .select("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
    val viaCc = Dedup.dedupByClustersPriorityCc(docsP, cc, "doc_id", col("prio"))
      .select("doc_id").as[Long].collect().toSeq.sorted
    val viaPairs = Dedup.dedupByClustersPriority(docsP, pairs, "doc_id", col("prio"))
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(viaCc == viaPairs && viaCc == Seq(3L, 4L))
    // an empty component map (no pairs anywhere) → identity, like the
    // pairs form's no-pairs case
    val emptyCc = spark.emptyDataset[(Long, Long)].toDF("node", "component")
    assert(Dedup.dedupByClustersPriorityCc(docsP, emptyCc, "doc_id", col("prio"))
      .count() == 4)
  }

  test("BPE train: classic corpus yields the hand-computed merge sequence") {
    // Sennrich et al.'s worked example: low×5 lower×2 newest×6 widest×3.
    // Hand-computed: es(9) → es+t(9) → l+o(7) → lo+w(7) → e+w(6, lex tie)
    val corpus = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = Seq((1L, corpus)).toDF("doc_id", "text")
    val merges = graft.ops.Bpe.train(docs, "text", numMerges = 5)
    assert(merges == Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"), ("e", "w")))
  }

  test("BPE trainBatched: 64 merges ≡ sequential, in far fewer pair-count rounds") {
    // the r8 latency guard: one top-k collect extracts a provably-sequential
    // PREFIX of symbol-disjoint merges per round, and fully-merged words are
    // pruned from the working vocab. Equivalence is the whole claim — pin
    // the batched 64-merge sequence against the batchK=1 sequential loop.
    val docs = core.Tables.documents(spark, sf("sf0.001"))
    val (seq64, seqRounds) = graft.ops.Bpe.trainBatched(docs, "text", 64, batchK = 1)
    val (bat64, batRounds) = graft.ops.Bpe.trainBatched(docs, "text", 64, batchK = 16)
    assert(seqRounds == 64, s"batchK=1 must be the sequential loop, got $seqRounds")
    assert(bat64 == seq64, "batched merge sequence diverged from sequential BPE")
    // early rounds are letter-dominated (top pairs share e/t/s, so the
    // exact prefix stops at the first interaction); the win is bounded by
    // the data here and grows in the long-merge regime where top pairs are
    // symbol-diverse. Exactness is the invariant; fewer jobs the bonus.
    assert(batRounds < seqRounds,
      s"batching must save pair-count jobs: $batRounds vs $seqRounds")
  }

  test("BPE applyMerge fuses left-to-right without overlap") {
    val vocab = Seq((Seq("a", "a", "a"), 1L)).toDF("syms", "c")
    val out = graft.ops.Bpe.applyMerge(vocab, "a", "a")
      .select("syms").as[Seq[String]].head()
    assert(out == Seq("aa", "a"))
  }

  test("BPE encode: replace-chain ≡ applyMerge fold on every sf0.001 word") {
    // encode's per-word merge chain is codegen'd string replace; applyMerge
    // is the symbol-array fold. Same left-to-right non-overlap semantics —
    // pin the equivalence over the real corpus vocabulary with a trained
    // merge list (so multi-char symbol merges are exercised too).
    val docs = core.Tables.documents(spark, sf("sf0.001"))
    val merges = graft.ops.Bpe.train(docs, "text", numMerges = 24)
    // fold path: full vocab (keep 1-char words: encode must carry them)
    val vocab0 = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").distinct()
      .withColumn("syms",
        expr("transform(sequence(1, char_length(w)), i -> substring(w, i, 1))"))
    val folded = merges.foldLeft(vocab0) { case (v, (a, b)) =>
      graft.ops.Bpe.applyMerge(v, a, b) }
      .select(col("w"), col("syms")).as[(String, Seq[String])].collect().toMap
    // encode path, reconstructed per word from the doc-level output of a
    // one-word-per-doc frame (wpos grouping degenerates to the word)
    val oneWordDocs = vocab0.select(col("w")).withColumn("doc_id",
      monotonically_increasing_id())
    val enc = graft.ops.Bpe.encode(oneWordDocs, "doc_id", "w", merges,
        capTokens = 1000)
      .join(oneWordDocs, "doc_id")
      .select(col("w"), col("tokens_head"), col("n_tokens"))
      .as[(String, String, Long)].collect()
    assert(enc.nonEmpty)
    enc.foreach { case (w, toksCsv, n) =>
      val toks = toksCsv.split(",").toSeq
      assert(toks == folded(w), s"word $w: $toks != ${folded(w)}")
      assert(n == toks.length.toLong)
    }
  }

  test("bloom: no false negatives, incremental dedup exact vs plain anti-join") {
    val history = (1L to 300L).map(i => s"doc-$i").toDF("fp")
    val (bitsN, k) = (1 << 12, 4)
    val bits = Dedup.bloomBuild(history, col("fp"), bitsN, k)
    // a bloom filter NEVER misses a member — this is what makes the final
    // result exact rather than approximate
    assert(history.filter(!Dedup.bloomMightContain(col("fp"), bits, bitsN, k)).count() == 0)
    // batch overlaps history on 250..300: result must be exactly 301..400
    val batch = (250L to 400L).map(i => s"doc-$i").toDF("fp")
    val got = Dedup.incrementalDedup(batch, history, "fp", bitsN, k)
      .as[String].collect().toSeq.sorted
    assert(got == (301L to 400L).map(i => s"doc-$i").sorted)
    // deterministic build: same keys → same bitset
    assert(java.util.Arrays.equals(bits, Dedup.bloomBuild(history, col("fp"), bitsN, k)))
  }

  test("bloomParams: textbook sizing, word-aligned, sane at the extremes") {
    val (m, k) = Dedup.bloomParams(1000000L, 0.01)
    // -n·ln(.01)/ln(2)² ≈ 9.585 bits/key; k ≈ 6.6 rounds to 7
    assert(m % 64 == 0 && m >= 9585000 && m <= 9586048, s"m=$m")
    assert(k == 7, s"k=$k")
    val (m1, k1) = Dedup.bloomParams(1L, 0.5)
    assert(m1 == 64 && k1 >= 1)
    intercept[IllegalArgumentException](Dedup.bloomParams(0L, 0.01))
    intercept[IllegalArgumentException](Dedup.bloomParams(10L, 1.0))
  }

  test("bloom prefilter prunes: disjoint batch produces (almost) no maybes") {
    val history = (1L to 200L).map(i => s"h-$i").toDF("fp")
    val (bitsN, k) = (1 << 14, 4)
    val bits = Dedup.bloomBuild(history, col("fp"), bitsN, k)
    // E[false positives] = 200 · (200·4/16384)^4 ≈ 0.001 — allow a couple
    val maybes = (1L to 200L).map(i => s"b-$i").toDF("fp")
      .filter(Dedup.bloomMightContain(col("fp"), bits, bitsN, k)).count()
    assert(maybes <= 2, s"false-positive rate far above bound: $maybes/200")
  }

  test("bloom broadcast path: numBits > 2^28 stays exact and codegen'd") {
    // past the plan-literal budget the probe switches to the broadcast-
    // variable-backed Expression; build and probe share the same position
    // hash, so the no-false-negative guarantee (and the exact final result)
    // must survive the transport change
    val bitsN = Dedup.BloomLiteralMaxBits + 64L
    val k = 4
    val history = (1L to 300L).map(i => s"doc-$i").toDF("fp")
    val bits = Dedup.bloomBuild(history, col("fp"), bitsN, k)
    assert(bits.length == (bitsN / 64).toInt)
    // fallback off: a broken doGenCode must THROW here, not silently revert
    // to interpreted eval
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      assert(history.filter(!Dedup.bloomMightContain(col("fp"), bits, bitsN, k)).count() == 0)
      val batch = (250L to 400L).map(i => s"doc-$i").toDF("fp")
      val got = Dedup.incrementalDedup(batch, history, "fp", bitsN, k)
        .as[String].collect().toSeq.sorted
      assert(got == (301L to 400L).map(i => s"doc-$i").sorted)
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("bloomParams: 100 TB-scale n sizes past the literal cap; huge n clamps, not overflows") {
    val (m10, k10) = Dedup.bloomParams(10000000000L, 0.01) // ~10^10 history keys
    assert(m10 > Dedup.BloomLiteralMaxBits && m10 % 64 == 0 && k10 == 7, s"m=$m10 k=$k10")
    // astronomical n: m saturates in double space; the old long arithmetic
    // would overflow negative and collapse to the 64-bit floor
    val (mx, kx) = Dedup.bloomParams(Long.MaxValue / 2, 1e-9)
    assert(mx == Dedup.BloomMaxBits && kx >= 1, s"m=$mx k=$kx")
  }

  test("incrementalDedup tolerates a batch column named __bloom_k") {
    val history = Seq("a", "b").toDF("fp")
    val batch = Seq(("a", 7L), ("c", 9L)).toDF("fp", "__bloom_k")
    val got = Dedup.incrementalDedup(batch, history, "fp")
    assert(got.columns.toSeq == Seq("fp", "__bloom_k"))
    assert(got.as[(String, Long)].collect().toSeq == Seq(("c", 9L)))
  }

  test("connectedComponents with a reliable checkpoint dir matches localCheckpoint") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val dir = tempDir().toString
    val got = Dedup.connectedComponents(edges, "id_a", "id_b",
        checkpointDir = Some(dir))
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)))
    // durable truncation really went to the dir (RDD checkpoint files exist)
    val files = new java.io.File(dir).listFiles()
    assert(files != null && files.nonEmpty, s"no checkpoint data under $dir")
  }

  test("full d73 flow under a reliable checkpoint dir ≡ the shipped local path") {
    // the 100 TB executor-churn configuration exercised END TO END on real
    // corpus pairs (not a toy edge list): jaccard pairs → CC with durable
    // checkpointing → cluster sizes, equal row-for-row to the driver query
    val docs = core.Tables.documents(spark, sf("sf0.001"))
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.8)
      .select(col("id_a"), col("id_b"))
    val dir = tempDir().toString
    def flow(cc: org.apache.spark.sql.DataFrame) = {
      val sizes = cc.groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
      cc.join(sizes, "component")
        .select(col("node"), col("component"), col("cluster_size"))
        .orderBy(col("node")).as[(Long, Long, Long)].collect().toSeq
    }
    val durable = flow(Dedup.connectedComponents(pairs, "id_a", "id_b",
      checkpointDir = Some(dir)))
    val local = flow(Dedup.connectedComponents(pairs, "id_a", "id_b"))
    assert(durable == local, "durable-checkpoint CC diverged from the local path")
    assert(durable.nonEmpty, "sf0.001 must contain near-dup clusters")
    val ckFiles = new java.io.File(dir).listFiles()
    assert(ckFiles != null && ckFiles.nonEmpty, s"no checkpoint data under $dir")
  }

  test("binaryFile ingestion: attachBinaryFiles → extractFeatures (production entry path)") {
    val tmp = tempDir()
    Seq("a.bin" -> "alpha payload", "b.bin" -> "beta").foreach { case (n, s) =>
      java.nio.file.Files.write(tmp.resolve(n), s.getBytes("UTF-8")) }
    val files = spark.read.format("binaryFile").load(tmp.toString)
    val media = Multimodal.attachBinaryFiles(files, "application/x-fake")
    assert(media.schema("media").dataType.typeName == "binary")
    val metas = media.select(col("meta.format"), col("meta.n_bytes"))
      .as[(String, Long)].collect().toSet
    assert(metas == Set(("application/x-fake", 13L), ("application/x-fake", 4L)))
    val feats = Multimodal.extractFeatures(media, dim = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(feats.size == 2 && feats.values.forall(_.length == 8))
    // features are a pure function of the BYTES: the file route and the
    // text-column route must agree on identical payloads
    val viaText = Multimodal.extractFeatures(Multimodal.attachBinary(
        Seq((1L, "alpha payload")).toDF("doc_id", "text"), "doc_id", "text"), dim = 8)
      .collect().head.getSeq[Float](1)
    val aId = files.filter(col("path").endsWith("a.bin"))
      .select(xxhash64(col("path"))).head.getLong(0)
    assert(feats(aId) == viaText)
  }

  test("nearDupPairs: no hash-partitioned exchange carries an embedding column") {
    // broadcast off so the bucket join plans as the shuffle join it becomes
    // at corpus scale (small-side broadcast hides the exchange at sf0.001);
    // the explicit broadcast() hints on the candidate fetch still hold
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val e = core.Tables.embeddings(spark, sf("sf0.001"))
      val df = Similarity.nearDupPairs(e, "vec_id", "embedding",
        threshold = 0.35, planes = 4, tables = 2, dim = 64)
      // formatted explain includes the EnsureRequirements-inserted exchanges
      // (AQE's inputPlan predates them); each node block lists its Input
      // columns, so a hash exchange carrying a vector is directly visible
      val fmt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // the CORPUS-sized exchanges are the bucket-join sides, partitioned on
      // (tbl, bucket) — those must be vector-free. (The candidate-set fetch
      // joins are adaptive: AQE broadcasts them when small; under forced
      // shuffle they carry candidate-sized — not corpus-sized — vectors.)
      val bucketExchanges = fmt.split("\n\n").toSeq.filter { b =>
        b.linesIterator.next().matches("""\(\d+\) Exchange.*""") &&
          b.contains("hashpartitioning(tbl")
      }
      assert(bucketExchanges.nonEmpty, s"no bucket exchange found:\n$fmt")
      bucketExchanges.foreach { b =>
        assert(!b.contains("array<"), s"vector rides a bucket exchange:\n$b")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("repeatedSpans: cross-doc verbatim spans counted, self-repeats ignored") {
    // spanChars=4, stride=2 → offsets 0,2,4,…  doc1/doc2 share "abcd"-family
    // spans; doc3 repeats its own span but shares nothing cross-doc; doc4 is
    // shorter than a span and must be absent
    val docs = Seq(
      (1L, "abcdefgh"),   // spans: abcd cdef efgh
      (2L, "abcdXYZW"),   // spans: abcd cdXY XYZW → shares abcd with doc1
      (3L, "QQQQQQ"),     // spans: QQQQ QQQQ — self-repeat only
      (4L, "zz")          // too short
    ).toDF("doc_id", "text")
    val got = Dedup.repeatedSpans(docs, "doc_id", "text", spanChars = 4, stride = 2)
      .orderBy("id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 3L, 1L, 0.3333), (2L, 3L, 1L, 0.3333), (3L, 2L, 0L, 0.0)))
  }

  test("repeatedSpans: hot boilerplate span stays bounded; maxSpanDf excludes it") {
    // the operator's own target workload: one licence-like span ("LIC!")
    // verbatim in EVERY doc. spanChars=4, stride=4 → non-overlapping spans
    val hot = Seq(
      (1L, "LIC!dupA"), (2L, "LIC!dupA"), // also share a real near-dup span
      (3L, "LIC!un3x"), (4L, "LIC!un4x"), (5L, "LIC!un5x"), (6L, "LIC!un6x"),
      (7L, "LIC!")                        // ONLY the boilerplate span
    ).toDF("doc_id", "text")
    def run(cap: Long) =
      Dedup.repeatedSpans(hot, "doc_id", "text", spanChars = 4, stride = 4,
        maxSpanDf = cap)
    // no unbounded per-span aggregation row anywhere in the plan: the r5
    // collect_list shape materialized the 7-doc list in ONE aggregate row —
    // at corpus scale, one row per million-doc licence span
    val fmt = run(0).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!fmt.contains("collect_list"), s"unbounded list aggregate:\n$fmt")
    // default (cap off): exact statistic, boilerplate counts as repeated
    val exact = run(0).orderBy("id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(exact == Seq((1L, 2L, 2L, 1.0), (2L, 2L, 2L, 1.0),
      (3L, 2L, 1L, 0.5), (4L, 2L, 1L, 0.5), (5L, 2L, 1L, 0.5), (6L, 2L, 1L, 0.5),
      (7L, 1L, 1L, 1.0)))
    // tight cap: the 7-doc "LIC!" span (df > 3) is boilerplate by fiat and
    // leaves the statistic; doc 7 (nothing but boilerplate) drops out
    val capped = run(3).orderBy("id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(capped == Seq((1L, 1L, 1L, 1.0), (2L, 1L, 1L, 1.0),
      (3L, 1L, 0L, 0.0), (4L, 1L, 0L, 0.0), (5L, 1L, 0L, 0.0), (6L, 1L, 0L, 0.0)))
  }

  test("pruneBoilerplateSegments: CCNet-style line dedup — goldens, exemption, full prune") {
    // "COOKIE NOTICE" is chrome on 3 of 4 docs (cap 2 → dropped); "body N"
    // lines are unique (kept); the "." line is under minSegmentChars (never
    // counted OR dropped, even though it appears in 3 docs); doc 4 is pure
    // boilerplate and must SURVIVE in the output with empty text_clean
    val pages = Seq(
      (1L, "COOKIE NOTICE\nbody one\n."),
      (2L, "body two\nCOOKIE NOTICE\n."),
      (3L, "body three\n.\nCOOKIE NOTICE"),
      (4L, "COOKIE NOTICE")
    ).toDF("doc_id", "text")
    val got = Dedup.pruneBoilerplateSegments(pages, "doc_id", "text",
        sep = "\n", maxSegmentDf = 2, minSegmentChars = 2)
      .orderBy("id").as[(Long, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "body one\n.", 2L, 1L),
      (2L, "body two\n.", 2L, 1L),
      (3L, "body three\n.", 2L, 1L),
      (4L, "", 0L, 1L)))
    // cap at the chrome's df (4 docs): everything passes through byte-identical
    val loose = Dedup.pruneBoilerplateSegments(pages, "doc_id", "text",
        sep = "\n", maxSegmentDf = 4, minSegmentChars = 2)
      .orderBy("id").as[(Long, String, Long, Long)].collect().toSeq
    assert(loose.map(r => (r._1, r._2)) ==
      pages.orderBy("doc_id").as[(Long, String)].collect().toSeq)
    // separator round-trip: a doc repeating its own segment keeps BOTH
    // copies when under-cap (df counts DISTINCT docs, not occurrences)
    val self = Seq((1L, "x y x"), (2L, "z")).toDF("doc_id", "text")
    val kept = Dedup.pruneBoilerplateSegments(self, "doc_id", "text",
        sep = " ", maxSegmentDf = 1).orderBy("id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(kept == Seq((1L, "x y x", 3L, 0L), (2L, "z", 1L, 0L)))
    // null text reads as one empty exempt segment — the doc never vanishes
    val withNull = Seq((1L, Option("a b")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val nn = Dedup.pruneBoilerplateSegments(withNull, "doc_id", "text",
        sep = " ", maxSegmentDf = 5).orderBy("id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(nn == Seq((1L, "a b", 2L, 0L), (2L, "", 1L, 0L)))
  }

  test("repeatedSpans: the (span,doc) aggregate runs once — AQE reuses the stage") {
    // the flag join and the per-span distinct-doc count both consume the
    // (h, id) aggregate (a diamond): the STATIC plan prints the subtree — and
    // its corpus scan — twice, but AQE's stage cache materializes the
    // exchange once and rewires the second consumer onto it. Without the
    // reuse, the corpus would be scanned and span-hashed twice.
    val d = core.Tables.documents(spark, sf("sf0.001"))
    val res = Dedup.repeatedSpans(d, "doc_id", "text", spanChars = 50, stride = 25)
    res.collect() // drive to the final adaptive plan
    val fin = res.queryExecution.executedPlan.toString
    assert(fin.contains("isFinalPlan=true"), fin)
    assert(fin.contains("ReusedExchange") || fin.contains("ReusedQueryStage"),
      s"the (h,id) aggregate stage was not reused:\n$fin")
  }

  test("native word shingles ≡ composable form (edge cases + corpus), codegen'd") {
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false") // broken doGenCode must throw
    try {
      // empty string, consecutive/leading/trailing spaces (empty tokens),
      // multibyte text, fewer-tokens-than-n, single token
      val tricky = Seq("", " ", "a", "a b", "a  b", " a b ", "a b c d",
        "héllo wörld ünïcode テスト 中文 text", "x " * 50 + "x").toDF("text")
      for (n <- Seq(1, 2, 3, 8)) {
        val both = tricky.select(
          TextFunctions.shingles(col("text"), n).as("native"),
          TextFunctions.shinglesComposable(col("text"), n).as("composable"))
        assert(both.filter(col("native") =!= col("composable")).count() == 0,
          s"n=$n mismatch: ${both.filter(col("native") =!= col("composable"))
            .collect().mkString("; ")}")
      }
      val d = core.Tables.documents(spark, sf("sf0.001"))
      val both = d.select(
        TextFunctions.shingles(col("text"), 3).as("native"),
        TextFunctions.shinglesComposable(col("text"), 3).as("composable"))
      assert(both.filter(col("native") =!= col("composable")).count() == 0)
      // null text propagates null
      val nulls = Seq[(java.lang.Long, String)]((1L, null)).toDF("id", "text")
        .select(TextFunctions.shingles(col("text"), 3).as("s"))
      assert(nulls.filter(col("s").isNull).count() == 1)
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("Par.widen: repartitions narrow file scans; leaves shuffled and cached inputs alone") {
    def shuffles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        .linesIterator.count(_.matches("""\(\d+\) Exchange.*"""))
    val d = core.Tables.documents(spark, sf("sf0.001")) // one file split < 4 cores
    assert(shuffles(core.Par.widen(d)) == shuffles(d) + 1, "narrow scan must widen")
    // an upstream shuffle already spread the data — widen must be identity
    val agged = d.groupBy("lang").count()
    assert(core.Par.widen(agged) eq agged, "post-shuffle input must not re-shuffle")
    // a cached relation's layout is whatever was cached — don't re-shuffle it
    val cached = d.repartition(8).cache()
    try {
      cached.count()
      assert(shuffles(core.Par.widen(cached)) == shuffles(cached),
        "cached input must not gain a repartition")
    } finally cached.unpersist()
  }

  test("Par.widen: v2 and RDD-backed leaves report real width — wide inputs never shrink") {
    def shuffles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        .linesIterator.count(_.matches("""\(\d+\) Exchange.*"""))
    val target = spark.sparkContext.defaultParallelism
    // an already-wide RDD-backed DataFrame (e.g. bindColumns output): the
    // ExternalRDDScanExec leaf carries its true partition count — widen must
    // NOT round-robin (= shrink to defaultParallelism) a wider-than-target input
    val wideRdd = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq.tabulate(64)(i => org.apache.spark.sql.Row(i.toLong)), target + 8),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType))))
    assert(shuffles(core.Par.widen(wideRdd)) == shuffles(wideRdd),
      "wide RDD-backed input must not be re-shuffled")
    // the same file under the V2 read path (BatchScanExec leaf): a narrow
    // scan still widens — the v2 leaf's split count is read, not assumed
    val prev = spark.conf.get("spark.sql.sources.useV1SourceList")
    try {
      spark.conf.set("spark.sql.sources.useV1SourceList", "")
      val v2 = core.Tables.documents(spark, sf("sf0.001"))
      val leaves = v2.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.inputPlan.collectLeaves()
        case p => p.collectLeaves()
      }
      assert(leaves.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.datasources.v2.BatchScanExec]),
        s"expected a v2 BatchScanExec leaf, got: $leaves")
      assert(shuffles(core.Par.widen(v2)) == shuffles(v2) + 1,
        "narrow v2 scan must widen")
    } finally spark.conf.set("spark.sql.sources.useV1SourceList", prev)
  }

  test("packSequences: exact concat-and-cut assignment, budget invariants") {
    val data = Seq((1L, "a b c"), (2L, "d e"), (3L, "f g h i"), (4L, "j"))
    val got = Chunking.packSequences(data.toDF("doc_id", "text"), "doc_id", "text",
        budget = 4)
      .orderBy("bin", "bin_offset")
      .select("doc_id", "n_tokens", "bin", "bin_offset")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // independent walk: md5 order, running offset, integer cut
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val counts = data.map { case (id, t) => id -> t.split(" ").length.toLong }.toMap
    var off = 0L
    val want = data.map(_._1).sortBy(id => (m(id.toString), id)).map { id =>
      val start = off; off += counts(id)
      (id, counts(id), start / 4, start % 4)
    }.sortBy(r => (r._3, r._4))
    assert(got == want)
    assert(got.forall(r => r._4 >= 0 && r._4 < 4), "bin_offset must lie inside the budget")
    assert(got.map(_._2).sum == counts.values.sum, "token mass conserved")
    // sharded form: each shard packs independently from offset 0
    val sharded = Chunking.packSequences(
      data.map { case (id, t) => (id, if (id % 2 == 0) "even" else "odd", t) }
        .toDF("doc_id", "shard", "text"),
      "doc_id", "text", budget = 4, shardCols = Seq("shard"))
    val perShardFirst = sharded.groupBy("shard")
      .agg(min(col("bin")).as("b"), min(col("bin") * 4 + col("bin_offset")).as("s"))
      .select("b", "s").as[(Long, Long)].collect().toSeq
    assert(perShardFirst.forall(_ == (0L, 0L)), "every shard starts at bin 0 offset 0")
  }

  test("tokenWindows: overlapping chunks, short tail, zero-shuffle plan") {
    val df = Seq((1L, "a b c d e"), (2L, "x")).toDF("doc_id", "text")
    val got = Chunking.tokenWindows(df, "doc_id", "text", window = 3, stride = 2)
      .orderBy("doc_id", "chunk_id")
      .as[(Long, Long, String, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 0L, "a b c", 3L), (1L, 1L, "c d e", 3L), (1L, 2L, "e", 1L),
      (2L, 0L, "x", 1L)))
    val plan = Chunking.tokenWindows(df, "doc_id", "text", 3, 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
  }

  test("segmentDedup: first occurrence survives, reassembly order, full-dup doc empties") {
    val df = Seq(
      (1L, "a b c d"),   // segs "a b", "c d" — both first occurrences
      (2L, "a b x y"),   // "a b" repeats doc 1 → only "x y" survives
      (3L, "c d"),       // whole doc repeats doc 1's second block → ""
      (4L, "z z z z z z") // within-doc repetition: 3× "z z", one survives
    ).toDF("doc_id", "text")
    val got = ops.Dedup.segmentDedup(df, "doc_id", "text", blockWords = 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 2L, "a b c d"),
      (2L, 2L, 1L, "x y"),
      (3L, 1L, 0L, ""),
      (4L, 3L, 1L, "z z")))
    // short tail block is its own segment, distinct from a full block
    val tail = ops.Dedup.segmentDedup(
      Seq((1L, "p q r"), (2L, "r")).toDF("doc_id", "text"), "doc_id", "text", 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    // doc 1 → "p q" + tail "r"; doc 2's single block "r" repeats the tail
    assert(tail == Seq((1L, 2L, 2L, "p q r"), (2L, 1L, 0L, "")))
  }

  test("pHash60: crop-window semantics, tail-edit invariance, reference parity") {
    def media(rows: Seq[(Long, String)]) =
      graft.multimodal.Multimodal.attachBinary(
        rows.toDF("doc_id", "text"), "doc_id", "text")
    // driver-side reference implementation of the 60-bit signature
    def ref(s: String, crop: Int): Long = {
      val smp = (0 until 60).map(i => s.charAt((crop - 1) * i / 59).toInt)
      val sum = smp.sum
      smp.zipWithIndex.map { case (v, i) => if (v * 60 > sum) 1L << i else 0L }
        .foldLeft(0L)(_ | _)
    }
    val base = (1 to 130).map(i => ('a' + i % 26).toChar).mkString
    val tailEdit = base.take(120) + "#### DIFFERENT TAIL ####"
    val inWindow = "Z" * 40 + base.drop(40) // first 40 bytes replaced
    val rows = Seq((1L, base), (2L, tailEdit), (3L, inWindow), (4L, "short"))
    val got = graft.multimodal.Multimodal.pHash60(media(rows), cropBytes = 120)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    // payload 4 (< 120 bytes) is dropped; tail edits beyond the crop window
    // are invisible (the size-normalization contract), in-window edits not
    assert(got.map(_._1) == Seq(1L, 2L, 3L))
    assert(got(0)._2 == got(1)._2, "tail edit past the crop must not change the hash")
    assert(got(0)._2 != got(2)._2, "in-window edit must change the hash")
    got.foreach { case (id, h) =>
      assert(h == ref(rows.find(_._1 == id).get._2, 120), s"parity for $id")
    }
    // composed near-dup pairs: the shared-crop pair at distance 0
    val pairs = ops.Dedup.simHashPairs(
      graft.multimodal.Multimodal.pHash60(media(rows), 120)
        .select(col("id"), col("phash").as("simhash")), maxDist = 3)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 2L, 0L)))
  }

  // 130 code points each: multi-byte BMP characters, and non-BMP ones (one
  // code point, two Java chars, four UTF-8 bytes)
  private val nonAsciiText = (0 until 130).map(i => "aé中ßz€"(i % 6)).mkString
  private val nonBmpText = (0 until 130).map(i => Seq("😀", "x", "𝄞")(i % 3)).mkString

  test("pHash60 expression ≡ unrolled Column form on the real corpus") {
    val media = graft.multimodal.Multimodal.attachBinary(
      core.Tables.documents(spark, sf("sf0.001")).select("doc_id", "text")
        .union(Seq((-1L, nonAsciiText), (-2L, nonBmpText)).toDF("doc_id", "text")),
      "doc_id", "text")
    for (crop <- Seq(64, 120)) {
      val fast = graft.multimodal.Multimodal.pHash60(media, crop)
        .as[(Long, Long)].collect().toMap
      val slow = graft.multimodal.Multimodal.pHash60Unrolled(media, crop)
        .as[(Long, Long)].collect().toMap
      assert(fast == slow, s"crop=$crop: expression and unrolled form diverge")
      assert(fast.contains(-1L) && fast.contains(-2L) && fast.size > 2)
    }
  }

  test("pHash60Images: REAL ImageIO decode on generated PNGs; text fallback ≡ pHash60") {
    import java.awt.image.BufferedImage
    def png(w: Int, h: Int)(pix: (Int, Int) => Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, pix(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def g(v: Int) = (v << 16) | (v << 8) | v
    val grad = png(20, 12)((x, _) => g(x * 255 / 19))        // horizontal ramp
    val grad2x = png(40, 24)((x, _) => g((x / 2) * 255 / 19)) // its clean 2× upscale
    val inv = png(20, 12)((x, _) => g(255 - x * 255 / 19))   // inverted ramp
    val txt = ("the quick brown fox " * 8).getBytes("UTF-8") // 160 ASCII bytes
    val rows = Seq(1L -> grad, 2L -> grad2x, 3L -> inv, 4L -> txt,
      5L -> "short".getBytes("UTF-8"), 6L -> nonAsciiText.getBytes("UTF-8"),
      7L -> nonBmpText.getBytes("UTF-8"))
    val media = rows.toDF("media_id", "media")
    val got = graft.multimodal.Multimodal.pHash60Images(media, cropBytes = 120)
      .as[(Long, Long)].collect().toMap
    // the sub-crop non-image payload drops; everything else hashes
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 6L, 7L))
    // driver-side reference of the image rule on the decoded fixture
    val ref = graft.multimodal.Multimodal.readImage(grad)
      .map(graft.multimodal.Multimodal.pHashImage).get
    assert(got(1L) == ref, "executor-side pHash must equal the driver-side decode")
    def dist(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // a clean upscale of the same image is a NEAR-dup (grid sampling is the
    // size normalization); the inverted image is far
    assert(dist(got(1L), got(2L)) <= 4,
      s"2x upscale drifted ${dist(got(1L), got(2L))} bits")
    assert(dist(got(1L), got(3L)) >= 20,
      s"inverted image only ${dist(got(1L), got(3L))} bits away")
    // non-image payloads fall back to pHash60's byte rule, bit-for-bit
    val textOnly = graft.multimodal.Multimodal.pHash60(
      Seq(4L -> new String(txt, "UTF-8"), 6L -> nonAsciiText, 7L -> nonBmpText)
        .toDF("doc_id", "text")
        .select(col("doc_id").as("media_id"), encode(col("text"), "UTF-8").as("media")),
      cropBytes = 120).as[(Long, Long)].collect().toMap
    for (id <- Seq(4L, 6L, 7L))
      assert(got(id) == textOnly(id), s"byte fallback must equal the expression path ($id)")
  }

  test("JPEG decoder drift canary: fixed fixture pins pHashImage + features (r16 advice)") {
    // A FIXED JPEG payload (796 bytes, 20×12 gradient, encoded once by the
    // JDK-17 ImageIO writer and embedded as a literal). Lossless formats
    // decode bit-exactly by spec; JPEG's IDCT output may differ across JDK
    // versions/vendors within the codec's tolerance — so the portability
    // claim on the integer pixel math is scoped to lossless formats, and
    // THIS pin exists to make any JPEG decoder drift loud when the JDK
    // changes (the hash/features here were computed by THIS repo's code on
    // the pinned bytes; a failure means re-adjudicate JPEG-derived hashes,
    // not a code bug).
    val b64 =
      "/9j/4AAQSkZJRgABAgAAAQABAAD/2wBDAAgGBgcGBQgHBwcJCQgKDBQNDAsLDBkSEw8UHRofHh0a" +
      "HBwgJC4nICIsIxwcKDcpLDAxNDQ0Hyc5PTgyPC4zNDL/2wBDAQkJCQwLDBgNDRgyIRwhMjIyMjIy" +
      "MjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjL/wAARCAAMABQDASIA" +
      "AhEBAxEB/8QAHwAAAQUBAQEBAQEAAAAAAAAAAAECAwQFBgcICQoL/8QAtRAAAgEDAwIEAwUFBAQA" +
      "AAF9AQIDAAQRBRIhMUEGE1FhByJxFDKBkaEII0KxwRVS0fAkM2JyggkKFhcYGRolJicoKSo0NTY3" +
      "ODk6Q0RFRkdISUpTVFVWV1hZWmNkZWZnaGlqc3R1dnd4eXqDhIWGh4iJipKTlJWWl5iZmqKjpKWm" +
      "p6ipqrKztLW2t7i5usLDxMXGx8jJytLT1NXW19jZ2uHi4+Tl5ufo6erx8vP09fb3+Pn6/8QAHwEA" +
      "AwEBAQEBAQEBAQAAAAAAAAECAwQFBgcICQoL/8QAtREAAgECBAQDBAcFBAQAAQJ3AAECAxEEBSEx" +
      "BhJBUQdhcRMiMoEIFEKRobHBCSMzUvAVYnLRChYkNOEl8RcYGRomJygpKjU2Nzg5OkNERUZHSElK" +
      "U1RVVldYWVpjZGVmZ2hpanN0dXZ3eHl6goOEhYaHiImKkpOUlZaXmJmaoqOkpaanqKmqsrO0tba3" +
      "uLm6wsPExcbHyMnK0tPU1dbX2Nna4uPk5ebn6Onq8vP09fb3+Pn6/9oADAMBAAIRAxEAPwCnbWXg" +
      "jw+g3X0eoT7FdYdOUTlgWx98fICOSQWBwPcZvrrOu30rweHNJg021OBHPNGJbjhs7sH5FyuAVIbH" +
      "OGPBHT+FvCWj/J/o9eXW3xA8Qa9GsS3EemQMiq0enJ5RJDZ3bzlwegOGAwMY5OQDrbm11TT5cav4" +
      "7nsLqfM3kzat9nyGJ5VNwAXIIGAAMYHSis228M6bdRtcXCSTTyuXkkkfczseSSTySTzmigD/2Q=="
    val jpg = java.util.Base64.getDecoder.decode(b64)
    val img = graft.multimodal.Multimodal.readImage(jpg)
    assert(img.isDefined, "JDK ImageIO must decode the pinned JPEG fixture")
    val hash = graft.multimodal.Multimodal.pHashImage(img.get)
    val feats = graft.multimodal.Multimodal.imageFeatures(img.get, 4).toSeq
    assert(hash == 593895574536840128L, s"pinned JPEG pHash drifted: got $hash")
    assert(feats == Seq(0.4482353f, 0.54588234f, 0.50640523f, 0.48686275f),
      s"pinned JPEG features drifted: got $feats")
  }

  test("extractFeatures: PNG payloads use the real decoder, text keeps the stub") {
    import java.awt.image.BufferedImage
    val img = new BufferedImage(32, 8, BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 32; y <- 0 until 8) {
      val v = x * 255 / 31
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val txt = "plain text payload".getBytes("UTF-8")
    val media = Seq(1L -> png, 2L -> txt).toDF("media_id", "media")
    val feats = graft.multimodal.Multimodal.extractFeatures(media, dim = 8)
      .as[(Long, Seq[Float])].collect().toMap
    // image row: per-strip means of a left-to-right ramp increase monotonically
    val f1 = feats(1L)
    assert(f1.length == 8 && f1.sliding(2).forall(p => p(0) < p(1)),
      s"ramp strips must increase: $f1")
    assert(f1 == graft.multimodal.Multimodal.readImage(png)
      .map(graft.multimodal.Multimodal.imageFeatures(_, 8)).get.toSeq)
    // text row: unchanged deterministic stub (the oracle corpus contract)
    assert(feats(2L) == graft.multimodal.Multimodal.decodeStub(txt, 8).toSeq)
  }

  test("readImage magic gate: every JDK-decodable prefix passes, text short-circuits (r18)") {
    import graft.multimodal.Multimodal
    // the gate must be a SUPERSET of what ImageIO can decode: a real PNG
    // still decodes through it...
    val img = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    assert(Multimodal.maybeImage(bos.toByteArray))
    assert(Multimodal.readImage(bos.toByteArray).isDefined)
    // ...and the registered readers' other magics all pass the gate
    assert(Multimodal.maybeImage(Array(0xff, 0xd8, 0xff, 0xe0).map(_.toByte))) // JPEG
    assert(Multimodal.maybeImage("GIF89a".getBytes("US-ASCII")))
    assert(Multimodal.maybeImage("BM  ".getBytes("ISO-8859-1")))
    assert(Multimodal.maybeImage(Array[Byte](0x49, 0x49, 0x2a, 0x00)))  // TIFF LE
    assert(Multimodal.maybeImage(Array[Byte](0x4d, 0x4d, 0x00, 0x2a)))  // TIFF BE
    assert(Multimodal.maybeImage(Array[Byte](0x00, 0x00, 0x20, 0x20)))  // WBMP shape
    // text payloads short-circuit to None without touching ImageIO — the
    // m31 hot path (and readImage(text) was None before the gate too)
    val txt = "plain text payload".getBytes("UTF-8")
    assert(!Multimodal.maybeImage(txt))
    assert(Multimodal.readImage(txt).isEmpty)
    // table-driven hex = the old "%02x" form, byte for byte
    val bytes = Array[Byte](0, 1, 0x7f, -1, -128, 0x42)
    assert(Multimodal.toHex(bytes) == bytes.map("%02x".format(_)).mkString)
    // REGISTRY ⊆ WHITELIST ⊆ PREFIX-TABLE consistency (r19, r18 verdict
    // #7): every whitelist entry must belong to a format family whose
    // magic the prefix table covers — an entry with no prefix (the r18
    // "jpeg 2000"/"jpeg2000" latent bug) would keep gateSafe true while
    // the gate silently stubs that format's decodable payloads. The
    // whitelist is pinned LITERALLY to the families the prefixes above
    // exercise; extending it requires adding the new format's magic to
    // maybeImage and a passing assertion here.
    assert(Multimodal.knownJdkFormats ==
      Set("jpg", "jpeg", "png", "gif", "bmp", "wbmp", "tif", "tiff"))
    // the gate's ARMING invariant, tested behaviorally (r19 review: a hard
    // registry ⊆ whitelist assert would fail CI whenever a test classpath
    // grows an extra ImageIO SPI — a world the production code handles by
    // design): gateSafe must be armed exactly when the live registry is
    // inside the whitelist, and when DISARMED decoding must still work
    // through the full ImageIO probe (slower, never wrong)
    val registry = javax.imageio.ImageIO.getReaderFormatNames
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    assert(Multimodal.gateSafe == registry.subsetOf(Multimodal.knownJdkFormats))
    if (!Multimodal.gateSafe)
      assert(Multimodal.readImage(bos.toByteArray).isDefined) // disarmed-path decode
  }

  test("explainPairs: edit distance, normalized ratio, only listed pairs explained") {
    val docs = Seq(
      (1L, "kitten"), (2L, "sitting"), (3L, "kitten"), (4L, "unrelated")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val r = ops.Dedup.explainPairs(docs, pairs, "doc_id", "text")
      .orderBy("id_a", "id_b")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(r == Seq(
      (1L, 2L, 6L, 7L, 3L, 0.428571), // levenshtein(kitten, sitting) = 3; 3/7
      (1L, 3L, 6L, 6L, 0L, 0.0)))     // exact dup: distance 0
  }

  test("pageRank: driver replay parity, symmetry, mass conservation") {
    // driver-side reference replay of the exact rounding discipline
    def refPr(edges: Seq[(Long, Long)], iters: Int): Map[Long, Double] = {
      def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
      val sym = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      val deg = sym.groupBy(_._1).view.mapValues(_.size).toMap
      val n = deg.size
      var pr: Map[Long, Double] = deg.map { case (k, _) => k -> r6(1.0 / n) }
      for (_ <- 1 to iters) {
        val contrib = pr.map { case (k, v) => k -> r6(v / deg(k)) }
        val sums = sym.groupBy(_._2).view.mapValues(
          _.map(e => BigDecimal(contrib(e._1))).sum).toMap
        pr = deg.map { case (k, _) =>
          k -> r6(0.15 / n + 0.85 * sums.getOrElse(k, BigDecimal(0)).toDouble) }
      }
      pr
    }
    // path 1-2-3 plus a triangle 4-5-6 sharing no nodes
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L), (4L, 6L))
    val got = ops.Graph.pageRank(edges.toDF("a", "b"), "a", "b", iters = 5)
      .as[(Long, Double)].collect().toMap
    assert(got == refPr(edges, 5))
    // symmetric positions get identical ranks; the path's hub outranks its ends
    assert(got(1L) == got(3L))
    assert(got(2L) > got(1L))
    // triangle nodes are all symmetric — equal ranks — and keep init mass
    assert(got(4L) == got(5L) && got(5L) == got(6L))
    // total mass conserved within the 6-dp rounding budget
    assert(math.abs(got.values.sum - 1.0) < 1e-4, s"mass ${got.values.sum}")
  }

  test("Snapshot.diff + diffSummary: classification, unchanged omitted, counts") {
    val a = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("doc_id", "text")
    val b = Seq((2L, "y"), (3L, "zz"), (4L, "w")).toDF("doc_id", "text")
    val d = ops.Snapshot.diff(a, b, "doc_id", md5(col("text")))
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(d == Seq((1L, "removed"), (3L, "changed"), (4L, "added")))
    val s = ops.Snapshot.diffSummary(a, b, "doc_id", md5(col("text")))
      .as[(Long, Long, Long, Long)].collect().head
    assert(s == ((1L, 1L, 1L, 1L)))
    // identical snapshots: empty diff, all-unchanged summary
    assert(ops.Snapshot.diff(a, a, "doc_id", md5(col("text"))).count() == 0L)
  }

  test("frameNearDup: identical videos match on every frame, same-video pairs excluded") {
    val rng = new scala.util.Random(7)
    def randText(n: Int) = (0 until n).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    val shared = randText(300)
    val rows = Seq(
      (1L, shared),                  // video 1 and 2 identical → all 4 frames pair up
      (2L, shared),
      (3L, randText(300)),           // unrelated: no cross matches
      (4L, "z" * 300)                // uniform: its own 4 frames collide — but
                                     // SAME-video pairs must be excluded
    ).toDF("doc_id", "text")
    val media = graft.multimodal.Multimodal.attachBinary(rows, "doc_id", "text")
    val got = graft.multimodal.Multimodal.frameNearDup(media,
        nFrames = 4, frameBytes = 64, maxDist = 0)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 4L)), s"got $got")
  }
}
