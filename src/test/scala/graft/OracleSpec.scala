package graft

/** A query's oracle must not depend on which queries ran earlier in the
  * same JVM. The six FromData oracles derive their constants from the dir
  * they are asked for, so no query runs in this suite: each oracle must
  * come out whole, inlining that dir's own constants. */
class OracleSpec extends SparkSpec {

  private def oracleAt(name: String, dir: String): String =
    SparkEntry.specs.find(_.name == name).get.oracleSql(spark, dir).get

  /** Hyperplane bucket terms, `(CASE WHEN … >= 0 THEN 2^p ELSE 0 END)`. */
  private def bucketTerms(sql: String): Int = """>= 0 THEN \d+ ELSE 0 END""".r.findAllIn(sql).size

  /** The exact-double literal form the oracles inline fitted constants in. */
  private def literal(d: Double): String = s"CAST('${java.lang.Double.toString(d)}' AS DOUBLE)"

  for (scale <- Seq("sf0.001", "sf0.01"))
    test(s"FromData oracles at $scale: no query runs first; each inlines the dir's own constants") {
      val dir = sf(scale)
      val sql = Seq("d74_embed_neardup_lsh", "p92_semantic_dedup", "s151_lshpq_auto",
          "s143_pq_recall", "s162_whitening", "s166_whitened_ann")
        .map(q => q -> oracleAt(q, dir)).toMap
      sql.foreach { case (q, text) => assert(!text.contains("error("), q) }
      val e = core.Tables.embeddings(spark, dir)
      val n = e.count()
      val planes = ops.Similarity.autoPlanes(n)
      assert(bucketTerms(sql("d74_embed_neardup_lsh")) == 2 * planes)
      assert(bucketTerms(sql("p92_semantic_dedup")) == 2 * planes)
      assert(bucketTerms(sql("s151_lshpq_auto")) ==
        ops.Similarity.autoServingPlanes(n, k = 10, expand = 4))
      val cbt = ops.Similarity.pqCodebookTrained(e, "vec_id", "embedding",
        m = 8, k = 16, subDim = 8)
      assert(sql("s143_pq_recall").contains(literal(cbt(0)(0)(0))))
      val (mu, _) = ops.Similarity.whitenModel(e, "embedding", dim = 64, k = 8)
      Seq("s162_whitening", "s166_whitened_ann").foreach(q =>
        assert(sql(q).contains(literal(mu(0))), q))
    }

  /** Every line of the `.scala` files under `dir` (recursively) that
    * contains one of `steps`, as `File.scala:line: step`, skipping `skip`. */
  private def offenders(dir: String, steps: Seq[String], skip: String): Seq[String] = {
    val root = new java.io.File(dir)
    def files(d: java.io.File): Seq[java.io.File] = d.listFiles().toSeq.flatMap(f =>
      if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val sources = files(root)
    assert(sources.size > 5, root.getAbsolutePath)
    for {
      f <- sources if f.getName != skip
      (line, i) <- scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8"))(
        _.getLines().toVector).zipWithIndex
      step <- steps if line.contains(step)
    } yield s"${f.getName}:${i + 1}: $step"
  }

  test("near-dup and text oracle steps are written once, in Shared") {
    // the word n-gram list, the recursive component closure, the
    // temperature threshold, the portable tokenizer, the quality score's
    // stopword and closeness terms, the type-1 rank rule and the 6-dp floor
    // (spelled `x * 1e6 + 0.5` or `1e6 / n + 0.5`) each have one DuckDB
    // builder in Shared (ngramsSql, closureCtes, temperatureCtes,
    // tokensSql, stopwordRatioSql, qualitySql, rankIdxSql, floor6Sql); a family file that types one of them again is a second
    // definition to keep in step
    val steps = Seq("t[i] || ' ' || t[i+1]", "reach(node, lbl)", "sqrt(CAST(minn AS DOUBLE) / n)",
      "'[^a-z0-9]+'", "abs(stop - 0.15)", "x = 'the' OR x = 'a'", "CAST(ceil(",
      "+ 0.5) / 1e6")
    val found = offenders("src/main/scala/graft/query", steps, skip = "Shared.scala")
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("the engine's 6-dp floor is written once, in functions.Portable") {
    // either spelling: floor(c * 1e6 + 0.5) or floor(1e6 / n + 0.5)
    val found = offenders("src/main/scala/graft", Seq("lit(1e6) + lit(0.5)", "lit(0.5)) / lit(1e6)"), skip = "Portable.scala")
    assert(found.isEmpty, found.mkString("\n"))
  }
}
