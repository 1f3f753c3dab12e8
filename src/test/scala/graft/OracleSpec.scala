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
}
