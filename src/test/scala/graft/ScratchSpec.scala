package graft

/** The scratch rule of `graft.query.Shared`: every file a query builder
  * writes lives under the JVM's one `graft_scratch*` root. Per-call
  * round-trips, per-JVM layouts and streaming checkpoints add no other
  * `graft*` entry to `java.io.tmpdir` and nothing to the working
  * directory's `spark-warehouse`, and a second call returns the rows of
  * the first. */
class ScratchSpec extends SparkSpec {

  private def entries(dir: String, prefix: String): Set[String] =
    Option(new java.io.File(dir).list()).toSeq.flatten.filter(_.startsWith(prefix)).toSet

  private def rows(query: String): Seq[org.apache.spark.sql.Row] =
    SparkEntry.queries(query)(spark, sf("sf0.001")).collect().toSeq

  test("round-trips and layouts write only under the scratch root; a rerun returns equal rows") {
    val tmp = System.getProperty("java.io.tmpdir")
    val (tmpBefore, annBefore) = (entries(tmp, "graft"), entries("spark-warehouse", "graft_ann_"))
    for (q <- Seq("q20_csv_roundtrip", "q60_json_roundtrip", "q64_orc_roundtrip",
                  "q77_schema_merge", "q83_compacted_write", "q78_partition_prune",
                  "s148_ann_partitioned", "p72_stream_pipeline")) {
      val first = rows(q)
      assert(first.nonEmpty, q)
      assert(rows(q) == first, s"$q: the second call returned other rows")
    }
    // another JVM may add its own root meanwhile, so any root is allowed
    val added = entries(tmp, "graft") -- tmpBefore
    assert(added.forall(_.startsWith("graft_scratch")),
      s"query builders wrote outside the scratch root: $added")
    assert(entries("spark-warehouse", "graft_ann_") -- annBefore == Set.empty,
      "s148 wrote its index into the working directory's spark-warehouse")
  }

  test("q68 twice: each run starts from a fresh checkpoint and returns equal rows") {
    val first = rows("q68_stream_dedup")
    assert(first.nonEmpty)
    assert(rows("q68_stream_dedup") == first)
  }
}
