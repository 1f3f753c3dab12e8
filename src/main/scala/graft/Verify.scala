package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry spec's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // dev convenience (driver passes exactly 2 args): an optional 3rd arg
    // comma-list restricts the dump for fast single-query oracle iteration
    val only = args.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the library's own session factory (r16): previously a hand-rolled
    // builder that duplicated Engine's confs MINUS the newer ones — it
    // missed spark.sql.artifact.isolation.enabled=false, so the driver's
    // correctness runs re-paid the full streaming codegen-cache loss the
    // JIT fix removed. One factory, one configuration.
    val spark = core.Engine.session(s"local[$cpus]", cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // coalesce(1) gives the driver one tidy file per query, and at the
    // driver's sf0.01 it is free. But coalesce inserts NO exchange — it
    // narrows the query's ENTIRE final stage to one task, single-threading
    // a heavy query's whole compute. For local cross-scale hardening runs
    // (sf0.1: ~10× the data) set SPARK_GRAFT_VERIFY_NO_COALESCE=1 to write
    // the query's natural (range-partitioned, globally sorted) output:
    // part files carry disjoint ascending key ranges in filename order, so
    // an order-preserving sorted-glob read (DuckDB default) sees the same
    // row order the single file would have. The driver path is unchanged.
    val noCoalesce = sys.env.get("SPARK_GRAFT_VERIFY_NO_COALESCE").contains("1")
    val ran = SparkEntry.specs.filter(q => only.forall(_.contains(q.name)))
    ran.foreach { q =>
      try {
        val res = q.build(spark, sfDir)
        (if (noCoalesce) res else res.coalesce(1))
          .write.mode("overwrite").parquet(s"$outDir/${q.name}")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
      finally spark.catalog.clearCache() // drop operator-internal persists
    }
    // the oracles of the queries this run attempted, each at this run's dir
    // (a FromData oracle refits its constants from the tables here); a
    // query that failed above keeps its key, so the check reports it
    val json = ran.flatMap { q =>
      val sql = try q.oracleSql(spark, sfDir) catch { case e: Exception =>
        System.err.println(s"[verify] ${q.name} oracle failed: ${e.getMessage}")
        Some("SELECT error('oracle generation failed; see the Verify log')")
      }
      sql.map(v => s"${BenchUtil.jstr(q.name)}: ${BenchUtil.jstr(v)}")
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
