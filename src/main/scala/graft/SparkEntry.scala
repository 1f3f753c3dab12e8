package graft

import graft.query._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract: the full operator inventory (SURVEY.md §2) plus the
  * corpus-pipeline extensions, each as a runnable query with (where SQL can
  * express it) a DuckDB oracle on the same parquet tables.
  *
  * Each query is one [[graft.query.QuerySpec]] (name, builder, oracle,
  * streaming flag) in its family's object under `graft.query`; the maps
  * and the set below are views of that one list.
  */
object SparkEntry {

  /** Every driver query, family by family. */
  val specs: Seq[QuerySpec] = RelationalQueries.specs ++ StatsQueries.specs ++
    DedupQueries.specs ++ SimilarityQueries.specs ++ TextQueries.specs ++
    StreamQueries.specs ++ PipelineQueries.specs

  val queries: Map[String, (SparkSession, String) => DataFrame] = {
    val names = specs.map(_.name)
    require(names.distinct == names, s"duplicate query names: ${names.diff(names.distinct)}")
    specs.map(q => q.name -> q.build).toMap
  }

  /** The fixed-SQL oracles. FromData oracles need a session and a dir
    * ([[QuerySpec.oracleSql]]); rows-only queries have none. */
  val oracleSql: Map[String, String] =
    specs.collect { case QuerySpec(name, _, Sql(text), _) => name -> text }.toMap

  /** The STREAMING family — queries that run a real structured-streaming
    * query (AvailableNow trigger) inside their body, so [[Bench]] can
    * guarantee each a WARM second rep (r17 verdict #2: q96 published a
    * cold single-rep min with 2.7 s of JIT inside it when the deadline fell
    * mid-rep-set — a streaming rep re-pays per-run serde codegen that batch
    * queries don't, so a 1-rep streaming min is a JIT measurement, not a
    * query time). Membership is "body starts a streaming query", nothing
    * else. */
  val streamingQueries: Set[String] = specs.filter(_.streaming).map(_.name).toSet

  /** Flagship query (driver smoke-checks rows > 0 on sf0.001). */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")
}
