package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How a driver query's output is checked: DuckDB SQL over the same
  * parquet tables, or rows only. */
sealed trait Oracle

/** A fixed DuckDB query. */
final case class Sql(text: String) extends Oracle

/** DuckDB SQL that inlines constants the builder derives from the data at
  * `dir` (a plane count, a trained codebook, a whitening fit). The function
  * recomputes them through the same helper the builder calls, so the SQL
  * depends only on the dir, never on which queries ran before. */
final case class FromData(text: (SparkSession, String) => String) extends Oracle

/** No SQL replay; `reason` names the spec that bounds the output. */
final case class RowsOnly(reason: String) extends Oracle

/** One driver query: its name, its builder over a session and a table dir,
  * its oracle, and whether the builder runs a structured-streaming query. */
final case class QuerySpec(name: String, build: (SparkSession, String) => DataFrame,
                           oracle: Oracle, streaming: Boolean = false) {
  /** The oracle SQL for this query's output at `dir`; None when rows-only. */
  def oracleSql(spark: SparkSession, dir: String): Option[String] = oracle match {
    case Sql(text) => Some(text)
    case FromData(text) => Some(text(spark, dir))
    case RowsOnly(_) => None
  }
}
