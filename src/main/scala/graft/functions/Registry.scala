package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

private[graft] object Registry {
  /** A Column calling graft's native function `name`, registered in
    * `spark`'s own function registry the first time that session asks for
    * it. Registries are per session (a `newSession()` starts without graft's
    * functions), so the registry is the only memo: no process-global state,
    * and no re-registration, which Spark logs as a WARN each time.
    * Registry-based construction keeps callers on the public Column API. */
  def call(spark: SparkSession, name: String, builder: Seq[Expression] => Expression,
           args: Column*): Column = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, builder, "built-in")
    org.apache.spark.sql.functions.call_function(name, args: _*)
  }
}
