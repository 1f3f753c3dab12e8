package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.{array, col, lit}

import graft.functions._

/** graft's native functions are registered per session, in the session's
  * own function registry. */
class RegistrySpec extends SparkSpec {

  test("a fresh newSession() resolves every graft function") {
    val s = spark.newSession()
    val vec = array(Seq(0.1f, 0.2f, 0.3f, 0.4f).map(lit): _*)
    val toks = array(lit("a"), lit("b"), lit("a"))
    val codebook = Array.tabulate(2, 2, 2)((m, k, d) => (m + k + d).toDouble)
    val cols: Seq[Column] = Seq(
      VectorExpressions.cosineNative(s, vec, vec),
      EntropyExpressions.charEntropy(s, col("text")),
      EntropyExpressions.tokenEntropy(s, toks),
      MinHashExpression.minHash64(s, toks, numHashes = 4),
      TokenCountsExpression.tokenCounts(s, toks),
      PHashExpression.pHash60Native(s, col("text"), cropBytes = 64),
      SimHashExpression.simHash60(s, toks),
      LshExpressions.lshBuckets(s, vec, planes = 4, tables = 2, dim = 4),
      PqExpressions.pqDistTable(s, vec, codebook),
      ShingleExpression.wordShingles(s, col("text"), 2))
    // analysis fails on an unregistered name; pHash of non-image text is null
    val row = s.range(1).select(lit("a b c a").as("text"))
      .select(cols.zipWithIndex.map { case (c, i) => c.as(s"c$i") }: _*).collect().head
    assert(row.length == cols.size, row)
  }

  test("repeated wordShingles calls register the function once") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    val id = FunctionIdentifier("graft_word_shingles_3")
    assert(!registry.functionExists(id))
    ShingleExpression.wordShingles(s, col("text"), 3)
    val first = registry.lookupFunctionBuilder(id)
    assert(first.isDefined)
    ShingleExpression.wordShingles(s, col("text"), 3)
    // a second registration would replace the builder (and log a WARN)
    assert(registry.lookupFunctionBuilder(id).exists(_ eq first.get))
  }
}
