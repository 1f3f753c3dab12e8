package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, InterpretedUnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions._

/** Every graft native expression is one Scala kernel: eval calls it, and the
  * generated code is one call to it plus the null handling. So the
  * interpreted path (eval) and the compiled one must agree byte for byte on
  * every input, edge cases included. */
class NativeKernelSpec extends SparkSpec {

  private def ref(i: Int, t: DataType) = BoundReference(i, t, nullable = true)
  private def arr(xs: Any*) = new GenericArrayData(xs.toArray[Any])
  private def strs(xs: String*) = arr(xs.map(x => if (x == null) null else UTF8String.fromString(x)): _*)
  private def floats(xs: java.lang.Float*) = arr(xs.map(x => if (x == null) null else x.floatValue): _*)
  private def rows(vs: Any*) = vs.map(v => InternalRow(v))

  private val nonAscii = (0 until 130).map(i => "aé中ßz€"(i % 6)).mkString
  private val nonBmp = (0 until 130).map(i => Seq("😀", "x", "𝄞")(i % 3)).mkString
  private val texts = rows(Seq(null, "", "a b  c ", "héllo wörld", "𝄞 music 😀 𝄞",
    "the quick brown fox " * 7, nonAscii, nonBmp).map(UTF8String.fromString): _*)
  private val tokens = rows(null, strs(), strs(null, null), strs("a", null, "b", "a"),
    strs("é", "ü", "é", ""), strs("😀", "𝄞", "😀", null))
  private val vectors = rows(null, floats(null, null, null, null), floats(1f, null, -2f, 0.5f),
    floats(0.1f, -0.2f, 0.3f, 0.4f), floats(0f, 0f, 0f, 0f))
  private val positions = rows(null, arr(), arr(null, null), arr(0L, 2L, 64L), arr(1L, 70L),
    arr(3L, null, 127L))
  private val vectorPairs = {
    val vs = vectors.map(_.get(0, ArrayType(FloatType)))
    (for (a <- vs; b <- vs) yield InternalRow(a, b)) :+ InternalRow(floats(), floats()) :+
      InternalRow(floats(1f, 2f), floats(1f, 2f, 3f))
  }

  private lazy val bitset = spark.sparkContext.broadcast(Array(0x5L, -1L))
  private val codebook = Seq.tabulate(8)(i => i * 0.25 - 1.0) // m = 2, kc = 2, subDim = 2

  private lazy val cases: Seq[(Expression, Seq[InternalRow])] = {
    val str = ref(0, StringType)
    val toks = ref(0, ArrayType(StringType))
    val vec = ref(0, ArrayType(FloatType))
    Seq(
      WordShingles(str, 2) -> texts,
      CharEntropy(str) -> texts,
      PHash60Raw(str, 64) -> texts,
      PHash60Raw(str, 120) -> texts,
      TokenEntropy(toks) -> tokens,
      MinHash64(toks, 8) -> tokens,
      MinHash64(toks, 8, bands = 2) -> tokens,
      SimHash60(toks) -> tokens,
      TokenCounts(toks) -> tokens,
      BloomBitsetContains(ref(0, ArrayType(LongType)), bitset) -> positions,
      LshBuckets(vec, planes = 3, tables = 2, dim = 4) -> vectors,
      PqDistTable(vec, codebook, m = 2, kc = 2) -> vectors,
      CosineSimilarity(vec, ref(1, ArrayType(FloatType))) -> vectorPairs)
  }

  test("the table covers all 11 native expressions") {
    assert(cases.map(_._1.getClass).distinct.size == 11)
  }

  test("eval ≡ generated code on every native, edge inputs included") {
    for ((e, in) <- cases) {
      val interpreted = InterpretedUnsafeProjection.createProjection(Seq(e))
      val compiled = GenerateUnsafeProjection.generate(Seq(e))
      in.foreach { r =>
        val (a, b) = (interpreted(r).copy(), compiled(r).copy())
        assert(a == b, s"$e on $r: eval ${a.toString} != codegen ${b.toString}")
      }
    }
  }

  test("every doGenCode is one kernel call: no loop in the generated source") {
    for ((e, _) <- cases) {
      val code = e.genCode(new CodegenContext).code.toString
      assert("graft\\.functions\\.".r.findAllIn(code).size == 1, s"$e:\n$code")
      assert(!code.contains("for (") && !code.contains("while ("), s"$e:\n$code")
    }
  }

  test("an LSH or PQ dimension mismatch raises on both paths") {
    val vec = ref(0, ArrayType(FloatType))
    for (e <- Seq(LshBuckets(vec, 3, 2, 4), PqDistTable(vec, codebook, 2, 2));
         eval <- Seq(InterpretedUnsafeProjection.createProjection(Seq(e)),
           GenerateUnsafeProjection.generate(Seq(e)));
         bad <- Seq(floats(0.1f, 0.2f, 0.3f), floats())) {
      val err = intercept[IllegalArgumentException](eval(InternalRow(bad)))
      assert(err.getMessage.contains(s"vector length ${bad.numElements()}"), err.getMessage)
    }
  }
}
