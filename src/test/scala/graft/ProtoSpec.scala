package graft

import graft.io.Proto
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Protobuf wire-format codec (io/Proto.scala — reference FUTURE.md
  * "Serialization formats"): golden bytes against the PUBLIC spec's own
  * canonical examples, presence/NULL semantics, forward-compat unknown
  * field skipping, and the distributed roundtrip the q161 driver row
  * gates. */
class ProtoSpec extends SparkSpec {
  import spark.implicits._

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString(" ")

  test("golden wire bytes: the protobuf spec's canonical examples") {
    // https://protobuf.dev/programming-guides/encoding/ : a message with
    // field 1 (int) = 150 encodes to `08 96 01`
    val s1 = StructType(Seq(StructField("a", LongType)))
    assert(hex(Proto.encodeRow(Row(150L), s1)) == "08 96 01")
    // field 2 (string) = "testing" encodes to `12 07 74 65 73 74 69 6e 67`
    val s2 = StructType(Seq(StructField("a", LongType), StructField("b", StringType)))
    assert(hex(Proto.encodeRow(Row(null, "testing"), s2)) ==
      "12 07 74 65 73 74 69 6e 67")
    // varint edge: -1 as int64 is ten 0xff… bytes ending 01
    assert(hex(Proto.encodeRow(Row(-1L), s1)) ==
      "08 ff ff ff ff ff ff ff ff ff 01")
    // fixed64 double: 1.0 = IEEE bits 3ff0… little-endian
    val s3 = StructType(Seq(StructField("d", DoubleType)))
    assert(hex(Proto.encodeRow(Row(1.0), s3)) == "09 00 00 00 00 00 00 f0 3f")
  }

  test("record codec: decode(encode(row)) == row incl. NULL presence; all types") {
    val schema = StructType(Seq(
      StructField("l", LongType), StructField("i", IntegerType),
      StructField("b", BooleanType), StructField("d", DoubleType),
      StructField("f", FloatType), StructField("s", StringType),
      StructField("y", BinaryType)))
    val rows = Seq(
      Row(42L, -7, true, -2.5, 1.25f, "héllo\nworld", Array[Byte](0, -1, 127)),
      Row(null, null, null, null, null, null, null),
      Row(Long.MinValue, Int.MaxValue, false, Double.NaN, 0f, "", Array.empty[Byte]))
    rows.foreach { r =>
      val back = Proto.decodeRecord(Proto.encodeRow(r, schema), schema)
      (0 until schema.length).foreach { i =>
        (r.get(i), back.get(i)) match {
          case (a: Array[Byte], b: Array[Byte]) => assert(a.sameElements(b))
          case (a: java.lang.Double, b: java.lang.Double) =>
            assert(a.isNaN == b.isNaN && (a.isNaN || a == b))
          case (a, b) => assert(a == b, s"col $i: $a != $b")
        }
      }
    }
  }

  test("forward compat: unknown field numbers are skipped by wire type") {
    // encode under a WIDER schema, decode under a narrower one (field 2 of
    // each wire class becomes unknown) — the spec's compatibility rule
    val wide = StructType(Seq(
      StructField("a", LongType), StructField("x1", StringType),
      StructField("x2", DoubleType), StructField("x3", LongType),
      StructField("x4", FloatType), StructField("z", StringType)))
    val rec = Proto.encodeRow(Row(9L, "drop", 3.5, 11L, 2f, "keep"), wide)
    // a TWO-field reader: field 1 known, fields 2-5 (one per wire class)
    // unknown and skipped by their wire types, field 6 read from beyond them
    val narrow = StructType(Seq(StructField("a", LongType)))
    val back1 = Proto.decodeRecord(rec, narrow)
    assert(back1.getLong(0) == 9L)
    val full = Proto.decodeRecord(rec, wide)
    assert(full.getLong(0) == 9L && full.getString(5) == "keep" &&
      full.getDouble(2) == 3.5)
  }

  test("framing: length-delimited stream roundtrips record boundaries") {
    val recs = Seq(Array[Byte](1, 2, 3), Array.empty[Byte], Array[Byte](-128, 127))
    val framed = Proto.frame(recs.iterator)
    val back = Proto.unframe(framed).toSeq
    assert(back.length == 3 && back.zip(recs).forall { case (a, b) => a.sameElements(b) })
  }

  test("distributed roundtrip: writeProto/readProto over the real corpus slice") {
    val dir = sf("sf0.001")
    val src = core.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderpriority"))
    val tmp = tempDir().toString
    Proto.writeProto(src.repartition(4), tmp)
    assert(new java.io.File(s"$tmp/_SUCCESS").exists(), "_SUCCESS marker")
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType), StructField("o_orderpriority", StringType)))
    val back = Proto.readProto(spark, tmp, schema)
    assert(back.count() == src.count())
    // exact content equality, both directions
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
    // reader parallelism = file count (4 non-empty write partitions)
    assert(back.rdd.getNumPartitions >= 1)
    // the task-commit protocol leaves no attempt temp files behind
    assert(!new java.io.File(tmp).listFiles().exists(_.getName.endsWith(".tmp")))
    // an UNCOMMITTED layout (no _SUCCESS) must fail loudly, not return
    // a silently truncated dataset
    assert(new java.io.File(s"$tmp/_SUCCESS").delete())
    val ex = intercept[IllegalArgumentException] {
      Proto.readProto(spark, tmp, schema)
    }
    assert(ex.getMessage.contains("_SUCCESS"))
  }

  test("q161 driver row: spark result matches the parquet-born slice") {
    val dir = sf("sf0.001")
    val got = SparkEntry.queries("q161_proto_roundtrip")(spark, dir)
    val want = core.Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderpriority"))
      .orderBy(col("o_orderkey"))
    assert(got.collect().toSeq == want.collect().toSeq)
  }
}
