package graft

import graft.io.{Csv, CsvDialect, Sinks}
import java.nio.file.{Files, Path}

/** CSV sniffing + load semantics (agnes src/source/csv.rs; integration
  * expectations from tests/csv.rs: preamble detection, empty-cell→NA,
  * parse-failure behavior). */
class CsvSpec extends SparkSpec {

  private def tmpCsv(content: String): String = {
    val p: Path = tempDir().resolve("t.csv")
    Files.writeString(p, content)
    p.toString
  }

  test("sniff: plain header csv (tests/csv.rs:16-36 no-preamble case)") {
    val p = tmpCsv("state,val1,val2\nOH,4,5.5\nPA,54,16.2\n")
    val d = Csv.sniff(p)
    assert(d == CsvDialect(',', 0, header = true))
  }

  test("sniff: preamble lines detected (tests/csv.rs:41-60, gdp.csv has 4)") {
    val p = tmpCsv(
      "Data Source;World Bank\nLast Updated;2017\n\n\n" +
        "\"Country\",\"Code\",\"y1960\",\"y1961\"\n" +
        "Aruba,ABW,,\nAndorra,AND,1.0,2.0\n")
    val d = Csv.sniff(p)
    assert(d.preamble == 4 && d.delimiter == ',' && d.header)
  }

  test("sniff: semicolon delimiter") {
    val p = tmpCsv("a;b;c\n1;2;3\n4;5;6\n")
    assert(Csv.sniff(p).delimiter == ';')
  }

  test("load: empty cells become NULL (csv.rs:159-169 Value::Na)") {
    val p = tmpCsv("state,val1,val2\nOH,4,5.5\nPA,,16.2\n")
    val df = Csv.load(spark, p)
    val pa = df.filter(df("state") === "PA").collect().head
    assert(pa.isNullAt(1))
    assert(df.schema("val1").dataType.typeName == "integer" ||
      df.schema("val1").dataType.typeName == "long")
  }

  test("load with preamble skip: distributed body parse") {
    val p = tmpCsv("junk preamble\nmore junk\nstate,val1\nOH,4\nPA,54\n")
    val df = Csv.load(spark, p)
    assert(df.count() == 2 && df.columns.toSeq == Seq("state", "val1"))
  }

  test("failFast mode rejects unparseable non-empty cells (csv.rs:163-168)") {
    val p = tmpCsv("state,val1\nOH,4\nPA,notanumber\n")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("state", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("val1", org.apache.spark.sql.types.IntegerType)))
    val strict = Csv.load(spark, p, dialect = Some(CsvDialect(',', 0, header = true)),
      schema = Some(schema), failFast = true)
    intercept[org.apache.spark.SparkException] { strict.collect() }
    val lax = Csv.load(spark, p, dialect = Some(CsvDialect(',', 0, header = true)),
      schema = Some(schema), failFast = false)
    assert(lax.collect().count(_.isNullAt(1)) == 1) // permissive: bad cell → NULL
  }

  test("sniff + load through a Hadoop file: URI (filesystem-agnostic sniffing)") {
    // java.nio.Paths.get would choke on a scheme-qualified Hadoop path;
    // the Hadoop FileSystem API resolves it — same code path as s3a/hdfs.
    val p = tmpCsv("junk preamble\nstate;val1\nOH;4\nPA;54\n")
    val hadoopUri = "file:" + p
    val d = Csv.sniff(hadoopUri)
    assert(d == CsvDialect(';', 1, header = true))
    assert(Csv.sniffEncoding(hadoopUri) == "UTF-8")
    val df = Csv.load(spark, hadoopUri)
    assert(df.count() == 2 && df.columns.toSeq == Seq("state", "val1"))
  }

  test("loadFromUri: file:// URI equals direct path load (file_reader_test.rs)") {
    val p = tmpCsv("state,val1\nOH,4\nPA,54\n")
    val direct = Csv.load(spark, p).collect().map(_.toSeq).toSeq
    val viaUri = Csv.loadFromUri(spark, "file://" + p).collect().map(_.toSeq).toSeq
    assert(direct == viaUri)
  }

  test("columnar JSON sink: NA as null, label-keyed arrays (serialize.rs:19-63)") {
    import spark.implicits._
    val df = Seq[(String, java.lang.Long)](("OH", 4L), ("PA", null)).toDF("state", "val1")
    val json = Sinks.toColumnarJson(df.orderBy("state"))
    assert(json == """{"state": ["OH","PA"],"val1": [4,null]}""")
  }

  test("show sink truncates at the reference's 1000-row display cap (view.rs:472)") {
    // the display sink delegates to df.show, but the CONTRACT worth
    // pinning is the reference's MAX_DISP_ROWS=1000 truncation: 1500
    // input rows must print exactly 1000 data rows plus the truncation
    // notice. df.show prints via Predef.println → scala.Console
    val big = spark.range(1500).toDF("id")
    val bos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bos, true, "UTF-8")) {
      Sinks.show(big)
    }
    val out = bos.toString("UTF-8")
    assert(out.contains("only showing top 1000 rows"))
    // pipe-framed lines = 1 header + 1000 data rows
    assert(out.linesIterator.count(_.startsWith("|")) == 1001, "1000 data rows + header")
  }

  test("sniffEncoding fallback chain (decode.rs:9-21)") {
    val utf8 = tmpCsv("a,b\nx,1\n")
    assert(Csv.sniffEncoding(utf8) == "UTF-8")
    val latin = tempDir().resolve("latin.csv")
    Files.write(latin, "a,b\ncaf\u00e9,1\n".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    assert(Csv.sniffEncoding(latin.toString) == "ISO-8859-1")
  }

  test("sniffEncoding: sample boundary splitting a multi-byte char stays UTF-8") {
    // '\u00e9' is 2 bytes in UTF-8; sampleBytes = 4 cuts between its lead and
    // continuation bytes \u2014 without the tail trim the strict decoder fails
    // and a valid UTF-8 file is misdetected as a single-byte charset
    val p = tempDir().resolve("boundary.csv")
    Files.write(p, "abc\u00e9x,1\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(Csv.sniffEncoding(p.toString, sampleBytes = 4) == "UTF-8")
    // a 3-byte char cut after 2 of its bytes
    val p3 = tempDir().resolve("boundary3.csv")
    Files.write(p3, "ab\u20ac,1\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(Csv.sniffEncoding(p3.toString, sampleBytes = 4) == "UTF-8")
    // trim never eats complete content: full-buffer sample of pure ASCII
    val pa = tempDir().resolve("ascii.csv")
    Files.write(pa, "abcd".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    assert(Csv.sniffEncoding(pa.toString, sampleBytes = 4) == "UTF-8")
  }

  test("roundtrip: write then load preserves values") {
    import spark.implicits._
    val df = Seq((1L, "a", 1.5), (2L, "b", -2.25)).toDF("id", "s", "v")
    val dir = tempDir().toString
    Csv.write(df.coalesce(1), dir)
    val back = Csv.load(spark, dir, dialect = Some(CsvDialect(',', 0, header = true)))
    assert(back.orderBy("id").collect().map(_.toSeq).toSeq ==
      df.orderBy("id").collect().map(_.toSeq).toSeq)
  }

  test("dynamic partition overwrite replaces only the rewritten day") {
    import spark.implicits._
    // the idempotent-reprocessing contract q78's layout relies on: re-running
    // one day's job must replace that day's directory and NOTHING else
    // (static overwrite mode would wipe every other partition)
    val dir = tempDir().toString
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      Seq((1L, "2024-01-01"), (2L, "2024-01-02"))
        .toDF("id", "day").write.partitionBy("day").mode("overwrite").parquet(dir)
      Seq((99L, "2024-01-02"))
        .toDF("id", "day").write.partitionBy("day").mode("overwrite").parquet(dir)
      val back = spark.read.parquet(dir).select("id", "day")
        .as[(Long, String)].collect().toSet
      assert(back == Set((1L, "2024-01-01"), (99L, "2024-01-02")),
        s"day 01 must survive, day 02 must be replaced: $back")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  test("writeCompacted: file count bounded to ceil(rows/target), lossless") {
    import spark.implicits._
    val docs = core.Tables.documents(spark, sf("sf0.001")).select("doc_id", "lang")
    val n = docs.count()
    val target = 20L
    val expectFiles = ((n + target - 1) / target).toInt
    val dir = tempDir().toString
    val reported = Sinks.writeCompacted(docs, s"$dir/out", target)
    assert(reported == expectFiles)
    val parts = new java.io.File(s"$dir/out").listFiles
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts == expectFiles, s"expected $expectFiles part files, found $parts")
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() == n)
    assert(back.select("doc_id").as[Long].collect().toSet ==
      docs.select("doc_id").as[Long].collect().toSet)
  }

  test("XML roundtrip: markup-significant chars escape and survive") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val rows = Seq((1L, "a < b & c > d"), (2L, "\"quoted\" 'text'"), (3L, "plain"))
    val dir = tempDir().toString
    rows.toDF("id", "s").coalesce(1).write.mode("overwrite")
      .option("rowTag", "row").format("xml").save(dir)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType)))
    val back = spark.read.schema(schema).option("rowTag", "row")
      .format("xml").load(dir)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(back == rows)
  }

  test("JDBC (embedded Derby): sharded partition-column read equals the table") {
    import spark.implicits._
    val db = tempDir().resolve("db").toString
    val url = s"jdbc:derby:$db;create=true"
    val props = new java.util.Properties
    val df = (1L to 100L).map(i => (i, s"n$i", i * 1.5)).toDF("id", "name", "v")
    df.write.mode("overwrite").jdbc(url, "T", props)
    // the cluster-scale read shape: 4 bound-sharded partitions over the
    // partition column — each executor issues its own ranged query
    val sharded = spark.read.jdbc(url, "T", "id", 1L, 100L, 4, props)
    assert(sharded.rdd.getNumPartitions == 4)
    assert(sharded.orderBy("id").as[(Long, String, Double)].collect().toSeq ==
      df.orderBy("id").as[(Long, String, Double)].collect().toSeq)
  }
}
