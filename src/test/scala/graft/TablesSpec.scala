package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.ParquetUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.Tables

/** `Tables` reads each table's schema from its parquet footer on the
  * driver: the schema equals Spark's inference, and a table read starts no
  * Spark job. */
class TablesSpec extends SparkSpec {

  private val names = Seq("lineitem", "orders", "customer", "supplier", "part",
    "nation", "region", "events", "documents", "embeddings")

  /** The schema Spark's own inference job computes for `path`, before the
    * file source makes it nullable: the same footer choice over the same
    * file listing. */
  private def inferred(path: String): StructType = {
    val files = new InMemoryFileIndex(spark, Seq(new Path(path)), Map.empty, None).allFiles()
    ParquetUtils.inferSchema(spark, Map.empty, files).get
  }

  /** Spark jobs started while `body` runs, counted once the bus drains. */
  private def jobsDuring[T](body: => T): (T, Long) = {
    val n = new AtomicLong
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    val sc = spark.sparkContext
    ListenerBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      ListenerBus.drain(sc)
      (out, n.get)
    } finally sc.removeSparkListener(l)
  }

  for (scale <- Seq("sf0.001", "sf0.01", "sf0.1"))
    test(s"every $scale table reads with the schema Spark infers") {
      val dir = sf(scale)
      names.foreach { name =>
        val path = s"$dir/$name.parquet"
        val plain = spark.read.parquet(path)
        // the stream queries take this schema where they took `plain.schema`
        assert(Tables.schemaOf(spark, path) == inferred(path), name)
        assert(Tables.schemaOf(spark, path) == plain.schema, name)
        val want = if (name == "events") Tables.normalizeEventTs(plain) else plain
        assert(Tables.table(spark, dir, name).schema == want.schema, name)
      }
    }

  for (scale <- Seq("sf0.001", "sf0.01"))
    test(s"rowsOf counts every $scale table from its footers and starts no job") {
      val dir = sf(scale)
      names.foreach { name =>
        val path = s"$dir/$name.parquet"
        val (rows, jobs) = jobsDuring(Tables.rowsOf(spark, path))
        assert(jobs == 0, s"$name: $jobs jobs while its rows were counted")
        assert(rows == spark.read.parquet(path).count(), name)
      }
    }

  test("schemaOf reads Spark's row metadata: decimal, non-nullable, nested struct, timestamp") {
    val path = tempDir().resolve("t.parquet").toString
    spark.range(20).select(
        col("id"), // non-nullable
        (col("id") / 7).cast("decimal(12,3)").as("dec"),
        struct(col("id").as("a"), struct(lit("x").as("c")).as("b")).as("nested"),
        timestamp_micros(col("id") * 1000000L).as("ts"),
        expr("cast(timestamp_micros(id) as timestamp_ntz)").as("ntz"),
        array(col("id")).as("arr"))
      .coalesce(1).write.parquet(path)
    val got = Tables.schemaOf(spark, path)
    assert(got == inferred(path))
    assert(!got("id").nullable && got("nested").dataType.isInstanceOf[StructType], got.treeString)
    assert(spark.read.schema(got).parquet(path).schema == spark.read.parquet(path).schema)
    assert(spark.read.schema(got).parquet(path).collect().toSeq ==
      spark.read.parquet(path).collect().toSeq)
  }

  test("a two-part directory reads through its first data file in path order, as inference does") {
    val root = tempDir()
    def write(df: DataFrame, sub: String): java.io.File = {
      val d = root.resolve(sub).toString
      df.coalesce(1).write.parquet(d)
      new java.io.File(d).listFiles().filter(_.getName.startsWith("part-")).head
    }
    // the two parts differ, so a read of the wrong file shows
    val narrow = write(spark.range(5).toDF("x"), "a")
    val wide = write(spark.range(5).select(col("id").as("x"), lit("y").as("y")), "b")
    val dir = root.resolve("t").toFile
    dir.mkdir()
    java.nio.file.Files.copy(wide.toPath, dir.toPath.resolve("part-00000.parquet"))
    java.nio.file.Files.copy(narrow.toPath, dir.toPath.resolve("part-00001.parquet"))
    java.nio.file.Files.createFile(dir.toPath.resolve("_SUCCESS"))
    val got = Tables.schemaOf(spark, dir.toString)
    assert(got.fieldNames.toSeq == Seq("x", "y"))
    assert(got == inferred(dir.toString))
    assert(Tables.rowsOf(spark, dir.toString) == 10) // both parts
  }

  test("a table read starts no Spark job") {
    val dir = sf("sf0.001")
    names.foreach { name =>
      val (df, jobs) = jobsDuring(Tables.table(spark, dir, name))
      assert(jobs == 0, s"$name: $jobs jobs while the read was built")
      assert(df.columns.nonEmpty)
    }
  }

  test("q125 still answers from footer statistics through Tables (PushedAggregation)") {
    val agg = SparkEntry.queries("q125_agg_pushdown")(spark, sf("sf0.001"))
    val fmt = agg.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(fmt.contains("PushedAggregation: [COUNT(*)"), s"aggregate must reach the scan:\n$fmt")
  }

  test("no query source reads a driver table outside Tables") {
    val root = new java.io.File("src/main/scala/graft")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    val engine = new java.io.File(root, "core/Engine.scala").getCanonicalFile
    val sources = files(root).filter(_.getName.endsWith(".scala"))
    assert(sources.exists(_.getPath.contains("/query/")), root.getAbsolutePath)
    val offenders = for {
      f <- sources if f.getCanonicalFile != engine
      (line, i) <- scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8"))(
        _.getLines().toVector).zipWithIndex
      if line.contains("parquet(s\"$dir/")
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
