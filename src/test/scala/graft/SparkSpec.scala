package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session via
  * getOrCreate; suites run sequentially under sbt's single test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Engine.session("local[4]", 4)
  def sf(dir: String): String = s"/root/testdata/$dir"

  private var testDirs = List.empty[java.io.File]

  /** A fresh, empty directory for the running test, under the JVM's
    * scratch root; it is deleted with everything under it when the test
    * ends, pass or fail. */
  def tempDir(): java.nio.file.Path = {
    val d = java.nio.file.Paths.get(graft.query.Shared.scratchDir("test"))
    testDirs ::= d.toFile
    d
  }

  override def withFixture(test: NoArgTest) =
    try super.withFixture(test)
    finally {
      testDirs.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
      testDirs = Nil
    }
}

/** Reference test fixtures (FIXTURES.md; agnes src/test_utils.rs:9-137).
  * Expected outputs in the suites are lifted from the reference's golden
  * tests (cited per test).
  */
object Fixtures {
  // emp_table — test_utils.rs:10-14
  val emp: Seq[(Long, Long, String)] = Seq(
    (0L, 1L, "Sally"), (2L, 2L, "Jamie"), (5L, 1L, "Bob"), (6L, 1L, "Cara"),
    (8L, 3L, "Louis"), (9L, 4L, "Louise"), (10L, 4L, "Ann"))
  // extra_emp (row-aligned with emp) — test_utils.rs:15-19
  val extraEmp: Seq[(Long, Boolean, Float)] = Seq(
    (-5L, false, 47.3f), (4L, false, 54.1f), (12L, true, 98.3f), (-33L, true, 12.2f),
    (10L, true, -1.2f), (0L, false, 5.4f), (-1L, true, 22.5f))
  // dept_table — test_utils.rs:28-31
  val dept: Seq[(Long, String)] =
    Seq((1L, "Marketing"), (2L, "Sales"), (3L, "Manufacturing"), (4L, "R&D"))
  // salary wide table — view.rs:1171-1511 doc-tests
  val salary: Seq[(Long, Double, Double, Double, Double, Double)] = Seq(
    (0L, 1500d, 1600d, 1700d, 1850d, 2000d),
    (1L, 900d, 920d, 940d, 940d, 970d),
    (2L, 600d, 800d, 900d, 1020d, 1100d))
}
