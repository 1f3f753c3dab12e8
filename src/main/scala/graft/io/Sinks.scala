package graft.io

import org.apache.spark.sql.DataFrame

/** Output sinks mirroring the reference's serialization surface
  * (SURVEY.md §2.1):
  *  - serde JSON serialization (agnes src/view.rs:1093-1146: DataView → map
  *    of label → value array, NA → null)
  *  - pretty-print Display (src/view.rs:472-529, truncated at 1000 rows)
  * plus the distributed JSON/parquet writers the reference lacks.
  */
object Sinks {

  /** Column-oriented JSON, the reference's serde shape: one key per column,
    * values in row order, NULL → null. Collects to the driver — a
    * display/interchange sink for SMALL results (the reference is
    * driver-only by construction); big outputs go through [[writeJson]].
    * NOT a production export path: the `maxRows` cap bounds the driver
    * collect for its test-oracle/display purpose — a corpus-sized export
    * must use the distributed writers below. */
  def toColumnarJson(df: DataFrame, maxRows: Int = 100000): String = {
    val rows = df.limit(maxRows).collect()
    val cols = df.columns
    def jval(v: Any): String = v match {
      case null => "null"
      case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
      case b: Array[Byte] => jval(java.util.Base64.getEncoder.encodeToString(b))
      case x => x.toString
    }
    cols.zipWithIndex.map { case (c, i) =>
      rows.map(r => jval(r.get(i))).mkString(s"${jval(c)}: [", ",", "]")
    }.mkString("{", ",", "}")
  }

  /** Row-oriented JSON-lines writer (distributed). */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Display sink (reference MAX_DISP_ROWS=1000, view.rs:472). */
  def show(df: DataFrame, n: Int = 1000): Unit = df.show(n, truncate = false)

  /** Compacted parquet write: bounds the output to ceil(rows/targetRows)
    * files. The small-files problem is the classic 100 TB sink failure —
    * a shuffle-heavy job ending in 200k tiny files makes every downstream
    * scan pay 200k file-open round-trips; compaction trades ONE extra
    * round-robin exchange for a bounded file count. Returns the file count.
    *
    * (Row count as the size proxy keeps the op deterministic; a byte-based
    * target would need sampled row widths — same shape, fuzzier bound.) */
  def writeCompacted(df: DataFrame, path: String, targetRows: Long): Int = {
    require(targetRows > 0, s"targetRows=$targetRows must be positive")
    // staged: the count and the write are two actions — without a persist
    // an expensive upstream pipeline would execute twice (spilling
    // MEMORY_AND_DISK keeps this safe when the stage exceeds memory)
    val staged = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = staged.count()
      val files = math.max(1, ((n + targetRows - 1) / targetRows).toInt)
      staged.repartition(files).write.mode("overwrite").parquet(path)
      files
    } finally staged.unpersist()
  }
}
