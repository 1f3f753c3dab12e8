package graft.query

import graft.core.Tables
import graft.ops.Dedup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers the query families share: table access, the exact-cents sums,
  * the memoized child sessions and round-trip dirs, the pair-graph
  * builders, the stopword list, the frozen BPE merges and the PSI oracle
  * that p174 and q175 both replay. Every family imports this object, and
  * it reads no family.
  *
  * Numeric-parity convention: every SUM/AVG over double columns goes through
  * DECIMAL(18,2) (exact cents, order-independent) and back to double, so the
  * result is bit-identical between Spark and the oracle regardless of
  * aggregation order. Std-dev is derived from the exact decimal sums via the
  * sum-of-squares formula — the same formula the reference uses
  * (agnes src/stats.rs:139-161).
  */
object Shared {

  private[query] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** Exact long cents of a 2-dp double. The true value is an integer k of
    * cents, the double is within ±ε of k/100, and floor(k + 0.5 ± ε) = k for
    * either sign — so this recovers k exactly with codegen'd double/long ops,
    * no per-row BigDecimal. (Spark's decimal sum BigDecimal-adds EVERY row:
    * measured 7× slower than a long sum at sf0.1.) */
  private[query] def cents(c: Column): Column = floor(c * 100 + lit(0.5))

  /** Exact decimal sum of a 2-dp double column, back to double: a long sum
    * of cents, reconstructed in decimal once per GROUP (the /100 happens at
    * decimal scale ≥ 6, so the double cast sees the exact rational). Bit
    * identical to sum(cast(c as decimal(18,2))) for any |sum| < 10^36 cents. */
  private[query] def dsum(c: Column): Column =
    (sum(cents(c)).cast("decimal(38,0)") / lit(100)).cast("double")

  /** Exact decimal sum of a product of two 2-dp columns. The per-row cents
    * product (|c²| < 2^53 for per-row values ≤ ~$949k, far beyond the data)
    * is split base-10^5 into three long part-sums — each fits a long out to
    * ~9·10^13 rows — and the exact cents² total is rebuilt in decimal once
    * per group. The splits are exact: (c2 - c2%10^10) and (c2%10^10 - c2%10^5)
    * are multiples of their divisor below 2^53, so the double divisions are
    * exact integers; truncated %'s make the three parts sum to c2 for either
    * sign. Decimal division keeps ≥ 6 fractional digits → /10^4 is exact
    * before the final double cast — bit identical to the decimal formulation. */
  private[query] def dsum2(a: Column, b: Column): Column = {
    val c2   = cents(a) * cents(b)
    val lo   = c2 % 100000L
    val midr = c2 % 10000000000L
    val mid  = ((midr - lo).cast("double") / 100000.0).cast("long")
    val hi   = ((c2 - midr).cast("double") / 1.0e10).cast("long")
    ((sum(hi).cast("decimal(38,0)") * lit(10000000000L) +
      sum(mid).cast("decimal(38,0)") * lit(100000L) +
      sum(lo).cast("decimal(38,0)")) / lit(10000)).cast("double")
  }

  /** Long-lived scoped child sessions, ONE per (SparkContext, conf
    * profile) — round 16, the structural fix for the streaming-family
    * JIT incidents (q94 r13/r15, d22 r10, s131/q127 r14). Spark 4's
    * codegen cache is keyed by (classloader, generated source), and a
    * fresh `newSession()` carries a fresh session-artifact classloader —
    * so the per-run child sessions these queries used for conf scoping
    * invalidated the ENTIRE codegen cache on every run: a q94 rep
    * re-Janino'd all ~25 of its generated classes (probe: 25
    * compiles/rep, 23 byte-identical to the previous rep's) and re-paid
    * C2 on top, 6.80 s driver vs 2.77 s builder warm at the same HEAD.
    * Memoizing ONE child per conf profile keeps the classloader stable,
    * so rep 2+ hits the cache exactly like every batch query does, while
    * still isolating conf + temp catalog from the root session. Keyed by
    * SparkContext (not the root session object): any root over the same
    * context shares the child, and a restarted context naturally gets a
    * fresh one. */
  private val childSessions =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.SparkContext, String), SparkSession]

  private[query] def childSession(s0: SparkSession, profile: String,
                                  confs: (String, String)*): SparkSession = {
    // purge entries of STOPPED contexts first: a harness that restarts its
    // SparkContext would otherwise pin one dead (context, session) pair per
    // generation forever (r16 review)
    childSessions.keySet.removeIf(_._1.isStopped)
    childSessions.computeIfAbsent((s0.sparkContext, profile), _ => {
      val s = s0.newSession()
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      s
    })
  }

  /** Length:mtime fingerprint of one source parquet under `dir` — the s148
    * data-fingerprint rule, shared by every amortized-layout cache key so
    * a regenerated source file invalidates the derived layout instead of
    * serving it stale (r16 advice). */
  private[query] def tableFingerprint(s: SparkSession, dir: String, table: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val st = p.getFileSystem(s.sparkContext.hadoopConfiguration).getFileStatus(p)
    s"${st.getLen}:${st.getModificationTime}"
  }

  /** One materialized roundtrip layout per (JVM, kind, dir, source
    * fingerprint): `build` runs on first request, later callers reuse the
    * path, and a JVM shutdown hook reclaims the directory — the
    * temp-layout discipline of the source-roundtrip queries (q154 XML,
    * q155 Derby, s158 index append). The key folds the SOURCE table's
    * length:mtime (r16 advice — the s148 rule): a long-lived JVM whose
    * parquet is regenerated under the same dir must rebuild the layout,
    * not serve the stale one and diverge from the fresh oracle. */
  private val roundtripDirs =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), String]

  private[query] def roundtripDir(kind: String, dir: String, fp: String)(build: String => Unit): String =
    roundtripDirs.computeIfAbsent((kind, dir, fp), _ => {
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_$kind").toString
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(new java.io.File(tmp))
      }))
      build(tmp)
      tmp
    })

  /** Simhash near-dup pair graph (d24 semantics), read by d128 and d130. */
  private[query] def simhashPairGraph(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashPairs(Dedup.simHash(t(s, dir, "documents"), "doc_id", "text"),
      maxDist = 3)

  /** 3-gram Jaccard ≥ 0.8 pair graph (d22 semantics, but uncapped: no
    * maxShingleDf). Four consumers: d73 and d173 read it directly, d95
    * and d172 through [[jaccardCcGraph]]. Each builds its own lineage. */
  private[query] def jaccardPairGraph(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.8)
      .select(col("id_a"), col("id_b"))

  /** The component map over [[jaccardPairGraph]] — the same CC d73
    * computes — read by d95 and d172. */
  private[query] def jaccardCcGraph(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(jaccardPairGraph(s, dir), "id_a", "id_b")

  val stopwords: Seq[String] = Seq("the", "a")

  /** The frozen BPE tokenizer artifact: the first 48 merges trained by
    * `Bpe.trainBatched` on the sf0.01 corpus (`graft.Dev bpe-freeze`,
    * 64 merges). Training happens once (t97 covers it);
    * production encodes the full corpus with the PUBLISHED list — which is
    * why t102 applies a constant instead of retraining per run, exactly
    * like running a released tokenizer's merges file. */
  val frozenBpeMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"),
    ("s", "t"), ("m", "er"), ("a", "t"), ("l", "u"),
    ("a", "r"), ("p", "ar"), ("j", "o"), ("jo", "in"),
    ("a", "s"), ("as", "h"), ("h", "ash"), ("r", "ow"),
    ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
    ("c", "an"), ("s", "can"), ("c", "o"), ("c", "u"),
    ("co", "lu"), ("colu", "m"), ("colum", "n"), ("cu", "st"),
    ("cust", "o"), ("custo", "mer"), ("f", "i"), ("fi", "l"),
    ("fil", "t"), ("filt", "er"), ("a", "l"), ("al", "l"),
    ("m", "all"), ("s", "mall"), ("g", "e"), ("l", "ow"),
    ("mer", "ge"), ("s", "low"), ("c", "t"), ("ct", "or"),
    ("d", "er"), ("e", "ctor"), ("or", "der"), ("v", "ector"))

  /** The en-vs-zh document-length PSI replay, shared by p174 (batch)
    * and q175 (streaming current side) — stream ≡ batch is exactly what
    * the same-oracle equality witnesses. */
  private[query] val psiEnZhOracle: String =
    """WITH b AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents WHERE lang = 'en' AND n_chars IS NOT NULL),
        |c AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents WHERE lang = 'zh' AND n_chars IS NOT NULL),
        |rng AS (SELECT min(v) AS mn, max(v) AS mx, (max(v) - min(v)) / 10 AS w FROM b),
        |bb AS (SELECT least(greatest(CAST(floor((v - mn) / w) AS BIGINT), 0), 9) AS bin, count(*) AS n FROM b, rng GROUP BY 1),
        |cb AS (SELECT least(greatest(CAST(floor((v - mn) / w) AS BIGINT), 0), 9) AS bin, count(*) AS n FROM c, rng GROUP BY 1),
        |spine AS (SELECT range AS bin FROM range(10)),
        |j AS (SELECT spine.bin, coalesce(bb.n, 0) AS base_n, coalesce(cb.n, 0) AS cur_n
        |      FROM spine LEFT JOIN bb USING (bin) LEFT JOIN cb USING (bin)),
        |tot AS (SELECT CAST(sum(base_n) AS BIGINT) AS nb, CAST(sum(cur_n) AS BIGINT) AS nc FROM j),
        |t2 AS (SELECT bin, base_n, cur_n,
        |  (base_n + 0.5) / (nb + 0.5 * 10) AS p, (cur_n + 0.5) / (nc + 0.5 * 10) AS q,
        |  CAST((((base_n + 0.5) / (nb + 0.5 * 10)) - ((cur_n + 0.5) / (nc + 0.5 * 10)))
        |    * ln(((base_n + 0.5) / (nb + 0.5 * 10)) / ((cur_n + 0.5) / (nc + 0.5 * 10))) AS DECIMAL(27,7)) AS term
        |  FROM j, tot),
        |ps AS (SELECT sum(term) AS psi FROM t2)
        |SELECT bin, round(mn + bin * w, 6) AS bin_lo, base_n, cur_n,
        |  floor(p * 1e6 + 0.5) / 1e6 AS p, floor(q * 1e6 + 0.5) / 1e6 AS q,
        |  CAST(term AS DOUBLE) AS term,
        |  floor(CAST(psi AS DOUBLE) * 1e6 + 0.5) / 1e6 AS psi
        |FROM t2, ps, rng ORDER BY bin""".stripMargin
}
