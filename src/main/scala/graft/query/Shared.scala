package graft.query

import graft.core.Tables
import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers the query families share: table access, the exact-cents sums,
  * the memoized child sessions, the scratch directories, the pair-graph
  * builders, the stopword list, the frozen BPE merges, the PSI oracle
  * that p174 and q175 both replay, the DuckDB builders of the vector,
  * near-dup and text oracles, and the SQL form of the 6-dp rounding.
  * Every family imports this object, and it reads no family.
  *
  * Scratch rule: every file a query builder writes goes under ONE scratch
  * root per JVM ([[scratchDir]]), and one shutdown hook deletes that root
  * when the JVM exits. A layout the query reads but does not time (q78,
  * q154, q155, q161, s148, s158) is built once per JVM through
  * [[roundtripDir]]; a round-trip whose write is the timed work (q20, q60,
  * q64, q77, q83, p72) and every streaming checkpoint take a fresh
  * [[scratchDir]] per call. The one exception is q50's bucketed tables:
  * `saveAsTable` needs the catalog, so they live in the session warehouse.
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

  /** Length:mtime fingerprint of one source parquet under `dir`, the
    * source part of every layout key (q50's tables, [[roundtripDir]]). */
  private[query] def tableFingerprint(s: SparkSession, dir: String, table: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val st = p.getFileSystem(s.sparkContext.hadoopConfiguration).getFileStatus(p)
    s"${st.getLen}:${st.getModificationTime}"
  }

  /** The JVM's scratch root, a `graft_scratch*` directory in
    * `java.io.tmpdir` created on first use. One shutdown hook deletes the
    * whole tree when the JVM exits. */
  private lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile): Unit))
    root
  }
  private val scratchSeq = new java.util.concurrent.atomic.AtomicLong

  /** A fresh, empty directory under the scratch root. */
  private[graft] def scratchDir(kind: String): String =
    java.nio.file.Files.createDirectory(
      scratchRoot.resolve(s"${kind}_${scratchSeq.incrementAndGet()}")).toString

  /** One layout per (JVM, kind, dir, fingerprint): `build` writes it into
    * a fresh [[scratchDir]] on first request and later callers reuse the
    * path. `fp` must name everything the layout derives from: the source
    * table's length:mtime ([[tableFingerprint]]), so a regenerated parquet
    * rebuilds the layout instead of serving a stale one, plus any layout
    * parameter (s148's planes and codebook). */
  private val roundtripDirs =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), String]

  private[query] def roundtripDir(kind: String, dir: String, fp: String)(build: String => Unit): String =
    roundtripDirs.computeIfAbsent((kind, dir, fp), _ => {
      val tmp = scratchDir(kind)
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
    s"""WITH b AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents WHERE lang = 'en' AND n_chars IS NOT NULL),
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
        |  ${floor6Sql("p")} AS p, ${floor6Sql("q")} AS q,
        |  CAST(term AS DOUBLE) AS term,
        |  ${floor6Sql("CAST(psi AS DOUBLE)")} AS psi
        |FROM t2, ps, rng ORDER BY bin""".stripMargin

  // DuckDB builders of the vector-search oracles (DedupQueries and
  // SimilarityQueries). Each writes one step of graft.ops.Similarity ONCE
  // as SQL. They never call the Column-API helpers: the oracle stays an
  // independent replay that shares only the md5 constants
  // (Similarity.planeMatrix, Similarity.pqCodebook).

  /** A double as an exact DECIMAL literal (BigDecimal's plain form). */
  private[query] def decimalSql(d: Double): String =
    java.math.BigDecimal.valueOf(d).toPlainString

  /** A double as an exact DOUBLE: Double.toString's shortest round-trip
    * form, parsed by strtod. For fitted constants, whose arbitrary
    * mantissas would otherwise go through DECIMAL-width unification. */
  private[query] def doubleSql(d: Double): String =
    s"CAST('${java.lang.Double.toString(d)}' AS DOUBLE)"

  private[query] def listSql(a: Array[Double], lit: Double => String = decimalSql): String =
    a.map(lit).mkString("[", ", ", "]")

  /** Every embedding as a DOUBLE list `e`, keyed by vec_id. */
  private[query] val vecCte: String =
    "v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings)"

  /** Cosine of two DOUBLE-list expressions: sequential list_sums in index
    * order, the engine kernel's left fold. */
  private[query] def cosineSql(a: String, b: String): String = {
    def dot(x: String, y: String) = s"list_sum([$x[i]*$y[i] for i in range(1, len($x)+1)])"
    s"${dot(a, b)} /\n  (sqrt(${dot(a, a)}) *\n   sqrt(${dot(b, b)}))"
  }

  /** The ranking contract of Similarity.cosineTopK: per `key`, cosine
    * descending, ties by the neighbor id `nb` ascending. */
  private[query] def cosineRankSql(key: String, nb: String = "neighbor_id"): String =
    s"row_number() OVER (PARTITION BY $key ORDER BY cosine DESC, $nb)"

  /** LSH table `tbl`'s bucket id over list column `e`: bit p is set iff
    * the projection on md5 hyperplane row tbl·planes + p is >= 0. A row
    * of the plane matrix does not depend on its height, so table 0 is the
    * single-table bucket of Similarity.lshBucket. */
  private[query] def lshBucketSql(planes: Int, dim: Int, tbl: Int = 0): String = {
    val mat = Similarity.planeMatrix((tbl + 1) * planes, dim)
    (0 until planes).map { p =>
      s"(CASE WHEN list_sum([e[i] * (${listSql(mat(tbl * planes + p))})[i] for i in range(1, len(e)+1)]) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
  }

  /** The OR-amplified tables' buckets as columns `b0` … `b{tables-1}`. */
  private[query] def lshBucketCols(planes: Int, tables: Int, dim: Int): String =
    (0 until tables).map(tb => s"${lshBucketSql(planes, dim, tb)} AS b$tb").mkString(", ")

  /** A PQ codebook as ONE nested list literal, C[s][c][j] 1-based. */
  private[query] def pqCodebookSql(cb: Array[Array[Array[Double]]],
                                   lit: Double => String = decimalSql): String =
    cb.map(sc => sc.map(listSql(_, lit)).mkString("[", ", ", "]")).mkString("[", ", ", "]")

  /** Subspace `s`'s `kc` squared-L2 distances from list column `v` to the
    * centroids of the codebook bound as `cb` (PqDistTable's slice s). */
  private def pqDistsSql(v: String, cb: String, subDim: Int, kc: Int): String =
    s"[ list_sum([ ($v[(s-1)*$subDim + j] - $cb[s][c][j]) * ($v[(s-1)*$subDim + j] - $cb[s][c][j]) for j in range(1, ${subDim + 1}) ]) for c in range(1, ${kc + 1}) ]"

  /** Similarity.pqEncode of list column `e` under the codebook bound as
    * `cb`: per subspace the first-position argmin of its distance list. */
  private[query] def pqCodesSql(cb: String, m: Int, kc: Int, subDim: Int): String = {
    val ds = pqDistsSql("e", cb, subDim, kc)
    s"[ list_position($ds, list_min($ds)) for s in range(1, ${m + 1}) ]"
  }

  /** ADC of the query list `qe` against candidate `c`'s codes: per
    * subspace one distance-list lookup, summed in subspace order. */
  private[query] def pqAdcSql(cb: String, m: Int, kc: Int, subDim: Int): String =
    s"list_sum([ ${pqDistsSql("qe", cb, subDim, kc)}[c.codes[s]] for s in range(1, ${m + 1}) ])"

  /** The two-stage serving tail (Similarity.coarseCandidates →
    * exactRerank): per query the `n` best rows of CTE `coarse` by
    * `scoreOrder`, ties by neighbor id (`cand`), re-scored by exact cosine
    * between the query CTE `qs`.qe and the corpus CTE `corpus`.e (`ex`)
    * and ranked per query as `rk` (`r`); every CTE name carries `sfx`. */
  private[query] def rerankCtes(coarse: String, scoreOrder: String, n: Int,
                                corpus: String, sfx: String = ""): String =
    s"""cand$sfx AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY $scoreOrder, neighbor_id) AS rn
       |  FROM $coarse) WHERE rn <= $n),
       |ex$sfx AS (SELECT cand$sfx.query_id, cand$sfx.neighbor_id,
       |  ${cosineSql("qs.qe", "ce.e")} AS cosine
       |  FROM cand$sfx JOIN qs USING (query_id) JOIN $corpus ce ON ce.vec_id = cand$sfx.neighbor_id),
       |r$sfx AS (SELECT query_id, neighbor_id, cosine,
       |  ${cosineRankSql("query_id")} AS rk FROM ex$sfx)""".stripMargin

  /** [[rerankCtes]] closed by the top-`k` select: the whole tail of a
    * rerankTopK/pqTopK/lshPqTopK replay. */
  private[query] def rerankTopKSql(coarse: String, scoreOrder: String, n: Int,
                                   corpus: String, k: Int): String =
    s"""${rerankCtes(coarse, scoreOrder, n, corpus)}
       |SELECT query_id, neighbor_id, round(cosine, 4) AS cosine FROM r
       |WHERE rk <= $k ORDER BY query_id, neighbor_id""".stripMargin

  /** Similarity.recallAtK replayed: per query of the CTE `exact`, its
    * overlap with the CTE `approx` (both (query_id, neighbor_id)),
    * LEFT-joined so a query with no approximate row reports
    * n_approx = 0. The report is CTE `rep$sfx`; `tierCol`, when given,
    * is a leading select item. */
  private[query] def recallCtes(approx: String, sfx: String = "", tierCol: String = ""): String =
    s"""hits$sfx AS (SELECT e.query_id, count(*) AS n_exact,
       |  sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS n_overlap
       |  FROM exact e LEFT JOIN $approx a
       |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
       |  GROUP BY e.query_id),
       |ac$sfx AS (SELECT query_id, count(*) AS n_approx FROM $approx GROUP BY query_id),
       |rep$sfx AS (SELECT ${tierCol}hits$sfx.query_id,
       |  coalesce(ac$sfx.n_approx, 0) AS n_approx, hits$sfx.n_exact,
       |  CAST(hits$sfx.n_overlap AS BIGINT) AS n_overlap,
       |  ${floor6Sql(s"CAST(hits$sfx.n_overlap AS DOUBLE) / hits$sfx.n_exact")} AS recall
       |  FROM hits$sfx LEFT JOIN ac$sfx ON ac$sfx.query_id = hits$sfx.query_id)""".stripMargin

  // DuckDB builders of the near-dup oracles: the word n-gram list, the
  // exact set-similarity pair chain, the connected-component closure and
  // the temperature-balance threshold, each written ONCE as SQL. Like the
  // vector builders they share no Column-API code with graft.ops.Dedup,
  // Graph or Sampling, so the oracle stays an independent replay.

  /** The word `n`-gram list of token list `t`: element i is t[i] … t[i+n-1]
    * joined by single spaces, one per full window. */
  private[query] def ngramsSql(n: Int, t: String = "t"): String = {
    require(n >= 2, s"ngramsSql: n=$n < 2")
    val gram = (0 until n).map(j => if (j == 0) s"$t[i]" else s"$t[i+$j]").mkString(" || ' ' || ")
    val end = if (n == 2) s"len($t)" else s"len($t)-${n - 2}"
    s"[$gram for i in range(1, $end)]"
  }

  /** The exact set-similarity pair chain over distinct word 3-gram sets,
    * ending in CTE `pairs(id_a, id_b, sim)`: every doc pair of `src`
    * (doc_id, text) that shares a 3-gram and whose `sim` is at least
    * `threshold`. `sim` is Jaccard, or with `containment` the overlap over
    * the smaller set. With `maxDf`, 3-grams held by more than maxDf docs
    * leave the overlap count while the set sizes stay exact (Dedup's
    * maxShingleDf). `pairs` is MATERIALIZED: most callers read it twice
    * or more. */
  private[query] def setPairCtes(threshold: Double, src: String = "documents",
                                 maxDf: Option[Int] = None,
                                 containment: Boolean = false): String = {
    val capped = maxDf.fold("")(df =>
      s"\nshc AS (SELECT doc_id, s FROM (SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM sh) WHERE df <= $df),")
    val idx = if (maxDf.isDefined) "shc" else "sh"
    val sim = if (containment) "n * 1.0 / least(sa.sz, sb.sz)" else "n * 1.0 / (sa.sz + sb.sz - n)"
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM $src),
       |sh AS (SELECT doc_id, unnest(list_distinct(${ngramsSql(3)})) AS s FROM toks),
       |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),$capped
       |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
       |          FROM $idx a JOIN $idx b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |pairs AS MATERIALIZED (SELECT id_a, id_b, $sim AS sim
       |          FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
       |          WHERE $sim >= $threshold)""".stripMargin
  }

  /** Connected components of the undirected graph whose edges are the
    * rows (`a`, `b`) of `pairs`, as CTE `comp(node, cluster_id)` with
    * cluster_id the min node reachable: the label
    * Dedup.connectedComponents converges to. `reach` is the transitive
    * closure (DuckDB's UNION-distinct recursion reaches a fixpoint), so
    * the caller's WITH must be RECURSIVE. `edges` and `comp` are
    * MATERIALIZED: DuckDB re-evaluates a plain CTE per reference, and
    * every recursion step reads `edges`. */
  private[query] def closureCtes(pairs: String, a: String = "id_a", b: String = "id_b"): String =
    s"""edges AS MATERIALIZED (SELECT $a AS a, $b AS b FROM $pairs
       |          UNION SELECT $b, $a FROM $pairs),
       |reach(node, lbl) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.lbl),
       |comp AS MATERIALIZED (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node)""".stripMargin

  // DuckDB builders of the text oracles and of the 6-dp rounding. Like the
  // vector and near-dup builders they share no Column-API code with
  // graft.functions or graft.ops.TextIndex; they only read `stopwords`.

  /** `x` rounded half up to 6 dp: the SQL form of
    * graft.functions.Portable.floor6, for the same reason (round() breaks
    * exact 6-dp ties differently in Spark and DuckDB). */
  private[query] def floor6Sql(x: String): String = s"floor(($x) * 1e6 + 0.5) / 1e6"

  /** TextIndex's portable token list of column `text`: lowercased, split
    * on runs of characters outside [a-z0-9], empty tokens dropped. */
  private[query] val tokensSql: String =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"

  /** TextFunctions.alphaRatio of column `text`, 4 dp. */
  private[query] val alphaRatioSql: String =
    "round(CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / length(text), 4)"

  /** TextFunctions.stopwordRatio with [[stopwords]] over the whitespace
    * token list `t`, 4 dp. */
  private[query] val stopwordRatioSql: String = {
    val isStop = stopwords.map(w => s"x = '$w'").mkString(" OR ")
    s"round(CAST(len([x for x in t if $isStop]) AS DOUBLE) / len(t), 4)"
  }

  /** TextFunctions.qualityScore (t63's composite score) of the whitespace
    * token list `t` and its source column `text`: the mean of the length
    * score, the alpha ratio and the stopword closeness to 15 %, clamped to
    * [0, 1], 4 dp. */
  private[query] val qualitySql: String =
    s"""round(greatest(0.0, least(1.0,
       |  (least(len(t) / 50.0, 1.0) + $alphaRatioSql
       |   + (1.0 - abs($stopwordRatioSql - 0.15))) / 3.0)), 4)""".stripMargin

  /** Quality.orderStats' type-1 rank rule: the 0-based index of the
    * `p`-quantile among `n` sorted values, max(ceil(p·n) − 1, 0). */
  private[query] def rankIdxSql(p: Double): String =
    s"greatest(CAST(ceil(${decimalSql(p)} * n) AS BIGINT) - 1, 0)"

  /** The adjacent-pair list of token list `t`, one struct (w1, w2) per
    * bigram: TextIndex's bigram stream. */
  private[query] val bigramsSql: String =
    "[{'w1': t[i], 'w2': t[i+1]} for i in range(1, len(t))]"

  /** TextIndex's add-0.5 bigram model and per-doc score over the bigram CTE
    * `p(doc_id, w1, w2, …)`, every CTE name suffixed by `sfx`: pair counts
    * `c`, left totals `f`, vocabulary `v` (from `p` rows matching `where`,
    * when given), each bigram's ln P(w2 | w1) rounded through DECIMAL(27,7)
    * as `lp`, and per doc `g(doc_id, n_bigrams, mean_lp)` with the mean
    * floor-rounded to 6 dp. */
  private[query] def lmChainCtes(sfx: String = "", where: String = ""): String = {
    val filt = if (where.isEmpty) "" else s" WHERE $where"
    s"""c$sfx AS (SELECT w1, w2, count(*) AS c12 FROM p$filt GROUP BY 1, 2),
       |f$sfx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c$sfx GROUP BY 1),
       |v$sfx AS (SELECT count(DISTINCT w2) AS nv FROM c$sfx),
       |lp$sfx AS (SELECT doc_id,
       |  CAST(ln((CAST(coalesce(c$sfx.c12, 0) AS DOUBLE) + 0.5) / (CAST(coalesce(f$sfx.c1, 0) AS DOUBLE) + 0.5 * CAST(v$sfx.nv AS DOUBLE))) AS DECIMAL(27,7)) AS l
       |  FROM p LEFT JOIN c$sfx USING (w1, w2) LEFT JOIN f$sfx USING (w1), v$sfx),
       |g$sfx AS (SELECT doc_id, count(*) AS n_bigrams,
       |  ${floor6Sql("CAST(sum(l) AS DOUBLE) / count(*)")} AS mean_lp FROM lp$sfx GROUP BY doc_id)""".stripMargin
  }

  /** Sampling.temperatureBalance over `src` (doc_id, lang, …) as CTE
    * `bal` with src's columns: per non-null lang, f = sqrt(min_n / n),
    * and a row stays iff the first 5 hex digits of md5(doc_id) sort below
    * f·2^20 as `%05x`. The min stratum's f = 1 gives 2^20, whose 6-digit
    * hex would break the compare, so it caps to 'g', which sorts above
    * every hex digit. */
  private[query] def temperatureCtes(src: String): String =
    s"""c AS (SELECT lang, count(*) AS n FROM $src WHERE lang IS NOT NULL GROUP BY 1),
       |m AS (SELECT min(n) AS minn FROM c),
       |th AS (SELECT lang,
       |  CASE WHEN CAST(floor(sqrt(CAST(minn AS DOUBLE) / n) * 1048576) AS BIGINT) >= 1048576
       |       THEN 'g'
       |       ELSE printf('%05x', CAST(floor(sqrt(CAST(minn AS DOUBLE) / n) * 1048576) AS BIGINT))
       |  END AS thresh
       |  FROM c, m),
       |bal AS (SELECT d.* FROM $src d JOIN th USING (lang)
       |        WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 5) < th.thresh)""".stripMargin
}
