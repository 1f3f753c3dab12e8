package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Portable.floor6

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`), beyond the reference surface (agnes has no vector
  * support).
  *
  * Two tiers, per the usual scale progression:
  *  - [[bruteForceTopK]]: exact cosine top-k via broadcast of the (small)
  *    query set against the full corpus — one scan, no shuffle except the
  *    final per-query top-k aggregation. The correctness baseline.
  *  - [[lshTopK]]: random-hyperplane LSH — corpus bucketed by sign
  *    signature (linear pass), queries probe only their bucket; exact rerank
  *    inside buckets. The 100 TB path: candidate set per query is
  *    |corpus| / 2^planes in expectation.
  *
  * All math is codegen'd higher-order array expressions (`zip_with` dot
  * product, `aggregate` fold) — no UDFs.
  */
object Similarity {

  /** Dot product of two array<double> columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; float arrays are upcast to double first so the fold
    * order matches the oracle's double arithmetic closely. */
  def cosine(a: Column, b: Column): Column = {
    val ad = transform(a, x => x.cast("double"))
    val bd = transform(b, x => x.cast("double"))
    dot(ad, bd) / (norm(ad) * norm(bd))
  }

  /** Exact top-k cosine neighbors for each query row.
    *
    * @param corpus  (idCol, vecCol) table — the full embedding corpus
    * @param queries (idCol, vecCol) table — small; broadcast
    * @return (query_id, neighbor_id, cosine) — k rows per query, self-match
    *         excluded, deterministic tie-break on neighbor id.
    */
  def bruteForceTopK(corpus0: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val corpus = graft.core.Par.widen(corpus0)
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", graft.functions.VectorExpressions.cosineNative(
        corpus.sparkSession, col("qv"), col("cv")))
    cosineTopK(scored, "query_id", k)
  }

  /** The family's ranking contract, written once: per `key`, the `k` rows
    * of highest `cosine`, ties broken by `neighbor_id` ascending, cosine
    * rounded to 4 dp. Every exact top-k here ends in it (the candidate
    * generator varies, the ranking never does). Output (key, neighbor_id,
    * cosine). */
  private[graft] def cosineTopK(scored: DataFrame, key: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col(key), col("neighbor_id"), round(col("cosine"), 4).as("cosine"))
  }

  /** Hard-negative mining for contrastive/embedding training: for each
    * query, the top-k most-similar corpus vectors with a DIFFERENT label —
    * the negatives that sit closest to the decision boundary and carry the
    * most gradient signal (random negatives are trivially separable; these
    * are not). Same exact-cosine contract as [[bruteForceTopK]] with the
    * label-mismatch predicate fused into the scan.
    *
    * Scale shape: queries broadcast, ONE corpus scan, and the top-k runs in
    * TWO stages — a salted per-(query, salt)-partition top-k first, so the
    * final per-query window ranks q·salts·k pre-reduced rows instead of the
    * corpus-sized score stream (with few queries a single window would
    * funnel every scored row through q partitions — the skew this stage
    * exists to break). Top-k of per-salt top-k is exact because every
    * dropped row has ≥ k better same-salt rows, so it can never enter the
    * global top k.
    *
    * @return (query_id, neighbor_id, neg_label, cosine) — k rows per query,
    *         deterministic tie-break on neighbor id. */
  def hardNegatives(corpus0: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int,
                    salts: Int = 16): DataFrame = {
    require(k >= 1 && salts >= 1, s"k=$k and salts=$salts must be >= 1")
    val corpus = graft.core.Par.widen(corpus0)
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), col(labelCol).as("ql")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      col(labelCol).as("neg_label"))
    val scored = c.crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id") &&
        col("neg_label") =!= col("ql"))
      .withColumn("cosine", graft.functions.VectorExpressions.cosineNative(
        corpus.sparkSession, col("qv"), col("cv")))
      .withColumn("__salt", pmod(hash(col("neighbor_id")), lit(salts)))
    val pre = Window.partitionBy(col("query_id"), col("__salt"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val fin = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("__prn", row_number().over(pre)).filter(col("__prn") <= k)
      .withColumn("rn", row_number().over(fin)).filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("neg_label"),
        round(col("cosine"), 4).as("cosine"))
  }

  /** Deterministic pseudo-random hyperplanes: component (p, i) is the first
    * 60 bits of md5("p_i") folded to [-1, 1]. Computed once driver-side and
    * inlined as array literals — no RNG state to ship, no per-row hashing,
    * and (being md5-derived) exactly reproducible by any other engine, which
    * is how the oracle recomputes the same buckets. */
  def planeMatrix(planes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(planes, dim) { (p, i) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"${p}_$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
      ((h % 2000001L) - 1000000L).toDouble / 1000000.0
    }

  /** Guard against a caller-supplied `dim` that disagrees with the data:
    * zip_with null-pads the shorter side, every projection would go NULL,
    * every row would land in bucket 0, and the bucket join would silently
    * degenerate to the quadratic self-join LSH exists to avoid. Failing
    * per-row is cheap (one size comparison) and loud. */
  private def requireDim(vec: Column, dim: Int, bucket: Column): Column =
    when(size(vec) === dim, bucket).otherwise(raise_error(concat(
      lit("lshBucket: vector length "), size(vec).cast("string"),
      lit(s" != dim $dim"))))

  /** Sign-signature under `planes` deterministic hyperplanes → integer
    * bucket. `dim` is the (fixed) embedding dimensionality. The per-plane
    * `aggregate(zip_with(...))` form: every operator buckets through the
    * fused kernel ([[bucketRows]], [[fusedBucket]]), and this stays as the
    * reference the specs compare that kernel against. */
  def lshBucket(vec: Column, planes: Int, dim: Int): Column = {
    val mat = planeMatrix(planes, dim)
    val sigBits = (0 until planes).map { p =>
      val proj = aggregate(
        zip_with(vec, typedLit(mat(p).toIndexedSeq),
          (x, w) => x.cast("double") * w),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    requireDim(vec, dim, sigBits.reduce(_ + _))
  }

  /** (outId, tbl, bucket) rows, one per OR-amplified LSH table: table `t`
    * uses hyperplane rows [t·planes, (t+1)·planes) of
    * `planeMatrix(tables·planes, dim)`, so the tables are independent.
    *
    * Computed by the codegen'd [[graft.functions.LshBuckets]] expression —
    * one fused pass over the vector for all planes×tables projections (the
    * per-plane `aggregate(zip_with(...))` form, kept as [[lshBucket]] for
    * the equivalence spec, runs that many interpreted passes per row and
    * dominates d74/s30 at corpus scale). Bit-identical by construction:
    * same md5 matrix, same left-to-right double accumulation, same
    * null-element → bucket-0 degradation — which is exactly why
    * [[requireDim]] stays wrapped OUTSIDE the expression, raising before a
    * dim mismatch can silently collapse the join. */
  private def bucketRows(df: DataFrame, idCol: String, vecCol: String,
                         outId: String, planes: Int, tables: Int, dim: Int): DataFrame =
    df.select(col(idCol).as(outId), posexplode(requireDim(col(vecCol), dim,
        graft.functions.LshExpressions.lshBuckets(df.sparkSession, col(vecCol), planes, tables, dim)))
      .as(Seq("tbl", "bucket")))

  /** The single-table bucket of [[lshBucket]] from the fused kernel:
    * element 0 of one-table [[graft.functions.LshBuckets]], with
    * [[requireDim]] outside as in [[bucketRows]]. Bit-identical to
    * [[lshBucket]] by construction (PipelineSpec pins kernel ≡ HOF). */
  private def fusedBucket(df: DataFrame, vecCol: String, planes: Int, dim: Int): Column =
    requireDim(col(vecCol), dim, graft.functions.LshExpressions.lshBuckets(
      df.sparkSession, col(vecCol), planes, 1, dim).getItem(0))

  /** The embedding width: `dim` when the caller passes it, else the length
    * of the first vector of the first non-empty source (a one-row driver
    * lookup — an extra job composed pipelines avoid by passing `dim`). */
  private def vectorDim(dim: Int, vecCol: String, sources: DataFrame*): Int =
    if (dim > 0) dim
    else sources.view.flatMap(_.select(size(col(vecCol))).head(1).headOption).head.getInt(0)

  /** Embedding near-duplicate pairs at corpus scale: LSH-bucketed candidate
    * generation + exact cosine verification — never an all-pairs self-join.
    * The corpus-scale twin of the broadcast-NL exact form (d40): candidates
    * are pairs sharing a bucket in ANY of `tables` independent hyperplane
    * tables (the classic OR-amplification — per-table recall for angle θ is
    * (1-θ/π)^planes, so more tables recover the recall more planes take
    * away), then verified with exact cosine against `threshold`.
    *
    * Shuffle budget: one corpus-sized exchange per side of the bucket
    * equi-join — carrying (id, table, bucket) ONLY. The embeddings stay out
    * of the exchange (they would multiply the shuffled bytes by dim ×
    * tables) and are fetched afterward for the candidate-sized pair set by
    * joining back to the corpus: two extra column-pruned scans, orders of
    * magnitude cheaper than a vector-wide shuffle at 100 TB, with AQE
    * picking broadcast (typical: candidates tiny) or shuffle (undersized
    * `planes` → quadratic candidates) from runtime sizes.
    * Bucket skew is bounded by `planes` (2^planes buckets per table); raise
    * `planes` (and `tables` with it) as the corpus grows to keep per-bucket
    * candidate counts flat — candidates ≈ n²/(2·2^planes)·tables, so planes
    * must grow ~log₂(n) for linear total work.
    */
  def nearDupPairs(df0: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, planes: Int = 4, tables: Int = 2,
                   dim: Int = -1): DataFrame = {
    val df = graft.core.Par.widen(df0)
    val bucketed = bucketRows(df, idCol, vecCol, "id", planes, tables,
      vectorDim(dim, vecCol, df))
    val a = bucketed.select(col("id").as("id_a"), col("tbl"), col("bucket"))
    val b = bucketed.select(col("id").as("id_b"), col("tbl"), col("bucket"))
    // a pair bucketed together in several tables is still one candidate
    val cand = a.join(b, Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"))
    // vector fetch: two corpus scans pruned to (id, vec) join the candidate
    // set. No broadcast hint on purpose: when `planes`/`tables` are sized to
    // the corpus (the documented contract) candidates are tiny and AQE
    // broadcasts them from runtime stats, but with UNDERSIZED planes the
    // candidate set goes quadratic, and a forced broadcast would drag
    // gigabytes through the driver — AQE's shuffle join degrades gracefully
    // instead. Reads df0, NOT the widened df: these scans do no per-row
    // work pre-join, so the widen repartition would just round-robin the
    // vectors for nothing.
    val vecs = df0.select(col(idCol).as("id"), col(vecCol).as("v"))
    val withA = vecs.select(col("id").as("id_a"), col("v").as("e_a"))
      .join(cand, "id_a")
    vecs.select(col("id").as("id_b"), col("v").as("e_b"))
      .join(withA, "id_b")
      .withColumn("cosine", graft.functions.VectorExpressions.cosineNative(
        df.sparkSession, col("e_a"), col("e_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
  }

  /** Cross-relation embedding near-dup (round 16): corpus rows within
    * cosine `threshold` of ANY probe row — SEMANTIC DECONTAMINATION (flag
    * training documents embedding-close to an eval/benchmark set: the
    * paraphrase leaks that the lexical passes, shingle d61 and phrase
    * d135, cannot see) and its duals (blocklist dedup, targeted recall
    * sets). Candidates come from the same OR-amplified md5-derived
    * hyperplane buckets as [[nearDupPairs]], as an EQUI-JOIN between the
    * two relations' bucket projections — never corpus × probes. Exact
    * cosine verifies every candidate. Output: (id, probe_id, cosine) for
    * every pair at or above threshold — aggregate over `id` for the flag
    * set.
    *
    * Scale shape at 100 TB: one projection pass over the corpus for
    * buckets (ids only on the exchange — vectors never shuffle with the
    * candidates), candidate-sized verify joins. The probe side is NOT
    * force-broadcast (r16 advice): eval sets are usually small and AQE
    * broadcasts them on its own measured size, but nothing in this
    * signature bounds |probes| — a caller decontaminating against a
    * corpus-sized blocklist must not drag it through the driver, so the
    * join degrades to a shuffle exactly like [[nearDupPairs]]'s. Recall
    * follows the nearDupPairs table math; size `planes` ~log₂(n) via
    * [[autoPlanes]] when the corpus grows. */
  def crossNearDup(corpus0: DataFrame, probes: DataFrame, idCol: String,
                   vecCol: String, threshold: Double, planes: Int = 4,
                   tables: Int = 2, dim: Int = -1): DataFrame = {
    val corpus = graft.core.Par.widen(corpus0)
    val spark = corpus.sparkSession
    val d = vectorDim(dim, vecCol, corpus)
    val cand = bucketRows(corpus, idCol, vecCol, "id", planes, tables, d)
      .join(bucketRows(probes, idCol, vecCol, "probe_id", planes, tables, d), Seq("tbl", "bucket"))
      .dropDuplicates("id", "probe_id")
      .select(col("id"), col("probe_id"))
    val withC = corpus0.select(col(idCol).as("id"), col(vecCol).as("e_c")).join(cand, "id")
    probes.select(col(idCol).as("probe_id"), col(vecCol).as("e_p"))
      .join(withC, "probe_id")
      .withColumn("cosine", graft.functions.VectorExpressions.cosineNative(
        spark, col("e_c"), col("e_p")))
      .filter(col("cosine") >= threshold)
      .select(col("id"), col("probe_id"), round(col("cosine"), 4).as("cosine"))
  }

  /** Corpus-size-aware hyperplane count for [[nearDupPairs]] — the smallest
    * `planes` holding the EXPECTED per-table bucket-mate count per row,
    * n / 2^planes, at or below `targetMates`. Per-table candidate volume is
    * then ≤ targetMates · n — LINEAR in the corpus — instead of the
    * n² / 2^planes quadratic a FIXED `planes` degrades to as n grows. This
    * is the "planes must grow ~log₂(n)" operating contract documented on
    * [[nearDupPairs]], computed instead of hand-tuned.
    *
    * Recall cost of each +1 plane: a true pair at angle θ shares a given
    * table's bucket with probability (1-θ/π)^planes, so callers growing
    * `planes` via this helper should grow `tables` alongside (pair-miss
    * probability compounds as its `tables`th power) to hold end-to-end
    * recall — cheap, because the bucket exchange carries (id, tbl, bucket)
    * only. Clamped to [1, 48]: past 2^48 buckets every row is alone and
    * more planes only burn recall.
    */
  def autoPlanes(n: Long, targetMates: Double = 32.0): Int = {
    require(targetMates > 0, s"targetMates=$targetMates must be > 0")
    if (n <= 0) 1
    else {
      val raw = math.ceil(math.log(n / targetMates) / math.log(2.0)).toInt
      math.min(48, math.max(1, raw))
    }
  }

  /** Scalar int8 quantization of an embedding column — the storage tier for
    * vector corpora at scale (4× smaller than float32 plus a per-vector
    * scale; dot products on int8 codes are also ~4× cheaper). Symmetric
    * absmax scheme: scale = max|x| / 127, code_i = round(x_i / scale) ∈
    * [-127, 127]. The scale is hoisted into its own projection column
    * before the per-element lambda (lambda bodies are not CSE'd — an
    * inline absmax would re-fold the array once per element), and all the
    * arithmetic is IEEE-exact double math plus half-up rounding, so the
    * codes are bit-identical across engines. A zero vector quantizes to
    * all-zero codes with scale 0. Pure projection — zero shuffles.
    * Output: (idCol, scale, qvec) plus the double-cast source as `vec`
    * when `keepVec` (for reconstruction-error checks). */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String,
                   keepVec: Boolean = false): DataFrame = {
    val base = df.select(col(idCol),
        transform(col(vecCol), x => x.cast("double")).as("vec"))
      .withColumn("scale",
        aggregate(col("vec"), lit(0.0), (acc, x) => greatest(acc, abs(x))) / 127.0)
      .withColumn("qvec",
        when(col("scale") === 0.0, transform(col("vec"), x => lit(0).cast("int")))
          .otherwise(transform(col("vec"), x => round(x / col("scale"), 0).cast("int"))))
    if (keepVec) base else base.drop("vec")
  }

  /** Reconstruct approximate doubles from int8 codes + scale. */
  def dequantize(qvec: Column, scale: Column): Column =
    transform(qvec, q => q.cast("double") * scale)

  /** Two-stage exact-ish ANN: an int8-quantized coarse scan picks
    * `k · expand` candidates per query by approximate inner product, then
    * an exact float cosine re-ranks ONLY those candidates to the final
    * top-k — the classic memory-bandwidth play (codes are 4× smaller than
    * float32, so the full-corpus pass streams 4× less data; the expensive
    * float vectors are fetched for a candidate set thousands of times
    * smaller than the corpus).
    *
    * Determinism: the coarse score is an EXACT integer dot of the codes
    * (accumulated in long — no float reduction order to disagree on)
    * times the two scales (one double product, fixed association), and
    * both ranking windows tie-break on neighbor id — any engine reproduces
    * the identical candidate set and final ranking, which is how the
    * oracle verifies this end-to-end.
    *
    * Scale shape: quantization is a projection; the coarse scan is the
    * brute-force shape (corpus × broadcast queries — no shuffle of the
    * corpus) on int8 codes; candidates are re-fetched by a BROADCAST join
    * of the tiny candidate id set against the corpus, so the float vectors
    * never shuffle either. Recall vs true cosine top-k is governed by
    * `expand` (norm variance is what the coarse inner product mis-ranks).
    *
    * Output: (query_id, neighbor_id, cosine) — k rows per query. */
  def rerankTopK(corpus0: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int, expand: Int = 4): DataFrame = {
    require(k >= 1 && expand >= 1, s"k=$k expand=$expand must be >= 1")
    val corpus = graft.core.Par.widen(corpus0)
    val cq = quantizeInt8(corpus, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("scale").as("cscale"), col("qvec").as("cq"))
    val qq = broadcast(quantizeInt8(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("scale").as("qscale"), col("qvec").as("qq")))
    // exact integer dot (codes ∈ [-127, 127]: a 64-dim dot tops out near
    // 10^6, but accumulate in long anyway — ANSI-overflow-proof at any dim)
    val idot = aggregate(zip_with(col("qq"), col("cq"),
      (x, y) => x.cast("long") * y), lit(0L), (acc, v) => acc + v)
    val coarse = cq.crossJoin(qq)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("__approx", idot.cast("double") * col("qscale") * col("cscale"))
    val cand = coarseCandidates(coarse, col("__approx").desc, k, expand)
    exactRerank(corpus, queries, cand, idCol, vecCol, k)
  }

  /** The shared two-stage serving tail every coarse-then-exact ANN path
    * here ends in ([[rerankTopK]], [[pqTopK]], [[lshPqTopK]],
    * [[queryAnnIndex]]) — ONE definition, because the persisted-index and
    * bucket-pruned paths owe their bit-for-bit oracle parity to this chain
    * staying byte-identical across operators (a tie-break fixed in one
    * hand-synced copy and not another would silently split them). Stage 1:
    * keep the `k·expand` best coarse candidates per query — the caller
    * passes its score WITH direction (`.asc` for distances, `.desc` for
    * similarities), the neighbor-id tie-break is appended here. Stage 2:
    * broadcast the tiny candidate id set back against the corpus (the
    * float vectors never shuffle), exact cosine, top-k. */
  private def coarseCandidates(coarse: DataFrame, scoreOrdered: Column,
                               k: Int, expand: Int): DataFrame = {
    val wC = Window.partitionBy(col("query_id"))
      .orderBy(scoreOrdered, col("neighbor_id").asc)
    coarse.withColumn("__rn", row_number().over(wC))
      .filter(col("__rn") <= k * expand)
      .select(col("query_id"), col("neighbor_id"))
  }

  private def exactRerank(corpus: DataFrame, queries: DataFrame,
                          cand: DataFrame, idCol: String, vecCol: String,
                          k: Int): DataFrame = {
    val qv = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val rescored = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .join(broadcast(cand), Seq("neighbor_id"))
      .join(qv, Seq("query_id"))
      .withColumn("cosine", graft.functions.VectorExpressions.cosineNative(
        corpus.sparkSession, col("qv"), col("cv")))
    cosineTopK(rescored, "query_id", k)
  }

  /** Per-candidate ADC: Σ_s T_q[s][code_s] over the query's once-evaluated
    * flat distance table (`__tbl`, entry (s, code) at s·kc + code) — the
    * shared coarse score of the three PQ paths. */
  private def adcExpr(m: Int, kc: Int): Column =
    (0 until m).map { s =>
      element_at(col("__tbl"),
        (lit(s * kc) + element_at(col("pq_codes"), s + 1)).cast("int"))
    }.reduce(_ + _)

  /** Deterministic product-quantization codebook: `m` subspaces × `k`
    * centroids × `subDim` components, component (s, c, j) md5-folded to
    * the exact grid ((h mod 1024) − 512)/1024 ∈ [−0.5, 0.5) — every value
    * exactly representable in double, derived with no RNG state, so any
    * engine (and the SQL oracle) reproduces the codebook bit-for-bit.
    * A REAL deployment trains the codebook with per-subspace k-means —
    * that substitution changes only this function (the IVF precedent:
    * trained artifacts are rows-only; fixed deterministic artifacts keep
    * the full hash-exact oracle, which is what this grid buys). */
  def pqCodebook(m: Int, k: Int, subDim: Int): Array[Array[Array[Double]]] =
    Array.tabulate(m, k, subDim) { (s, c, j) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"pq_${s}_${c}_$j".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
      ((h % 1024L) - 512L).toDouble / 1024.0
    }

  /** TRAINED product-quantization codebook: per-subspace k-means (Lloyd)
    * over a deterministic `trainCap`-row sample — the real-deployment
    * substitute [[pqCodebook]]'s scaladoc promises, with the [[ivfTopK]]
    * training contract: the sample is the first `trainCap` rows in
    * md5(id) order (a content-derived pseudo-random order, one
    * TakeOrderedAndProject pass), so training cost is CONSTANT in corpus
    * size and the result is reproducible run-to-run with no RNG state.
    * The m·k·subDim fit itself runs driver-local over the already-
    * collected sample — a distributed KMeans per subspace would pay `m`
    * job schedules to fit a few thousand rows. Initial centroids are the
    * first `k` distinct subvectors in sample order; assignment is
    * squared-L2 with lowest-index tie-break; an emptied cluster keeps its
    * previous centroid. Returns the Array[m][k][subDim] shape
    * [[pqEncode]]/[[pqTopK]]/[[lshPqTopK]] consume unchanged.
    *
    * No SQL replays the k-means fit itself, but the fit is a pure
    * function of the corpus: s143's oracle refits it at the same dir,
    * inlines the constants and replays the serving chain downstream of
    * it (docs/PLANS.md, "Round-15 widening: trained-PQ recall tier").
    * ScaleJoinsSpec also bounds it against exact brute force: at full
    * expand the re-rank is exact (identical to [[bruteForceTopK]]); at
    * expand=4 a recall floor. */
  def pqCodebookTrained(corpus: DataFrame, idCol: String, vecCol: String,
                        m: Int, k: Int, subDim: Int, iters: Int = 5,
                        trainCap: Int = 4096): Array[Array[Array[Double]]] = {
    require(m >= 1 && k >= 1 && subDim >= 1 && iters >= 1 && trainCap >= k,
      s"m=$m k=$k subDim=$subDim iters=$iters trainCap=$trainCap invalid")
    val dim = m * subDim
    val sample: Array[Array[Double]] = corpus
      .select(col(idCol).as("__id"),
        transform(col(vecCol), x => x.cast("double")).as("__v"))
      .filter(size(col("__v")) === dim)
      .orderBy(md5(col("__id").cast("string")).asc, col("__id").asc)
      .limit(trainCap)
      .select(col("__v"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.length >= k,
      s"only ${sample.length} training vectors of dim $dim (need >= $k)")
    Array.tabulate(m) { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
      // first k DISTINCT subvectors in sample order seed the centroids;
      // if the subspace has fewer distinct values, pad by repeating the
      // first (those clusters empty out and keep their seed — harmless)
      val seen = scala.collection.mutable.LinkedHashSet[Seq[Double]]()
      sub.iterator.takeWhile(_ => seen.size < k).foreach(v => seen += v.toSeq)
      var cents: Array[Array[Double]] =
        Array.tabulate(k)(i => if (i < seen.size) seen.toIndexedSeq(i).toArray
                               else seen.head.toArray)
      def nearest(v: Array[Double]): Int = {
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < k) {
          var d = 0.0; var j = 0
          while (j < subDim) { val t = v(j) - cents(c)(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = c } // strict < = lowest-index ties
          c += 1
        }
        best
      }
      for (_ <- 1 to iters) {
        val sums = Array.fill(k, subDim)(0.0)
        val counts = Array.fill(k)(0L)
        sub.foreach { v =>
          val c = nearest(v); counts(c) += 1
          var j = 0; while (j < subDim) { sums(c)(j) += v(j); j += 1 }
        }
        cents = Array.tabulate(k) { c =>
          if (counts(c) == 0L) cents(c)
          else Array.tabulate(subDim)(j => sums(c)(j) / counts(c))
        }
      }
      cents
    }
  }

  /** Product-quantization encoding: each vector becomes `m` small codes
    * (nearest centroid per subspace, squared-L2, ties → lowest code) —
    * the 4-bit-per-subspace compression under PQ-based ANN (a 64-dim
    * float32 vector collapses to m = 8 codes: 32× smaller). Pure
    * projection (the codebook is inlined constants — no join, no
    * broadcast, zero exchange); argmin = array_position of array_min,
    * first-occurrence semantics in both engines. Output: (idCol,
    * pq_codes array<long>, 1-based codes). */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               codebook: Array[Array[Array[Double]]]): DataFrame =
    withPqCodes(df, vecCol, codebook, col(idCol))

  /** `df` projected to `keep` plus `pq_codes`. The m·k distance table
    * comes from ONE tight-loop codegen'd expression
    * (graft.functions.PqDistTable — an unrolled-expression formulation put
    * the plan's Janino compile time at ~10 s per fresh plan); the per-row
    * argmin over each k-slice is cheap generic array ops,
    * first-occurrence ties by array_position semantics. */
  private def withPqCodes(df: DataFrame, vecCol: String,
                          codebook: Array[Array[Array[Double]]], keep: Column*): DataFrame = {
    val m = codebook.length; val kc = codebook(0).length
    val codes = array((0 until m).map { s =>
      val sl = slice(col("__tbl"), s * kc + 1, kc)
      array_position(sl, array_min(sl))
    }: _*)
    df.withColumn("__tbl", graft.functions.PqExpressions.pqDistTable(
        df.sparkSession, col(vecCol), codebook))
      .select(keep :+ codes.as("pq_codes"): _*)
  }

  /** PQ-compressed ANN with exact re-rank: the corpus is scanned as
    * `m`-code rows (32× less memory bandwidth than float32), each query
    * scores candidates by ADC — the asymmetric distance Σ_s T_q[s][code_s]
    * where T_q is the query's per-subspace distance-to-centroid table,
    * evaluated as inlined expressions over the query vector — takes the
    * `k·expand` best (ascending distance, id tie-break), and an exact
    * float cosine re-ranks ONLY those to the final top-k (the
    * [[rerankTopK]] second stage verbatim: candidates broadcast back, the
    * float vectors never shuffle).
    *
    * Everything is deterministic double math over exactly-representable
    * inputs — the oracle reproduces codes, ADC scores, candidate set, and
    * final ranking bit-for-bit. Output: (query_id, neighbor_id, cosine). */
  def pqTopK(corpus0: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, codebook: Array[Array[Array[Double]]],
             expand: Int = 4): DataFrame = {
    require(k >= 1 && expand >= 1, s"k=$k expand=$expand must be >= 1")
    val m = codebook.length; val kc = codebook(0).length
    val corpus = graft.core.Par.widen(corpus0)
    val coded = pqEncode(corpus, idCol, vecCol, codebook)
      .select(col(idCol).as("neighbor_id"), col("pq_codes"))
    // The textbook ADC split: the m·k distance table is evaluated ONCE PER
    // QUERY on the broadcast side (the same tight-loop PqDistTable
    // expression pqEncode uses), so the per-candidate cost in the
    // corpus-sized join is m flat-table lookups + m−1 adds — never a
    // re-derivation of the table per pair. Flat layout: entry (s, code)
    // lives at position s·kc + code (1-based, matching element_at).
    val qv = broadcast(queries.select(col(idCol).as("query_id"),
      graft.functions.PqExpressions.pqDistTable(
        corpus.sparkSession, col(vecCol), codebook).as("__tbl")))
    val coarse = coded.crossJoin(qv)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("__adc", adcExpr(m, kc))
    val cand = coarseCandidates(coarse, col("__adc").asc, k, expand)
    exactRerank(corpus, queries, cand, idCol, vecCol, k)
  }

  /** Bucket-pruned PQ ANN — the billion-scale serving shape composed from
    * the library's own verified pieces: the corpus is LSH-bucketed
    * ([[lshBucket]] — deterministic md5 hyperplanes), a query's coarse
    * scan touches ONLY its own bucket (an EQUI join on the bucket id — the
    * expected 1/2^planes of the corpus — where [[pqTopK]] cross-joins
    * everything), the in-bucket rows are PQ codes (32× smaller than
    * float32) scored by ADC against the query's once-evaluated distance
    * table, and the exact cosine re-rank touches only the k·expand
    * winners. A production layout would additionally `partitionBy` the
    * bucket column so storage itself prunes; the streaming equi-join is
    * the same read shape without the rewrite.
    *
    * Fully deterministic (md5 hyperplanes + md5-grid codebook + tie-broken
    * windows) → the oracle reproduces buckets, codes, ADC, candidates,
    * and ranking bit-for-bit. Recall compounds the bucket's recall with
    * PQ's coarse fidelity — `planes` and `expand` are the explicit knobs;
    * a query whose bucket holds fewer than k neighbors returns fewer rows
    * (prune semantics, not an error). */
  def lshPqTopK(corpus0: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, codebook: Array[Array[Array[Double]]],
                planes: Int, dim: Int, expand: Int = 4): DataFrame = {
    require(k >= 1 && expand >= 1, s"k=$k expand=$expand must be >= 1")
    val corpus = graft.core.Par.widen(corpus0)
    servePqIndex(encodeIndexRows(corpus, idCol, vecCol, codebook, planes, dim),
      corpus, queries, idCol, vecCol, k, codebook, planes, dim, expand)
  }

  /** The bucket-pruned serving chain [[lshPqTopK]] (in-memory index) and
    * [[queryAnnIndex]] (persisted index) share: each query's coarse ADC
    * scan touches only the (neighbor_id, bucket, pq_codes) index rows of
    * its own bucket, then [[coarseCandidates]] → [[exactRerank]]. */
  private def servePqIndex(index: DataFrame, corpus: DataFrame, queries: DataFrame,
                           idCol: String, vecCol: String, k: Int,
                           codebook: Array[Array[Array[Double]]], planes: Int,
                           dim: Int, expand: Int): DataFrame = {
    val m = codebook.length; val kc = codebook(0).length
    val qv = broadcast(queries.select(col(idCol).as("query_id"),
      fusedBucket(queries, vecCol, planes, dim).as("bucket"),
      graft.functions.PqExpressions.pqDistTable(
        corpus.sparkSession, col(vecCol), codebook).as("__tbl")))
    val coarse = index.join(qv, Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("__adc", adcExpr(m, kc))
    val cand = coarseCandidates(coarse, col("__adc").asc, k, expand)
    exactRerank(corpus, queries, cand, idCol, vecCol, k)
  }

  /** Corpus-size-aware hyperplane count for the PQ SERVING tier
    * ([[lshPqTopK]]) — the dual of [[autoPlanes]]. Dedup wants buckets
    * SMALL (planes bound the candidate-pair blowup); serving wants them
    * big enough that a query's own bucket still holds the k·expand
    * re-rank candidate set with margin, or recall collapses before the
    * `expand` knob can buy it back — the recall curve recorded in
    * docs/PLANS.md (round-14 entry) shows exactly that: at the 500-vector
    * gate corpus recall@10 DEGRADES monotonically in planes because the
    * expected bucket occupancy n/2^planes binds below k·expand. The contract here is the LARGEST
    * `planes` whose expected occupancy n/2^planes stays at or above
    * `occupancyFactor`·k·expand: per-query coarse ADC cost is then
    * ~flat (≈ occupancyFactor·k·expand rows scanned per query) while
    * the PRUNE RATIO improves ~linearly as the corpus grows — at 10×
    * the corpus this adds log₂ 10 ≈ 3 planes and the per-query scan
    * stays the same size instead of growing 10×. occupancyFactor is the
    * recall margin over the bare candidate count (hash buckets are
    * uneven, and the true neighbors must survive the bucket, not just
    * fill it); 4 holds the serving tier's recall at its full-scan
    * ceiling on the gate corpora (ScaleJoinsSpec pins that).
    * Clamped to [1, 48] like [[autoPlanes]] — a corpus below
    * 2·occupancyFactor·k·expand vectors gets 1 plane (halving is all
    * the prune that occupancy permits; below that, use [[pqTopK]]'s
    * full scan). */
  def autoServingPlanes(n: Long, k: Int, expand: Int,
                        occupancyFactor: Double = 4.0): Int = {
    require(k >= 1 && expand >= 1, s"k=$k expand=$expand must be >= 1")
    require(occupancyFactor > 0, s"occupancyFactor=$occupancyFactor must be > 0")
    val target = occupancyFactor * k * expand
    if (n <= 0) 1
    else {
      val raw = math.floor(math.log(n / target) / math.log(2.0)).toInt
      math.min(48, math.max(1, raw))
    }
  }

  /** Reciprocal-rank fusion (round 16) of ranked candidate lists — the
    * standard ensemble rule for serving stacks that run several retrieval
    * tiers (dense ANN variants, a sparse ranker, a recency index):
    * RRF(d) = Σ_lists 1/(rrfK + rank_list(d)), robust to incomparable
    * per-list scores because only RANKS enter. Inputs are the tiers'
    * published (query_id, neighbor_id, cosine) relations; rank within
    * each list is (cosine desc, neighbor_id) over the PUBLISHED values —
    * deterministic and replayable by any engine holding the same lists.
    * Contributions are exact integer micro-units,
    * floor(1e6/(rrfK + rank)) — IEEE double division + floor, identical
    * everywhere — summed as longs (max rank contribution 1e6/(rrfK+1);
    * thousands of lists would still sit far under int64).
    *
    * Scale shape: each list is already k·|queries| rows (tiny by
    * construction); per-list rank windows partition by query_id, one
    * union + one hash aggregate on (query, neighbor), TakeOrdered-style
    * top-k per query. Output: (query_id, neighbor_id, rrf_score,
    * n_lists) — n_lists surfaces the agreement count. */
  def rrfFuse(lists: Seq[DataFrame], k: Int, rrfK: Int = 60): DataFrame = {
    require(lists.nonEmpty && k >= 1 && rrfK >= 0,
      s"need >=1 list, k=$k >= 1, rrfK=$rrfK >= 0")
    val ranked = lists.map { df =>
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id").asc)
      df.select(col("query_id"), col("neighbor_id"), col("cosine"))
        .withColumn("__pts",
          floor(lit(1e6) / (lit(rrfK) + row_number().over(w))).cast("long"))
        .select(col("query_id"), col("neighbor_id"), col("__pts"))
    }
    val wF = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("neighbor_id").asc)
    ranked.reduce(_ unionByName _)
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("__pts")).as("rrf_score"), count(lit(1)).as("n_lists"))
      .withColumn("__rk", row_number().over(wF))
      .filter(col("__rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rrf_score"), col("n_lists"))
  }

  /** The layout's row encoding, shared by [[writeAnnIndex]] and
    * [[appendAnnIndex]]: (neighbor_id, bucket, pq_codes). */
  private def encodeIndexRows(corpus: DataFrame, idCol: String, vecCol: String,
                              codebook: Array[Array[Array[Double]]], planes: Int,
                              dim: Int): DataFrame =
    withPqCodes(corpus, vecCol, codebook, col(idCol).as("neighbor_id"),
      fusedBucket(corpus, vecCol, planes, dim).as("bucket"))

  /** Persist the [[lshPqTopK]] serving index with the bucket as the
    * STORAGE partition key: one parquet layout `partitionBy(bucket)` of
    * (id, pq_codes) rows — the "production layout" the [[lshPqTopK]]
    * scaladoc promises, where pruning happens at the directory level
    * before a single byte of the corpus is read. The codes are 32×
    * smaller than the float32 vectors and the vectors themselves are NOT
    * in the index (the exact re-rank joins them from the corpus by
    * candidate id — a broadcast of k·expand ids per query, so the float
    * column is only ever scanned for the winners). Write once, serve
    * many: at 100 TB the index is the only thing the coarse path ever
    * opens, and each query opens 1/2^planes of it. */
  def writeAnnIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    codebook: Array[Array[Array[Double]]], planes: Int,
                    dim: Int, path: String): Unit =
    encodeIndexRows(corpus, idCol, vecCol, codebook, planes, dim)
      .write.mode("overwrite").partitionBy("bucket").parquet(path)

  /** Incrementally GROW a [[writeAnnIndex]] layout (round 16): encode only
    * the new vectors and append their files into the existing `bucket=`
    * directories (a vector landing in a previously-unseen bucket creates
    * its directory). The layout is maintenance-friendly by construction —
    * bucket is a pure function of the vector, so an append never has to
    * touch, rewrite, or even LIST the existing data: cost is
    * O(|new batch|) however large the index has grown, the property that
    * makes a serving index sustainable under a daily-crawl ingest at
    * 100 TB (a full [[writeAnnIndex]] rebuild, about one serve query's
    * cost at sf0.1 per docs/PLANS.md "Round-15: s148 write-side cost
    * measured", is paid once per codebook/planes revision instead of per
    * batch).
    * Same-id re-ingestion is the caller's contract to avoid (the layout
    * is append-only, like the d93 signature store); [[queryAnnIndex]]
    * over the grown layout is bit-for-bit [[lshPqTopK]] over the unioned
    * corpus (spec-pinned and oracle-checked by s158). */
  def appendAnnIndex(newVectors: DataFrame, idCol: String, vecCol: String,
                     codebook: Array[Array[Array[Double]]], planes: Int,
                     dim: Int, path: String): Unit =
    encodeIndexRows(newVectors, idCol, vecCol, codebook, planes, dim)
      .write.mode("append").partitionBy("bucket").parquet(path)

  /** Query a [[writeAnnIndex]] layout. The query set's bucket VALUES are
    * derived up front (queries are the broadcast-sized side everywhere in
    * this family; this is one pass over that same small set) and pushed
    * as LITERAL `isin` partition filters — so the scan's PartitionFilters
    * prune whole `bucket=` directories statically, no runtime join needed
    * to skip them (ScaleJoinsSpec asserts the scan touches only the
    * matching directories). From there the chain is [[lshPqTopK]]'s
    * verbatim: per-query ADC against the once-evaluated distance table,
    * k·expand candidates, exact cosine re-rank from the corpus floats —
    * bit-for-bit the same result as the in-memory composition. */
  def queryAnnIndex(corpus0: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int,
                    codebook: Array[Array[Array[Double]]], planes: Int,
                    dim: Int, path: String, expand: Int = 4): DataFrame = {
    require(k >= 1 && expand >= 1, s"k=$k expand=$expand must be >= 1")
    // widen the re-rank corpus exactly as the in-memory twin (lshPqTopK)
    // does — without it the persisted-index path's exact re-rank ran at the
    // scan's native parallelism (r15 advice; results were unaffected)
    val corpus = graft.core.Par.widen(corpus0)
    val qb = queries.select(fusedBucket(queries, vecCol, planes, dim).as("__b"))
      .distinct().collect().map(_.getLong(0))
    // partition-column values come back via directory-name inference —
    // normalize to the long the bucket expression produces
    val idx = corpus.sparkSession.read.parquet(path)
      .filter(col("bucket").isin(qb.map(Long.box): _*))
      .select(col("neighbor_id"), col("bucket").cast("long").as("bucket"),
        col("pq_codes"))
    servePqIndex(idx, corpus, queries, idCol, vecCol, k, codebook, planes, dim, expand)
  }

  /** Per-LSH-bucket embedding centroids as a FLAT relation — one row per
    * (bucket, dimension) with the bucket's mean component and size. This is
    * the declarative cluster-summary pass under SemDeDup-style semantic
    * dedup and IVF cell maintenance: buckets come from the same
    * deterministic md5-derived hyperplanes as [[lshBucket]], so any engine
    * recomputes identical groups.
    *
    * Determinism at scale: a double mean over a distributed group depends
    * on reduction order — two runs (or two engines) disagree in the low
    * bits. Components are therefore rounded through DECIMAL(27,7) (exact,
    * order-independent sum; floats are ~7 significant digits, so 7 fixed
    * decimals loses nothing) and divided once at the end — the same
    * long-decimal trick the stats family uses for its sums.
    *
    * Scale shape: `posexplode` is a projection (rows × dim, but 3 narrow
    * columns); ONE map-side-combined hash exchange on (bucket, dim_pos) —
    * partial sums mean the exchange carries ~|buckets|·dim rows per map
    * partition, not rows·dim. Output is |buckets|·dim rows total. */
  def bucketCentroids(df: DataFrame, idCol: String, vecCol: String,
                      planes: Int, dim: Int): DataFrame = {
    val bucketed = df.select(
      fusedBucket(df, vecCol, planes, dim).as("bucket"), col(vecCol).as("__v"))
    bucketed.select(col("bucket"), posexplode(col("__v")).as(Seq("dim_pos", "comp")))
      .withColumn("dim_pos", col("dim_pos").cast("long"))
      .groupBy(col("bucket"), col("dim_pos"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("comp").cast("double").cast("decimal(27,7)")).as("__s"))
      .select(col("bucket"), col("dim_pos"), col("n_vectors"),
        floor6(col("__s").cast("double") / col("n_vectors")).as("centroid"))
  }

  /** Upper-triangle covariance matrix of the embedding distribution —
    * the whitening/PCA-prep statistic (SemDeDup-style semantic dedup and
    * IVF/PQ quantizers both work measurably better on whitened vectors;
    * this is the one-pass-per-moment input to that transform).
    * cov(i,j) = E[x_i·x_j] − E[x_i]·E[x_j], each expectation rounded
    * through [[floor6]] and every summed
    * term quantized to DECIMAL(27,7) first (the [[bucketCentroids]]
    * discipline) — order-independent reductions, so two runs, two
    * partitionings, or two engines agree bit-for-bit.
    *
    * Scale shape: the d² pair stream is generated and PARTIALLY
    * AGGREGATED inside one stage (Tungsten pipelines generate → hash-agg,
    * so the d²-per-row inflation never materializes and the shuffle
    * carries ≤ d(d+1)/2 rows per map partition); the n·d² multiply count
    * is the statistic's inherent cost. Component means ride a second,
    * d-group pass; both group counts are dimension-, not corpus-, sized.
    * Vectors of the wrong width are excluded (the [[lshBucket]] guard
    * convention). Returns (i, j, cov) for 0 ≤ i ≤ j < dim. */
  def covarianceUpper(df: DataFrame, vecCol: String, dim: Int): DataFrame =
    covarianceUpperWithMu(df, vecCol, dim).select(col("i"), col("j"), col("cov"))

  /** [[covarianceUpper]] plus the row-i component mean (`mu_i`) on every
    * output row — so ONE action yields both the matrix and the mean
    * vector (read the diagonal). Split out in r17 review: whitenModel
    * previously re-ran the identical means aggregation as a THIRD corpus
    * pass; with mu riding the cov rows the fit is the documented two
    * passes (means + second moments) in a single collect. */
  private[ops] def covarianceUpperWithMu(df: DataFrame, vecCol: String,
                                         dim: Int): DataFrame = {
    val v = graft.core.Par.widen(df)
      .select(col(vecCol).as("__v")).filter(size(col("__v")) === dim)
    val comp = v.select(posexplode(col("__v")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(count(lit(1)).as("__n"),
        sum(col("x").cast("double").cast("decimal(27,7)")).as("__s"))
      .select(col("i").cast("long").as("i"),
        floor6(col("__s").cast("double") / col("__n")).as("mu"))
    val pairs = v
      .select(col("__v"), posexplode(col("__v")).as(Seq("i", "x")))
      .select(col("i"), col("x"), posexplode(col("__v")).as(Seq("j", "y")))
      .filter(col("i") <= col("j"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("__n"),
        sum((col("x").cast("double") * col("y").cast("double"))
          .cast("decimal(27,7)")).as("__s"))
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        floor6(col("__s").cast("double") / col("__n")).as("__exy"))
    val mi = broadcast(comp.select(col("i"), col("mu").as("__mi")))
    val mj = broadcast(comp.select(col("i").as("j"), col("mu").as("__mj")))
    pairs.join(mi, "i").join(mj, "j")
      .select(col("i"), col("j"),
        floor6(col("__exy") - col("__mi") * col("__mj")).as("cov"),
        col("__mi").as("mu_i"))
  }

  /** Deterministic cyclic-Jacobi eigendecomposition of a symmetric matrix
    * — the dim²-bounded driver-side solve behind [[whitenModel]] (the
    * pqCodebookTrained precedent: bounded driver math is fine when the
    * input is dimension-, not corpus-, sized; a 64×64 solve is ~4M flops).
    * Determinism contract: FIXED cyclic rotation order (p<q row-major),
    * FIXED sweep count (no convergence-dependent early exit), and
    * StrictMath (fdlibm — bit-exact on every JVM, unlike java.lang.Math's
    * 2-ulp licence) for every transcendental — so the same matrix yields
    * the same eigenpairs on any machine, which is what lets the oracle
    * replay a projection from a refit's constants.
    *
    * Returns (eigenvalues, eigenvectors-as-rows), sorted by eigenvalue
    * DESC with index-order tie-break; each vector sign-normalized (its
    * largest-|entry| component made positive) so the basis is unique. */
  private[graft] def jacobiEigen(sym: Array[Array[Double]],
                                 sweeps: Int = 16): (Array[Double], Array[Array[Double]]) = {
    val n = sym.length
    val a = Array.tabulate(n, n)((i, j) => sym(i)(j))
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    while (sweep < sweeps) {
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          if (apq != 0.0) {
            // rotation angle zeroing a_pq: θ = ½·atan2(2a_pq, a_pp − a_qq)
            val theta = 0.5 * StrictMath.atan2(2.0 * apq, a(p)(p) - a(q)(q))
            val c = StrictMath.cos(theta); val s = StrictMath.sin(theta)
            var k = 0
            while (k < n) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp + s * akq
              a(k)(q) = -s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < n) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk + s * aqk
              a(q)(k) = -s * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp + s * vkq
              v(k)(q) = -s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val order = (0 until n).sortBy(i => (-a(i)(i), i))
    val vals = order.map(i => a(i)(i)).toArray
    val vecs = order.map { i =>
      val col = Array.tabulate(n)(r => v(r)(i))
      // unique sign: the largest-|entry| component (first on ties) positive
      var best = 0; var r = 1
      while (r < n) { if (StrictMath.abs(col(r)) > StrictMath.abs(col(best))) best = r; r += 1 }
      if (col(best) < 0) col.map(-_) else col
    }.toArray
    (vals, vecs)
  }

  /** Fit a PCA-whitening model over the embedding corpus: component means
    * + the top-`k` eigenvectors of [[covarianceUpper]]'s matrix, each
    * scaled by 1/√(λ+eps) — y = W·(x − μ) then has ~identity covariance,
    * the preprocessing every production embedding pipeline runs before
    * its quantizers (IVF/PQ train measurably better on decorrelated
    * axes; SemDeDup thresholds transfer across corpora). The moments are
    * the DECIMAL-quantized, floor-rounded corpus statistics (deterministic
    * and engine-portable); the eigensolve is [[jacobiEigen]]'s
    * deterministic driver artifact — so the model is a pure function of
    * the corpus, and an oracle can refit it at the same dir and replay the
    * PROJECTION from its constants (the s143 trained-codebook precedent).
    *
    * Scale shape: two corpus passes (means, second moments) whose shuffles
    * carry dimension-sized groups; the driver holds d² doubles. Returns
    * (mu, w) with w's k rows already whitening-scaled. */
  def whitenModel(df: DataFrame, vecCol: String, dim: Int, k: Int,
                  eps: Double = 1e-6): (Array[Double], Array[Array[Double]]) = {
    require(k >= 1 && k <= dim, s"k=$k must be in [1, $dim]")
    val mu = new Array[Double](dim)
    val cov = Array.ofDim[Double](dim, dim)
    // ONE action: the cov rows carry mu_i, so the mean vector reads off
    // the matrix collect (diagonal rows cover every i) — two corpus
    // passes total, not three (r17 review)
    covarianceUpperWithMu(df, vecCol, dim).collect().foreach { r =>
      val (i, j, c) = (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2))
      cov(i)(j) = c; cov(j)(i) = c
      if (i == j) mu(i) = r.getDouble(3)
    }
    val (vals, vecs) = jacobiEigen(cov)
    val w = Array.tabulate(k) { c =>
      val scale = 1.0 / StrictMath.sqrt(StrictMath.max(vals(c), 0.0) + eps)
      vecs(c).map(_ * scale)
    }
    (mu, w)
  }

  /** Apply a [[whitenModel]]: project every vector onto the model's k
    * whitened components — one codegen'd zip_with/aggregate chain per
    * component over LITERAL model arrays (no UDF, no shuffle; the same
    * higher-order-expression discipline as [[dot]]), outputs
    * rounded through [[floor6]]. Returns
    * (id, y0 … y{k−1}). */
  def whiten(df: DataFrame, idCol: String, vecCol: String,
             mu: Array[Double], w: Array[Array[Double]]): DataFrame = {
    val xd = transform(col(vecCol), x => x.cast("double"))
    val centered = zip_with(xd, lit(mu), (x, m) => x - m)
    val ys = w.zipWithIndex.map { case (row, c) =>
      floor6(aggregate(zip_with(centered, lit(row), (a, b) => a * b),
        lit(0.0), (s, t) => s + t)).as(s"y$c")
    }
    graft.core.Par.widen(df).filter(size(col(vecCol)) === mu.length)
      .select(col(idCol).as("id") +: ys.toSeq: _*)
  }

  /** Recall@k evaluation of an approximate ANN result against the exact
    * top-k — the tuning harness every ANN deployment runs before picking
    * planes/tables/nprobe (recall is THE accuracy axis those knobs trade
    * against cost; shipping a bucket config without measuring it is
    * guessing). Per query: |approx ∩ exact| / |exact|, with the ratio
    * through [[floor6]]. Queries whose approximate result is
    * empty (every probe missed) still appear, with n_approx = 0 — the
    * failure mode the report exists to expose.
    *
    * Both inputs are (query_id, neighbor_id)-shaped relations — q·k rows;
    * the evaluation costs two tiny aggregates, the work is in producing
    * the inputs. Returns (query_id, n_approx, n_exact, n_overlap, recall). */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    val a = approx.select(col("query_id"), col("neighbor_id"))
    val e = exact.select(col("query_id"), col("neighbor_id"))
    val hits = e.join(a.withColumn("__hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_overlap"))
    val ac = a.groupBy(col("query_id")).agg(count(lit(1)).as("n_approx"))
    hits.join(ac, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("n_approx"), lit(0L)).as("n_approx"),
        col("n_exact"), col("n_overlap"),
        floor6(col("n_overlap").cast("double") / col("n_exact")).as("recall"))
  }

  /** IVF (inverted-file) ANN: a coarse k-means quantizer partitions the
    * corpus into `nlist` cells; each query probes its `nprobe` nearest cells
    * and reranks exactly within them. The classic billion-scale layout: the
    * corpus is scanned once to assign cells (then the assignment is a
    * partition key), and each query touches ~`nprobe/nlist` of the data.
    *
    * Centroids come from `ml.KMeans` with a fixed seed on a BOUNDED
    * deterministic sample of the corpus (`trainCap` rows in md5(id) order —
    * a content-derived pseudo-random order any engine reproduces), so
    * training cost is constant in corpus size: the sample is one
    * `TakeOrderedAndProject` pass, and the Lloyd iterations touch only
    * `trainCap` rows instead of re-scanning the full corpus per iteration.
    * A coarse partitioner needs no more — cell quality converges fast and
    * recall comes from `nprobe`, not centroid polish.
    */
  def ivfTopK(corpus0: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              k: Int, nlist: Int = 16, nprobe: Int = 2,
              trainCap: Int = 4096): DataFrame = {
    val corpus = graft.core.Par.widen(corpus0)
    val spark = corpus.sparkSession
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    require(trainCap >= nlist, s"trainCap $trainCap must be >= nlist $nlist")
    val train = corpus
      .select(col(idCol).as("__id"), array_to_vector(
        transform(col(vecCol), x => x.cast("double"))).as("features"))
      .orderBy(md5(col("__id").cast("string")).asc, col("__id").asc)
      .limit(trainCap)
      .select("features")
      // staged (r18 optimization): KMeans.fit runs several init/iteration
      // jobs, and each one would otherwise recompute this lineage — a full
      // corpus scan + TakeOrdered per job for a ≤ trainCap-row input.
      // localCheckpoint preserves rows, order and partitioning exactly, so
      // the seeded fit sees identical data and produces identical centroids.
      .localCheckpoint()
    val model = new KMeans().setK(nlist).setSeed(42L).setMaxIter(3).fit(train)
    val centroids = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray.map(_.toFloat))
    }.toSeq
    def nearestCells(vec: Column, n: Int): Column = {
      // distances to every centroid inline (nlist is small); take n smallest
      val scored = array(centroids.map { case (i, cArr) =>
        val c = typedLit(cArr.toSeq)
        struct((lit(-1.0) * graft.functions.VectorExpressions
          .cosineNative(spark, vec, c)).as("d"), lit(i).as("cell"))
      }: _*)
      slice(array_sort(scored), 1, n)
    }
    val cellCorpus = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      element_at(nearestCells(col(vecCol), 1), 1).getField("cell").as("cell"))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode(transform(nearestCells(col(vecCol), nprobe), s => s.getField("cell"))).as("cell")))
    val scored = cellCorpus.join(q, cellCorpus("cell") === q("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", graft.functions.VectorExpressions.cosineNative(
        spark, col("qv"), col("cv")))
    cosineTopK(scored, "query_id", k)
  }

  /** LSH-bucketed ANN: candidates = corpus rows sharing the query's bucket
    * signature in ANY of `tables` independent hyperplane tables; exact
    * cosine rerank within. One table trades recall for a 1/2^planes
    * candidate fraction; `tables > 1` is the OR-amplification that buys the
    * recall back as `planes` grows with the corpus (per-table recall for
    * angle θ is (1-θ/π)^planes; miss probability compounds as its `tables`th
    * power) — the designated 100 TB ANN path.
    *
    * Table `t` uses hyperplane rows [t·planes, (t+1)·planes) of
    * `planeMatrix(tables·planes, dim)`. `planeMatrix` row p is a pure
    * function of (p, i) — independent of the matrix height — so table 0 of
    * a multi-table run reproduces the single-table buckets exactly and the
    * candidate set only ever GROWS with `tables`: recall is monotone in
    * `tables` by construction, never a re-roll of the hash dice.
    *
    * Scale shape (the [[nearDupPairs]] layout): the bucket join's corpus
    * side carries (id, tbl, bucket) ONLY — vectors stay out of the
    * table-multiplied stream and are fetched post-candidate with one
    * column-pruned scan against the deduped (query, neighbor) set; the
    * query side (small by contract) broadcasts with its vectors. A pair
    * sharing buckets in several tables is deduped BEFORE the vector fetch
    * and rerank, so the k² work is paid once per distinct candidate.
    *
    * Pass `dim` (the fixed embedding dimensionality) when known — it sizes
    * the hyperplane matrix. When negative it is discovered with a one-row
    * driver lookup, an extra (cheap) job composed pipelines can avoid. */
  def lshTopK(corpus0: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int, planes: Int = 8,
              dim: Int = -1, tables: Int = 1): DataFrame = {
    require(tables >= 1, s"tables=$tables must be >= 1")
    val corpus = graft.core.Par.widen(corpus0)
    val d = vectorDim(dim, vecCol, corpus)
    val c = bucketRows(corpus, idCol, vecCol, "neighbor_id", planes, tables, d)
    val qb = broadcast(bucketRows(queries, idCol, vecCol, "query_id", planes, tables, d))
    val cand = c.join(qb, Seq("tbl", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .select(col("query_id"), col("neighbor_id"))
    // vector fetch post-candidate: reads df0, not the widened df — the scan
    // does no per-row work pre-join (see nearDupPairs for the same choice)
    val cv = corpus0.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val qv = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val scored = cand.join(cv, "neighbor_id").join(qv, "query_id")
      .withColumn("cosine", graft.functions.VectorExpressions.cosineNative(
        corpus.sparkSession, col("qv"), col("cv")))
    cosineTopK(scored, "query_id", k)
  }

  /** Corpus k-NN GRAPH: for EVERY node, its top-k cosine neighbors among
    * the candidates sharing an LSH bucket with it — the building block
    * under semantic clustering, SemDeDup-style diversity pruning, label
    * propagation, and graph-based outlier scoring, where the "queries" are
    * the corpus itself and an all-pairs scan (n² at 100 TB) is never an
    * option.
    *
    * Same OR-amplified md5-derived hyperplane buckets as [[nearDupPairs]]
    * (so the oracle recomputes them exactly), but where nearDupPairs keeps
    * a symmetric pair ONCE (id_a < id_b) and thresholds on cosine, the
    * graph keeps BOTH directions (k-NN is per-node and asymmetric: b in
    * kNN(a) does not imply a in kNN(b)) and thresholds on per-node RANK.
    *
    * Scale shape: identical to [[nearDupPairs]] — ids-only bucket
    * exchange, candidate-sized vector-fetch joins (no broadcast hints;
    * AQE sizes them), then ONE hash exchange on node_id for the per-node
    * top-k. `WindowGroupLimit` pushes the rank filter into a per-partition
    * top-k, so the scored candidate set is never globally sorted. Recall
    * is the nearDupPairs table math: size `planes` ~log₂(n) (see
    * [[autoPlanes]]) and grow `tables` to buy recall back. Nodes whose
    * buckets are singletons in every table emit no rows — at sane plane
    * counts that is the definition of "no near neighbor found", and the
    * caller that needs total coverage lowers `planes` or unions a
    * brute-force pass over the leftover ids (both corpus-bounded). */
  def knnGraph(df0: DataFrame, idCol: String, vecCol: String, k: Int,
               planes: Int = 4, tables: Int = 2, dim: Int = -1): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val df = graft.core.Par.widen(df0)
    val bucketed = bucketRows(df, idCol, vecCol, "id", planes, tables,
      vectorDim(dim, vecCol, df))
    val a = bucketed.select(col("id").as("node_id"), col("tbl"), col("bucket"))
    val b = bucketed.select(col("id").as("neighbor_id"), col("tbl"), col("bucket"))
    val cand = a.join(b, Seq("tbl", "bucket"))
      .filter(col("node_id") =!= col("neighbor_id"))
      // INVARIANT consumers rely on: each directed (node, neighbor) edge
      // appears AT MOST ONCE in this graph's output — the dedup here plus
      // the row_number rank below guarantee it, and mutualKnnEdges' pair
      // count==2 mutuality test is only correct because of it. Do not
      // relax this dedup without updating that consumer.
      .dropDuplicates("node_id", "neighbor_id")
      .select(col("node_id"), col("neighbor_id"))
    // vector fetch post-candidate: reads df0, not the widened df (the scans
    // do no per-row work pre-join — the nearDupPairs rule)
    val vecs = df0.select(col(idCol).as("id"), col(vecCol).as("v"))
    val scored = cand
      .join(vecs.select(col("id").as("node_id"), col("v").as("nv")), "node_id")
      .join(vecs.select(col("id").as("neighbor_id"), col("v").as("cv")), "neighbor_id")
      .withColumn("cosine", graft.functions.VectorExpressions.cosineNative(
        df.sparkSession, col("nv"), col("cv")))
    cosineTopK(scored, "node_id", k)
  }

  /** INCREMENTAL [[knnGraph]] maintenance: fold a batch of new vectors
    * into an existing graph WITHOUT rebuilding it — the steady-state a
    * 100 TB pipeline lives in, where the corpus grows daily and a full
    * n²-candidate rebuild per ingest is the thing to never do (the s158
    * append-index precedent, applied to the graph).
    *
    * Affected set: the batch's nodes plus every existing node sharing an
    * LSH bucket with some batch vector — by construction the ONLY nodes
    * whose candidate set (hence top-k) can change; every other node's
    * neighbor list is provably identical to the full rebuild's, so append
    * ≡ rebuild EXACTLY (spec-pinned, and the driver row's oracle IS the
    * full-rebuild replay).
    *
    * Scale shape: bucket projections are scans (zero pairing); the
    * affected-detection join broadcasts the batch's distinct buckets; the
    * recompute join's probe side is affected-sized (AQE broadcasts it
    * against the streamed union buckets — the corpus is never shuffled);
    * per-ingest cost is O(scan) + O(affected × bucket-mates) ≈ O(batch)
    * at steady state. The untouched remainder of the graph is carried by
    * an anti join — change-sized output motion. */
  def appendKnnGraph(graph: DataFrame, corpus0: DataFrame, batch0: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     planes: Int = 4, tables: Int = 2,
                     dim: Int = -1): DataFrame = {
    val batch = graft.core.Par.widen(batch0)
    // dim inference must survive an EMPTY batch (the steady-state zero-new-
    // vectors ingest — r17 review): fall back to the corpus side
    val d = vectorDim(dim, vecCol, batch0, corpus0)
    // PRECONDITION (r17 review): batch ids must be NEW — a re-ingested
    // existing id would leave stale edges on unaffected nodes AND join two
    // vectors per id in the fetch, silently breaking append ≡ rebuild.
    // Checked loudly: one ids-only semi-join count per ingest, noise next
    // to the bucket scans. (UPDATING an existing vector = delete its edges
    // + append, a different operation.)
    val dup = batch0.select(col(idCol))
      .join(corpus0.select(col(idCol)), Seq(idCol), "left_semi").count()
    require(dup == 0L,
      s"appendKnnGraph: $dup batch id(s) already exist in the corpus — " +
        "append requires disjoint ids (re-ingesting an id needs delete+append)")
    // and UNIQUE within the batch itself (r17 second review): a doubled id
    // inside one ingest passes the corpus check but still duplicates the
    // vector fetch and burns two of a node's k slots on one neighbor
    // NULL ids counted in the SAME aggregate (r17 advice): count(id) and
    // countDistinct(id) both ignore NULLs, so a batch of NULL ids would
    // pass both guards and then be silently dropped at the bucket/vector
    // joins instead of rejected.
    val bs = batch0.agg(count(col(idCol)).as("n"),
      countDistinct(col(idCol)).as("nd"),
      count(when(col(idCol).isNull, lit(1))).as("nn")).head()
    require(bs.getLong(2) == 0L,
      s"appendKnnGraph: batch carries ${bs.getLong(2)} NULL id(s) — " +
        "NULL ids never match a join key and would be silently dropped")
    require(bs.getLong(0) == bs.getLong(1),
      s"appendKnnGraph: batch carries ${bs.getLong(0) - bs.getLong(1)} " +
        "duplicate id(s) — ids must be unique within the batch")
    def buckets(df: DataFrame) = bucketRows(df, idCol, vecCol, "id", planes, tables, d)
    val bNew = buckets(batch)
    // ids-only but referenced THREE times (affected detection + both cand
    // sides via bAll) — staged so the corpus-wide hyperplane math runs
    // once per ingest (r17 review; the t169 staging rule)
    val bOld = graft.ops.Checkpointing.stage(buckets(graft.core.Par.widen(corpus0)))
    val affected = batch.select(col(idCol).as("id"))
      .union(bOld
        .join(broadcast(bNew.select(col("tbl"), col("bucket")).distinct()),
          Seq("tbl", "bucket"))
        .select(col("id")))
      .distinct()
    val bAll = bOld.unionByName(bNew)
    val aSide = bAll.join(affected, Seq("id"))
      .select(col("id").as("node_id"), col("tbl"), col("bucket"))
    val bSide = bAll.select(col("id").as("neighbor_id"), col("tbl"), col("bucket"))
    val cand = aSide.join(bSide, Seq("tbl", "bucket"))
      .filter(col("node_id") =!= col("neighbor_id"))
      .dropDuplicates("node_id", "neighbor_id")
      .select(col("node_id"), col("neighbor_id"))
    val vecs = corpus0.select(col(idCol).as("id"), col(vecCol).as("v"))
      .unionByName(batch0.select(col(idCol).as("id"), col(vecCol).as("v")))
    val scored = cand
      .join(vecs.select(col("id").as("node_id"), col("v").as("nv")), "node_id")
      .join(vecs.select(col("id").as("neighbor_id"), col("v").as("cv")), "neighbor_id")
      .withColumn("cosine", graft.functions.VectorExpressions.cosineNative(
        batch.sparkSession, col("nv"), col("cv")))
    graph.join(affected.select(col("id").as("node_id")), Seq("node_id"), "left_anti")
      .unionByName(cosineTopK(scored, "node_id", k))
  }

  /** The MUTUAL edge list under [[mutualKnnClusters]] (and d173's triangle
    * stats): undirected (a < b) edges kept iff each endpoint is in the
    * other's gated top-k. Exposed because several graph analytics consume
    * the same construction. Degree is bounded by k BY CONSTRUCTION —
    * the property the downstream triangle join's work bound leans on. */
  def mutualKnnEdges(df: DataFrame, idCol: String, vecCol: String, k: Int,
                     minCosine: Double = -1.0, planes: Int = 4,
                     tables: Int = 2, dim: Int = -1): DataFrame = {
    // mutuality WITHOUT a self-join (r18 optimization): [[knnGraph]] emits
    // each directed edge at most once (candidates are de-duplicated before
    // ranking), so an undirected pair is mutual iff its canonical
    // (least, greatest) form appears exactly twice — one map-side-combining
    // aggregate over the edge list, versus the previous staged self-join
    // (a localCheckpoint materialization + two shuffles + an SMJ). The
    // canonical-pair exchange replaces all of that, and the directed list
    // now has ONE consumer, so the stage() materialization goes too.
    knnGraph(df, idCol, vecCol, k, planes, tables, dim)
      .filter(col("cosine") >= minCosine)
      .select(least(col("node_id"), col("neighbor_id")).as("a"),
        greatest(col("node_id"), col("neighbor_id")).as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") === 2)
      .select(col("a"), col("b"))
  }

  /** SEMANTIC CLUSTERS from the [[knnGraph]]: connected components over the
    * MUTUAL k-NN edges (kept iff a ∈ kNN(b) AND b ∈ kNN(a)) at or above
    * `minCosine` — the standard hub-resistant construction: a popular
    * "hub" vector lands in thousands of one-directional neighbor lists at
    * 100 TB and would glue unrelated regions into one giant component;
    * mutuality caps its degree at its OWN k. Downstream: cluster-aware
    * train/eval splits, diversity sampling (one doc per semantic cluster),
    * cluster-size weighting.
    *
    * `minCosine` is NOT decorative: rank alone adapts to local density, so
    * on a corpus with no real cluster structure every node still has k
    * neighbors and the mutual graph percolates into one giant component
    * (measured here: 99% of the sf0.1 corpus in a single cluster with the
    * gate open) — which also makes every consumer of "the cluster" a
    * corpus-sized degenerate. Gate by the similarity that MEANS something
    * for the embedding space (the SemDeDup recipe: kNN first, similarity
    * cut second). The gate compares the graph's 4dp-rounded cosine — the
    * value an engine-portable replay also computes. Default -1.0 = open.
    *
    * Every node gets a cluster: components take min-member-id as cluster_id
    * (via [[Dedup.connectedComponents]]'s bounded-round label propagation);
    * nodes with no surviving mutual edge are singletons under their own id.
    *
    * Scale shape: [[knnGraph]]'s candidate discipline, then the mutuality
    * self-join on ≤ k·n id-pair rows (ids only — vectors never re-enter),
    * CC over the mutual subset (≤ k·n/2 edges, rounds bounded by component
    * diameter with pointer-jumping), one size aggregate. Per-side toDF
    * renames keep the same-lineage self-join's predicate real. */
  def mutualKnnClusters(df: DataFrame, idCol: String, vecCol: String, k: Int,
                        minCosine: Double = -1.0, planes: Int = 4,
                        tables: Int = 2, dim: Int = -1): DataFrame = {
    val mutual = mutualKnnEdges(df, idCol, vecCol, k, minCosine, planes, tables, dim)
    val cc = Dedup.connectedComponents(mutual, "a", "b")
    val ids = df.select(col(idCol).as("id"))
    val labeled = ids.join(cc.select(col("node").as("id"), col("component")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("cluster_id"))
    val sizes = labeled.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "cluster_id")
      .select(col("id").as(idCol), col("cluster_id"), col("cluster_size"))
  }
}
