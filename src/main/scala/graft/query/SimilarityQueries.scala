package graft.query

import graft.ops.{Checkpointing, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Shared._

/** Vector-similarity driver queries: exact and LSH/IVF/PQ nearest
  * neighbours, recall checks, whitening and kNN graphs. */
object SimilarityQueries {

  val specs: Seq[QuerySpec] = Seq(
    // exact brute-force cosine top-k (ANN baseline)
    QuerySpec("s29_ann_brute", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 8), "vec_id", "embedding", k = 10)
        .orderBy(col("query_id"), col("neighbor_id"))
    }, Sql(
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS nid, embedding AS cv FROM embeddings),
        |scored AS (
        |  SELECT qid, nid,
        |    list_sum([CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) for i in range(1, len(qv)+1)]) /
        |    (sqrt(list_sum([CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE) for i in range(1, len(qv)+1)])) *
        |     sqrt(list_sum([CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) for i in range(1, len(cv)+1)]))) AS cosine
        |  FROM q, c WHERE qid <> nid),
        |ranked AS (SELECT qid, nid, cosine,
        |  row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rn FROM scored)
        |SELECT qid AS query_id, nid AS neighbor_id, round(cosine, 4) AS cosine
        |FROM ranked WHERE rn <= 10 ORDER BY query_id, neighbor_id""".stripMargin)),

    // LSH-bucketed ANN (the scale path; approximate) — OR-amplified over 2
    // independent hyperplane tables, candidates deduped before the exact
    // rerank; md5-derived planes, so the oracle recomputes identical buckets
    // Oracle: LSH hyperplanes are md5-derived literals (Similarity.planeMatrix), so
    // the oracle recomputes the same buckets and the same rerank.
    QuerySpec("s30_ann_lsh", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshTopK(e, e.filter(col("vec_id") < 8), "vec_id", "embedding",
          k = 10, planes = 6, dim = 64, tables = 2)
        .orderBy(col("query_id"), col("neighbor_id"))
    }, Sql(lshOracle(planes = 6, tables = 2, dim = 64, k = 10))),

    // IVF ANN (coarse k-means quantizer + nprobe cells; approximate)
    QuerySpec("s36_ann_ivf", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 8), "vec_id", "embedding",
          k = 10, nlist = 16, nprobe = 3)
        .orderBy(col("query_id"), col("neighbor_id"))
    }, RowsOnly("iterative float k-means has no SQL replay; bound: ScaleJoinsSpec " +
      "\"IVF ANN: exact when probing all cells; recall floor and score parity at nprobe=3\"")),

    // s36's ORACLE-CHECKED companion (round 17, r16 verdict #6): the IVF
    // machinery's EXHAUSTIVENESS invariant, graded s142-style — with
    // nprobe = nlist every cell is probed, so cell assignment + candidate
    // generation + rerank must reproduce the exact top-k EXACTLY
    // (recall 1.0, overlap = n_exact = min(k, corpus−1)) at any scale,
    // regardless of where the float k-means dropped the centroids. Every
    // output column is an SQL-replayable constant, so a vector lost by
    // the cell pipeline hash-mismatches the gate; s36 keeps the
    // approximate (nprobe < nlist) config as the rows-only row
    // Oracle: s164: with every cell probed the report is a constant — n_approx =
    // n_exact = n_overlap = min(k, n−1) and recall exactly 1.0; any
    // vector the IVF cell pipeline loses breaks the equality
    QuerySpec("s164_ivf_recall", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 10)
      val approx = Similarity.ivfTopK(e, q, "vec_id", "embedding",
        k = 10, nlist = 16, nprobe = 16)
      Similarity.recallAtK(approx, exact)
        .orderBy(col("query_id"))
    }, Sql(
      """WITH n AS (SELECT count(*) AS c FROM embeddings)
        |SELECT vec_id AS query_id,
        |  CAST(least(10, c - 1) AS BIGINT) AS n_approx,
        |  CAST(least(10, c - 1) AS BIGINT) AS n_exact,
        |  CAST(least(10, c - 1) AS BIGINT) AS n_overlap,
        |  CAST(1.0 AS DOUBLE) AS recall
        |FROM embeddings, n WHERE vec_id < 8 ORDER BY query_id""".stripMargin)),

    // int8 embedding quantization (the 4x storage tier): absmax codes plus
    // per-vector scale and the mean-abs reconstruction error — all IEEE-
    // exact double math, so codes AND the error hash-match the oracle
    // Oracle: absmax int8 codes: round() is half-up (away from zero) in both
    // engines; cast of an integral double is exact; the error fold is the
    // same sequential left fold cosine parity already relies on
    QuerySpec("s76_quantize_int8", (s, dir) => {
      val q = Similarity.quantizeInt8(t(s, dir, "embeddings"), "vec_id", "embedding",
        keepVec = true)
      val err = aggregate(
        zip_with(col("vec"), col("qvec"),
          (x, c) => abs(x - c.cast("double") * col("scale"))),
        lit(0.0), (a, v) => a + v) / size(col("qvec"))
      // err is materialized BEFORE the select that aliases round(scale) to
      // the same name "scale": Spark 4's lateral column alias resolution
      // would otherwise bind err's scale reference to the ROUNDED alias,
      // skewing the error in the 3rd significant digit.
      // Codes serialized to CSV: the driver's compare hashes scalar cells,
      // not arrays (same reason q53 stringifies its list)
      q.withColumn("mae_raw", err)
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          array_join(col("qvec"), ",").as("qvec_csv"),
          round(col("mae_raw"), 6).as("mae"))
        .orderBy(col("vec_id"))
    }, Sql(
      """WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
        |s AS (SELECT vec_id, e, list_max([abs(x) for x in e]) / 127.0 AS scale FROM v),
        |q AS (SELECT vec_id, e, scale,
        |  [CAST(coalesce(round(x / nullif(scale, 0)), 0) AS INTEGER) for x in e] AS qvec FROM s)
        |SELECT vec_id, round(scale, 6) AS scale,
        |  array_to_string(qvec, ',') AS qvec_csv,
        |  round(list_sum([abs(e[i] - qvec[i] * scale) for i in range(1, len(e)+1)]) / len(e), 6) AS mae
        |FROM q ORDER BY vec_id""".stripMargin)),

    // per-LSH-bucket embedding centroids as a flat (bucket, dim) relation —
    // order-independent DECIMAL component sums make the distributed mean
    // deterministic (and therefore oracle-able) despite double arithmetic
    // Oracle: buckets from the same md5-derived hyperplanes; the component sum goes
    // through DECIMAL(27,7) in both engines (double→decimal casts round
    // half-away-from-zero in both), so the mean is order-independent
    QuerySpec("s100_bucket_centroids", (s, dir) => {
      Similarity.bucketCentroids(t(s, dir, "embeddings"), "vec_id", "embedding",
          planes = 5, dim = 64)
        .orderBy(col("bucket"), col("dim_pos"))
    }, Sql(centroidOracle(planes = 5, dim = 64))),

    // AUTO-sized bucket-pruned PQ serving (round 15): lshPqTopKAuto's
    // contract as a driver row — autoServingPlanes picks the largest
    // plane count keeping expected bucket occupancy over 4·k·expand, so
    // per-query coarse cost stays flat while the prune ratio tracks the
    // corpus. The oracle recomputes the knob from the same dir through
    // servingPlanesOf (the d74/p92 technique), so it replays the auto
    // contract exactly at ANY scale — retiring the r15 rationale that a
    // count-derived serving knob cannot be a SQL constant (sf0.01:
    // planes=1; sf0.1: planes=3 — the ScaleJoinsSpec-pinned picks)
    // Oracle: the auto-serving row: s123's chain at that plane count
    QuerySpec("s151_lshpq_auto", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val planes = servingPlanesOf(emb)
      Similarity.lshPqTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 10,
          codebook = Similarity.pqCodebook(8, 16, 8),
          planes = planes, dim = 64, expand = 4)
        .orderBy(col("query_id"), col("neighbor_id"))
    }, FromData((s, dir) => lshPqOracle(m = 8, kc = 16, subDim = 8,
      planes = servingPlanesOf(t(s, dir, "embeddings")), dim = 64, kTop = 10, expand = 4))),

    // sparse "more-like-this" (round 16): document pairs by TF-IDF cosine
    // over a word-TRIGRAM inverted-index self-join — the sparse complement
    // of the dense ANN family (near-dup = verbatim copies, embedding ANN =
    // semantic neighbors, this = exact explainable vocabulary neighbors).
    // Integer milli-unit weights, DECIMAL-exact dots/norms, IEEE-exact
    // sqrt/divide, floor-rounded output; the d22 df-cap bounds the pair
    // generator
    // Oracle: s157: trigram-term tf-idf cosine pairs — integer milli-unit weights
    // (floor form), exact integer dots/norms (DuckDB sums BIGINT into
    // HUGEINT; the engine carries DECIMAL(38,0)), IEEE sqrt/divide in the
    // operator's operand order, floor-rounded
    QuerySpec("s157_sparse_mlt", (s, dir) => {
      graft.ops.TextIndex.sparseCosinePairs(t(s, dir, "documents"),
          "doc_id", "text", threshold = 0.5, maxDf = 500, ngram = 3)
        .orderBy(col("id_a"), col("id_b"))
    }, Sql(
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
        |  FROM documents),
        |terms AS (SELECT doc_id, unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)]) AS w
        |          FROM toks WHERE len(t) >= 3),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM terms GROUP BY 1, 2),
        |dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        |n AS (SELECT count(*) AS n FROM documents),
        |wq AS (SELECT doc_id, tf.w, CAST(floor(tf * (n.n - df + 0.5) / (df + 0.5) * 1e3 + 0.5) AS BIGINT) AS wq, df
        |       FROM tf JOIN dfq ON dfq.w = tf.w CROSS JOIN n),
        |norms AS (SELECT doc_id, sum(CAST(wq AS HUGEINT) * wq) AS norm2 FROM wq GROUP BY doc_id),
        |posts AS (SELECT * FROM wq WHERE df <= 500),
        |dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(CAST(a.wq AS HUGEINT) * b.wq) AS dot
        |         FROM posts a JOIN posts b ON a.w = b.w AND a.doc_id < b.doc_id
        |         GROUP BY 1, 2),
        |cosv AS (SELECT id_a, id_b,
        |  CAST(dot AS DOUBLE) / (sqrt(CAST(na.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE))) AS c
        |  FROM dots JOIN norms na ON na.doc_id = id_a JOIN norms nb ON nb.doc_id = id_b)
        |SELECT id_a, id_b, floor(c * 1e6 + 0.5) / 1e6 AS cosine
        |FROM cosv WHERE c >= 0.5 ORDER BY id_a, id_b""".stripMargin)),

    // PERSISTED PQ serving index (round 15): s123's composition with the
    // LSH bucket as the STORAGE partition key. writeAnnIndex lays out
    // (id, pq_codes) partitionBy(bucket) once per (JVM, dir, data
    // fingerprint) — q50's bucketed-table caching rule — and
    // queryAnnIndex pushes the query set's bucket values as LITERAL
    // partition filters, so whole bucket= directories are pruned before
    // a byte is read (ScaleJoinsSpec asserts the file-level prune). The
    // chain downstream is lshPqTopK's verbatim, so the s123 oracle
    // replays this result bit-for-bit too
    // Oracle: the persisted-index path is lshPqTopK's math over a partitionBy
    // layout — same oracle chain as s123
    QuerySpec("s148_ann_partitioned", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      // the layout knobs, declared ONCE: the cache fingerprint below and
      // the write/query calls interpolate these same vals (r15 advice —
      // detached string literals in the key meant a knob edit could serve
      // a stale on-disk index silently, the exact failure the key exists
      // to prevent)
      val planes = 3
      val (cbM, cbK, cbSub) = (8, 16, 8)
      val cb = graft.ops.Similarity.pqCodebook(cbM, cbK, cbSub)
      // cache key = data fingerprint (q50's rule) PLUS every parameter the
      // on-disk layout was derived under (planes, codebook spec, a layout
      // version) — a knob edit must invalidate the index, or stale
      // bucket=/code partitions would serve silently-wrong candidates
      val sfx = {
        val md = java.security.MessageDigest.getInstance("MD5")
        md.digest(s"$dir|${tableFingerprint(s, dir, "embeddings")}|planes=$planes|cb=grid-$cbM-$cbK-$cbSub|v1"
            .getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(12)
      }
      val path = s"spark-warehouse/graft_ann_$sfx"
      if (!new java.io.File(s"$path/_SUCCESS").exists())
        graft.ops.Similarity.writeAnnIndex(emb, "vec_id", "embedding", cb,
          planes = planes, dim = 64, path = path)
      graft.ops.Similarity.queryAnnIndex(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 10, codebook = cb, planes = planes, dim = 64,
          path = path, expand = 4)
        .orderBy(col("query_id"), col("neighbor_id"))
    }, Sql(lshPqOracle(m = 8, kc = 16, subDim = 8,
      planes = 3, dim = 64, kTop = 10, expand = 4))),

    // reciprocal-rank FUSION across serving tiers (round 16): the s120
    // full-scan ADC ranking and the s123 bucket-pruned ranking fused by
    // RRF — the standard multi-tier serving ensemble (only ranks enter,
    // so incomparable tier scores fuse robustly; n_lists surfaces
    // cross-tier agreement). Exact integer micro-unit contributions, so
    // the oracle replays the fusion over its own replays of both tiers
    // Oracle: both tier replays embedded as subqueries, fused by the exact
    // integer-micro-unit RRF rule over their published rankings
    QuerySpec("s160_rank_fusion", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      val cb = graft.ops.Similarity.pqCodebook(8, 16, 8)
      val pq = graft.ops.Similarity.pqTopK(emb, q, "vec_id", "embedding",
        k = 10, codebook = cb, expand = 4)
      val lshpq = graft.ops.Similarity.lshPqTopK(emb, q, "vec_id", "embedding",
        k = 10, codebook = cb, planes = 3, dim = 64, expand = 4)
      graft.ops.Similarity.rrfFuse(Seq(pq, lshpq), k = 10, rrfK = 60)
        .orderBy(col("query_id"), col("neighbor_id"))
    }, Sql(rrfOracle(Seq(
      pqOracle(m = 8, kc = 16, subDim = 8, kTop = 10, expand = 4),
      lshPqOracle(m = 8, kc = 16, subDim = 8, planes = 3, dim = 64,
        kTop = 10, expand = 4)), kTop = 10, rrfK = 60))),

    // PCA WHITENING (round 17, r16 verdict #5 — completes the s137 story:
    // the covariance matrix finally has its consumer): fit = the
    // DECIMAL-quantized corpus moments + a deterministic driver-side
    // cyclic-Jacobi eigensolve (StrictMath, fixed rotation order — the
    // pqCodebookTrained bounded-driver-math precedent), apply = one
    // codegen'd zip_with/aggregate projection per component over literal
    // model arrays. The oracle refits (mu, W) at the same dir through
    // whitenFitOf and replays the projection from those constants (the
    // s143 technique) — hash-exact at any SF because the fit is
    // deterministic
    QuerySpec("s162_whitening", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val (mu, w) = whitenFitOf(e)
      graft.ops.Similarity.whiten(e, "vec_id", "embedding", mu, w)
        .orderBy(col("id"))
    }, FromData((s, dir) => whitenOracle(whitenFitOf(t(s, dir, "embeddings"))))),

    // WHITENED ANN serving (round 17): the s162 projection actually
    // FEEDING search — corpus and queries projected onto the 8 whitened
    // components, exact cosine top-k in the reduced space (the
    // dimensionality-reduction serving stage every production embedding
    // pipeline runs: 8× fewer dims per distance at recall governed by the
    // spectrum). Chain = whiten (codegen'd literal-array projections) →
    // the s29 exact-top-k shape; oracle replays projection + cosine +
    // rank from whitenFitOf's model
    QuerySpec("s166_whitened_ann", (s, dir) => {
      val e = t(s, dir, "embeddings")
      // fits its own model: s166's warm min includes the whitening fit
      val (mu, w) = whitenFitOf(e)
      val y = graft.ops.Similarity.whiten(e, "vec_id", "embedding", mu, w)
        .select(col("id"), array((0 until 8).map(i => col(s"y$i")): _*).as("yv"))
      val q = broadcast(y.filter(col("id") < 8)
        .select(col("id").as("query_id"), col("yv").as("qv")))
      val c = y.select(col("id").as("neighbor_id"), col("yv").as("cv"))
      val scored = c.crossJoin(q)
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("cosine", graft.ops.Similarity.cosine(col("qv"), col("cv")))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id").asc)
      scored.withColumn("rn", row_number().over(win))
        .filter(col("rn") <= 10)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 4).as("cosine"))
        .orderBy(col("query_id"), col("neighbor_id"))
    }, FromData((s, dir) => whitenedAnnOracle(whitenFitOf(t(s, dir, "embeddings")), kTop = 10))),

    // INCREMENTAL index growth (round 16): the s148 layout built from 80%
    // of the corpus, then GROWN by appendAnnIndex with the remaining 20% —
    // the daily-ingest maintenance path (append cost is O(batch), the
    // existing layout is never touched). Queries over the grown layout
    // must equal lshPqTopK over the full corpus, so the oracle is s148's
    // verbatim — hash-exact proves the append path loses nothing
    // Oracle: the incrementally-GROWN layout must serve the identical result over
    // the unioned corpus — s148's oracle verbatim; a hash match proves
    // append-maintenance loses nothing
    QuerySpec("s158_ann_index_append", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val planes = 3
      val (cbM, cbK, cbSub) = (8, 16, 8)
      val cb = graft.ops.Similarity.pqCodebook(cbM, cbK, cbSub)
      val path = roundtripDir("annincr", dir, tableFingerprint(s, dir, "embeddings")) { tmp =>
        graft.ops.Similarity.writeAnnIndex(
          emb.filter(col("vec_id") % 5 =!= 0), "vec_id", "embedding", cb,
          planes = planes, dim = 64, path = s"$tmp/idx")
        graft.ops.Similarity.appendAnnIndex(
          emb.filter(col("vec_id") % 5 === 0), "vec_id", "embedding", cb,
          planes = planes, dim = 64, path = s"$tmp/idx")
      }
      graft.ops.Similarity.queryAnnIndex(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 10, codebook = cb, planes = planes,
          dim = 64, path = s"$path/idx", expand = 4)
        .orderBy(col("query_id"), col("neighbor_id"))
    }, Sql(lshPqOracle(m = 8, kc = 16, subDim = 8,
      planes = 3, dim = 64, kTop = 10, expand = 4))),

    // two-stage ANN: int8 coarse scan (exact integer dot × scales) picks
    // k·4 candidates per query, exact float cosine re-ranks them to top-k
    // — the memory-bandwidth play, deterministic end-to-end so the oracle
    // reproduces candidate set AND final ranking bit-for-bit
    // Oracle: s76's quantize chain for the codes; coarse = exact integer dot of
    // the codes × the two scales (one double product, fixed association);
    // both windows tie-break on neighbor id, so candidate set and final
    // ranking are engine-identical; exact cosine = the s29 formula
    QuerySpec("s115_rerank_exact", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ops.Similarity.rerankTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 10, expand = 4)
        .orderBy(col("query_id"), col("neighbor_id"))
    }, Sql(
      """WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
        |sc AS (SELECT vec_id, e, list_max([abs(x) for x in e]) / 127.0 AS scale FROM v),
        |q AS (SELECT vec_id, e, scale,
        |  [CAST(coalesce(round(x / nullif(scale, 0)), 0) AS BIGINT) for x in e] AS qv FROM sc),
        |qs AS (SELECT vec_id AS query_id, e AS qe, scale AS qscale, qv AS qqv FROM q WHERE vec_id < 8),
        |coarse AS (SELECT query_id, c.vec_id AS neighbor_id,
        |  CAST(list_sum([qqv[i] * c.qv[i] for i in range(1, len(qqv) + 1)]) AS DOUBLE) * qscale * c.scale AS approx
        |  FROM qs, q c WHERE c.vec_id <> query_id),
        |cand AS (SELECT query_id, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY approx DESC, neighbor_id) AS rn
        |  FROM coarse) WHERE rn <= 40),
        |ex AS (SELECT cand.query_id, cand.neighbor_id,
        |  list_sum([qs.qe[i] * ce.e[i] for i in range(1, len(qs.qe) + 1)]) /
        |  (sqrt(list_sum([qs.qe[i] * qs.qe[i] for i in range(1, len(qs.qe) + 1)])) *
        |   sqrt(list_sum([ce.e[i] * ce.e[i] for i in range(1, len(ce.e) + 1)]))) AS cosine
        |  FROM cand JOIN qs USING (query_id) JOIN q ce ON ce.vec_id = cand.neighbor_id),
        |r AS (SELECT query_id, neighbor_id, cosine,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk FROM ex)
        |SELECT query_id, neighbor_id, round(cosine, 4) AS cosine FROM r
        |WHERE rk <= 10 ORDER BY query_id, neighbor_id""".stripMargin)),

    // hard-negative mining: per query, the top-k most-similar vectors with
    // a DIFFERENT label — boundary-hugging negatives for contrastive
    // training. One corpus scan, broadcast queries, salted two-stage top-k
    // Oracle: s29's brute-force cosine with the label-mismatch predicate fused in
    QuerySpec("s131_hard_negatives", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 8),
          "vec_id", "embedding", "label", k = 10)
        .orderBy(col("query_id"), col("neighbor_id"))
    }, Sql(
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS ql FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS nid, embedding AS cv, label AS nl FROM embeddings),
        |scored AS (
        |  SELECT qid, nid, nl,
        |    list_sum([CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) for i in range(1, len(qv)+1)]) /
        |    (sqrt(list_sum([CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE) for i in range(1, len(qv)+1)])) *
        |     sqrt(list_sum([CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) for i in range(1, len(cv)+1)]))) AS cosine
        |  FROM q, c WHERE qid <> nid AND nl <> ql),
        |ranked AS (SELECT qid, nid, nl, cosine,
        |  row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rn FROM scored)
        |SELECT qid AS query_id, nid AS neighbor_id, nl AS neg_label, round(cosine, 4) AS cosine
        |FROM ranked WHERE rn <= 10 ORDER BY query_id, neighbor_id""".stripMargin)),

    // recall@k evaluation: s30's LSH config measured against s29's exact
    // top-k — the tuning report an ANN deployment runs before fixing
    // planes/tables; queries with an empty approximate result still
    // appear with n_approx = 0
    QuerySpec("s142_ann_recall", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 10)
      val approx = Similarity.lshTopK(e, q, "vec_id", "embedding",
        k = 10, planes = 6, dim = 64, tables = 2)
      Similarity.recallAtK(approx, exact).orderBy(col("query_id"))
    }, Sql(annRecallOracle(planes = 6, tables = 2, dim = 64, k = 10))),

    // recall@k for the PQ serving tiers (round 14): s120's full-scan ADC
    // and s123's bucket-pruned composition graded against the exact top-k
    // in one report — the same measured-recall evidence the LSH tier has
    // had since s142, so the quantization + pruning knobs (m, kc, expand,
    // planes) ship with numbers, not guesses. The exact side is staged
    // once (localCheckpoint) so the brute-force pass — the harness's real
    // cost at corpus scale — isn't recomputed per graded tier.
    // Round 15 adds tier 'pqt': the TRAINED per-subspace k-means codebook
    // (x120's real-deployment form) graded in the same report. The fit is
    // a deterministic driver artifact (capped md5-ordered sample, Lloyd
    // with first-k-distinct seeding — Similarity.pqCodebookTrained), so
    // the oracle refits the codebook at the same dir (trainedCodebookOf),
    // inlines those constants and replays the serving chain bit-for-bit,
    // exactly as it does for the md5-grid constants — and because the
    // refit runs at whatever SF the oracle is generated for, the replay
    // stays exact across scales (no d74/p92-style gate pin)
    QuerySpec("s143_pq_recall", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
      val exact = Checkpointing.stage(
        Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 10))
      val cb = Similarity.pqCodebook(8, 16, 8)
      val cbt = trainedCodebookOf(e)
      val pq = Similarity.pqTopK(e, q, "vec_id", "embedding", k = 10,
        codebook = cb, expand = 4)
      val lshpq = Similarity.lshPqTopK(e, q, "vec_id", "embedding", k = 10,
        codebook = cb, planes = 3, dim = 64, expand = 4)
      val pqt = Similarity.pqTopK(e, q, "vec_id", "embedding", k = 10,
        codebook = cbt, expand = 4)
      Similarity.recallAtK(pq, exact).withColumn("tier", lit("pq"))
        .unionByName(Similarity.recallAtK(lshpq, exact).withColumn("tier", lit("lshpq")))
        .unionByName(Similarity.recallAtK(pqt, exact).withColumn("tier", lit("pqt")))
        .select(col("tier"), col("query_id"), col("n_approx"), col("n_exact"),
          col("n_overlap"), col("recall"))
        .orderBy(col("tier"), col("query_id"))
    }, FromData((s, dir) => pqRecallOracle(m = 8, kc = 16, subDim = 8,
      planes = 3, dim = 64, kTop = 10, expand = 4, cbT = trainedCodebookOf(t(s, dir, "embeddings"))))),

    // whitening/PCA-prep: upper-triangle covariance of the embedding
    // distribution — d²-pair stream partially aggregated in-stage (the
    // shuffle carries ≤ d(d+1)/2 rows per partition), expectations
    // decimal-quantized + floor-rounded so both engines agree bit-for-bit
    // Oracle: the same moment quantization (terms to DECIMAL(27,7), expectations
    // floor-rounded) replayed over 1-based subscripts shifted to 0-based
    QuerySpec("s137_embedding_covariance", (s, dir) => {
      Similarity.covarianceUpper(t(s, dir, "embeddings"), "embedding", dim = 64)
        .orderBy(col("i"), col("j"))
    }, Sql(
      """WITH u AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
        |  CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings WHERE len(embedding) = 64),
        |mu AS (SELECT i, floor(CAST(sum(CAST(x AS DECIMAL(27,7))) AS DOUBLE)
        |                      / count(*) * 1e6 + 0.5) / 1e6 AS mu
        |       FROM u GROUP BY i),
        |m2 AS (SELECT a.i AS i, b.i AS j, count(*) AS n,
        |         sum(CAST(a.x * b.x AS DECIMAL(27,7))) AS s
        |       FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.i <= b.i
        |       GROUP BY a.i, b.i)
        |SELECT m2.i, m2.j,
        |  floor((floor(CAST(s AS DOUBLE) / n * 1e6 + 0.5) / 1e6 - ma.mu * mb.mu)
        |        * 1e6 + 0.5) / 1e6 AS cov
        |FROM m2 JOIN mu ma ON ma.i = m2.i JOIN mu mb ON mb.i = m2.j
        |ORDER BY m2.i, m2.j""".stripMargin)),

    // bucket-pruned PQ ANN — the billion-scale serving shape: LSH bucket
    // partition (query touches 1/8 of the corpus via an EQUI join), ADC
    // over 32×-compressed codes in-bucket, exact re-rank of the winners;
    // every stage deterministic, so the oracle replays it end to end
    QuerySpec("s123_lshpq_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ops.Similarity.lshPqTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 10,
          codebook = graft.ops.Similarity.pqCodebook(8, 16, 8),
          planes = 3, dim = 64, expand = 4)
        .orderBy(col("query_id"), col("neighbor_id"))
    }, Sql(lshPqOracle(m = 8, kc = 16, subDim = 8,
      planes = 3, dim = 64, kTop = 10, expand = 4))),

    // PQ-compressed ANN: 64-dim float32 → 8 codes (32× smaller corpus
    // scan), ADC candidate scoring from the query's inlined distance
    // table, exact cosine re-rank of k·4 candidates; the md5-grid
    // codebook keeps the full hash-exact oracle (a trained codebook
    // would swap in via pqCodebook and go rows-only, the IVF precedent)
    QuerySpec("s120_pq_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ops.Similarity.pqTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 10,
          codebook = graft.ops.Similarity.pqCodebook(8, 16, 8), expand = 4)
        .orderBy(col("query_id"), col("neighbor_id"))
    }, Sql(pqOracle(m = 8, kc = 16, subDim = 8, kTop = 10, expand = 4))),

    // corpus k-NN GRAPH (round 17): per-NODE top-k cosine neighbors from
    // LSH-bucket candidates — the primitive under semantic clustering,
    // SemDeDup diversity pruning, and label propagation, where the query
    // set IS the corpus and all-pairs is never an option. nearDupPairs'
    // dual: both directions kept (k-NN is asymmetric), RANK threshold
    // instead of a cosine threshold; same md5-derived planes, so the
    // oracle recomputes identical buckets
    // Oracle: the s30 bucket-replay oracle generalized to every node as its own
    // query (rank ≤ k per node, both directions)
    QuerySpec("s170_knn_graph", (s, dir) => {
      graft.ops.Similarity.knnGraph(t(s, dir, "embeddings"), "vec_id",
          "embedding", k = 5, planes = 6, tables = 2, dim = 64)
        .orderBy(col("node_id"), col("neighbor_id"))
    }, Sql(lshOracle(planes = 6, tables = 2, dim = 64, k = 5,
      queryPred = "TRUE", outId = "node_id"))),

    // INCREMENTAL k-NN graph maintenance (round 17): the s158 append
    // precedent applied to s170's graph — fold the %5 batch into the
    // graph built on the rest, recomputing ONLY the affected nodes (batch
    // + bucket-mates); provably equals the full rebuild, and the oracle
    // IS the full-rebuild replay (hash-exact = the no-loss proof in the
    // driver artifact itself)
    // Oracle: append ≡ rebuild is the operator's contract, so the oracle is the
    // FULL-rebuild replay over the union corpus — hash-exact means the
    // incremental path provably lost (and invented) nothing
    QuerySpec("s172_knn_graph_append", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val old = emb.filter(col("vec_id") % 5 =!= 0)
      val batch = emb.filter(col("vec_id") % 5 === 0)
      val g = graft.ops.Similarity.knnGraph(old, "vec_id", "embedding",
        k = 5, planes = 6, tables = 2, dim = 64)
      graft.ops.Similarity.appendKnnGraph(g, old, batch, "vec_id", "embedding",
          k = 5, planes = 6, tables = 2, dim = 64)
        .orderBy(col("node_id"), col("neighbor_id"))
    }, Sql(lshOracle(planes = 6, tables = 2, dim = 64,
      k = 5, queryPred = "TRUE", outId = "node_id"))),

    // LABEL PROPAGATION (round 17): pseudo-labeling over s170's graph —
    // the %3 held-out labels re-derived from the rest by two rounds of
    // similarity-weighted neighbor vote (DECIMAL vote sums: exact in any
    // reduction order, so the argmax replays in SQL). Output: the held-out
    // audit (true label vs propagated; NULL = no labeled reachable).
    // NOTE: this testdata's labels are geometry-independent (exact 1-NN
    // label agreement ≈ 0.10 = the 10-label prior, measured), so `agree`
    // here reads as chance BY CONSTRUCTION of the synthetic data — the
    // row verifies the propagation machinery end to end, not an accuracy
    // claim; PipelineSpec pins the semantics on a separable fixture
    // Oracle: s170's CTE chain + two unrolled vote rounds on DECIMAL(14,4) weights
    // (exact sums → portable argmax); seeds clamped via NOT IN
    QuerySpec("s173_label_propagation", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val g = graft.ops.Similarity.knnGraph(emb, "vec_id", "embedding",
        k = 5, planes = 6, tables = 2, dim = 64)
      val seeds = emb.filter(col("vec_id") % 3 =!= 0)
        .select(col("vec_id"), col("label"))
      val prop = graft.ops.Graph.labelPropagate(g, seeds, "vec_id", "label",
        rounds = 2)
      emb.filter(col("vec_id") % 3 === 0).select(col("vec_id"), col("label"))
        .join(prop, Seq("vec_id"), "left")
        .select(col("vec_id"), col("label"), col("pred_label"),
          (col("label") === col("pred_label")).as("agree"))
        .orderBy(col("vec_id"))
    }, Sql(
      s"""WITH ${lshKnnCtes(planes = 6, tables = 2, dim = 64,
             queryPred = "TRUE", outId = "node_id")},
         |g AS MATERIALIZED (SELECT node_id, neighbor_id,
         |  CAST(round(cosine, 4) AS DECIMAL(14,4)) AS w FROM ranked WHERE rn <= 5),
         |seeds AS MATERIALIZED (SELECT vec_id AS id, label AS lab FROM embeddings WHERE vec_id % 3 <> 0),
         |v1 AS (SELECT node_id, lab, sum(w) AS v FROM g JOIN seeds ON seeds.id = g.neighbor_id GROUP BY 1, 2),
         |w1 AS (SELECT node_id AS id, lab FROM
         |  (SELECT node_id, lab, row_number() OVER (PARTITION BY node_id ORDER BY v DESC, lab) AS rn FROM v1)
         |  WHERE rn = 1),
         |l1 AS MATERIALIZED (SELECT * FROM seeds
         |  UNION ALL SELECT * FROM w1 WHERE id NOT IN (SELECT id FROM seeds)),
         |v2 AS (SELECT node_id, lab, sum(w) AS v FROM g JOIN l1 ON l1.id = g.neighbor_id GROUP BY 1, 2),
         |w2 AS (SELECT node_id AS id, lab FROM
         |  (SELECT node_id, lab, row_number() OVER (PARTITION BY node_id ORDER BY v DESC, lab) AS rn FROM v2)
         |  WHERE rn = 1),
         |l2 AS MATERIALIZED (SELECT * FROM seeds
         |  UNION ALL SELECT * FROM w2 WHERE id NOT IN (SELECT id FROM seeds))
         |SELECT e.vec_id, e.label, l2.lab AS pred_label, (e.label = l2.lab) AS agree
         |FROM embeddings e LEFT JOIN l2 ON l2.id = e.vec_id
         |WHERE e.vec_id % 3 = 0 ORDER BY e.vec_id""".stripMargin)),

    // SEMANTIC CLUSTERS (round 17): connected components over MUTUAL k-NN
    // edges from s170's graph, gated at cosine ≥ 0.35 — the hub-resistant
    // clustering construction feeding cluster-aware splits and diversity
    // sampling; every vector gets a cluster (singletons under their own
    // id), cluster_id = min member. Ungated, rank-only mutuality
    // percolates this corpus into one 99% mega-component (see the
    // operator's scaladoc) — the similarity cut is the semantics. The
    // oracle replays buckets, ranks, the gate, mutuality, and the closure
    // with a recursive CTE
    // Oracle: s170's CTE chain extended by the cosine gate (on the same 4dp
    // rounded value the engine filters), mutuality, and the d73 recursive
    // closure; singletons filled from the corpus, sizes recounted. The
    // multiply-referenced CTEs are MATERIALIZED: DuckDB re-evaluates plain
    // CTEs per reference, and `edges` is referenced by every recursion
    // step — unhinted, the whole LSH+cosine chain re-runs per iteration
    // (measured 7.5 min → 20 s at sf0.1 with the hints)
    QuerySpec("d171_mutual_knn_clusters", (s, dir) => {
      graft.ops.Similarity.mutualKnnClusters(t(s, dir, "embeddings"),
          "vec_id", "embedding", k = 5, minCosine = 0.35,
          planes = 6, tables = 2, dim = 64)
        .orderBy(col("vec_id"))
    }, Sql(
      s"""WITH RECURSIVE ${lshKnnCtes(planes = 6, tables = 2, dim = 64,
             queryPred = "TRUE", outId = "node_id")},
         |g AS MATERIALIZED (SELECT node_id, neighbor_id FROM ranked
         |  WHERE rn <= 5 AND round(cosine, 4) >= 0.35),
         |mutual AS (SELECT x.node_id AS a, x.neighbor_id AS b FROM g x
         |  JOIN g y ON x.node_id = y.neighbor_id AND x.neighbor_id = y.node_id
         |  WHERE x.node_id < x.neighbor_id),
         |edges AS MATERIALIZED (SELECT a, b FROM mutual UNION SELECT b, a FROM mutual),
         |reach(node, lbl) AS (SELECT a, a FROM edges
         |  UNION SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.lbl),
         |comp AS MATERIALIZED (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node),
         |allc AS MATERIALIZED (SELECT node AS vec_id, cluster_id FROM comp
         |  UNION ALL SELECT vec_id, vec_id FROM embeddings
         |  WHERE vec_id NOT IN (SELECT node FROM comp)),
         |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM allc GROUP BY 1)
         |SELECT a.vec_id, a.cluster_id, sz.cluster_size
         |FROM allc a JOIN sz USING (cluster_id) ORDER BY a.vec_id""".stripMargin))
  )

  /** s151's serving plane count, shared by its builder and its oracle. */
  private def servingPlanesOf(e: DataFrame): Int =
    Similarity.autoServingPlanes(e.count(), k = 10, expand = 4)

  /** s143's trained codebook. The fit is deterministic (capped md5-ordered
    * sample, Lloyd with first-k-distinct seeding), so the oracle's refit
    * at the same dir equals the builder's bit for bit. */
  private def trainedCodebookOf(e: DataFrame): Array[Array[Array[Double]]] =
    Similarity.pqCodebookTrained(e, "vec_id", "embedding", m = 8, k = 16, subDim = 8)

  /** s162/s166's whitening model (mu, W). The fit is deterministic
    * (decimal-quantized moments, StrictMath cyclic Jacobi), so the
    * oracle's refit at the same dir equals the builder's bit for bit. */
  private def whitenFitOf(e: DataFrame): (Array[Double], Array[Array[Double]]) =
    Similarity.whitenModel(e, "embedding", dim = 64, k = 8)

  /** s120 oracle: the md5-grid PQ codebook inlined ONCE as a nested list
    * literal (every component n/1024 — exact in decimal AND double, so
    * the decimal→double promotion is lossless); codes = first-position
    * argmin per subspace, ADC = per-subspace query-table lookup summed in
    * subspace order, re-rank = the s29 cosine chain. Every reduction is a
    * sequential list_sum in the same index order as the engine's
    * left-assoc folds — bit-identical doubles end to end. */
  private def pqOracle(m: Int, kc: Int, subDim: Int, kTop: Int, expand: Int): String = {
    val cb = graft.ops.Similarity.pqCodebook(m, kc, subDim)
    def num(d: Double) = java.math.BigDecimal.valueOf(d).toPlainString
    val cLit = cb.map(sc => sc.map(cv => cv.map(num).mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")).mkString("[", ", ", "]")
    // per-subspace 16-entry squared-L2 distance list for vector column $v
    def dsFor(v: String) =
      s"[ list_sum([ ($v[(s-1)*$subDim + j] - C[s][c][j]) * ($v[(s-1)*$subDim + j] - C[s][c][j]) for j in range(1, ${subDim + 1}) ]) for c in range(1, ${kc + 1}) ]"
    val dsE = dsFor("e"); val dsQ = dsFor("qe")
    s"""WITH cb AS (SELECT $cLit AS C),
       |v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
       |codes AS (SELECT vec_id,
       |  [ list_position($dsE, list_min($dsE)) for s in range(1, ${m + 1}) ] AS codes
       |  FROM v, cb),
       |qs AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 8),
       |coarse AS (SELECT query_id, c.vec_id AS neighbor_id,
       |  list_sum([ $dsQ[c.codes[s]] for s in range(1, ${m + 1}) ]) AS adc
       |  FROM qs, cb, codes c WHERE c.vec_id <> query_id),
       |cand AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rn
       |  FROM coarse) WHERE rn <= ${kTop * expand}),
       |ex AS (SELECT cand.query_id, cand.neighbor_id,
       |  list_sum([qs.qe[i] * ce.e[i] for i in range(1, len(qs.qe) + 1)]) /
       |  (sqrt(list_sum([qs.qe[i] * qs.qe[i] for i in range(1, len(qs.qe) + 1)])) *
       |   sqrt(list_sum([ce.e[i] * ce.e[i] for i in range(1, len(ce.e) + 1)]))) AS cosine
       |  FROM cand JOIN qs USING (query_id) JOIN v ce ON ce.vec_id = cand.neighbor_id),
       |r AS (SELECT query_id, neighbor_id, cosine,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk FROM ex)
       |SELECT query_id, neighbor_id, round(cosine, 4) AS cosine FROM r
       |WHERE rk <= $kTop ORDER BY query_id, neighbor_id""".stripMargin
  }

  /** s123 oracle: the s100 bucket derivation + the s120 PQ chain with the
    * coarse pass restricted to the query's own bucket (the equi-join the
    * engine runs). Same sequential list_sums, same first-position argmin,
    * same tie-broken windows — bit-identical end to end. */
  private def lshPqOracle(m: Int, kc: Int, subDim: Int, planes: Int, dim: Int,
                          kTop: Int, expand: Int): String = {
    val cb = graft.ops.Similarity.pqCodebook(m, kc, subDim)
    val mat = graft.ops.Similarity.planeMatrix(planes, dim)
    def num(d: Double) = java.math.BigDecimal.valueOf(d).toPlainString
    def lst(a: Array[Double]): String = a.map(num).mkString("[", ", ", "]")
    val bucketExpr = (0 until planes).map { p =>
      s"(CASE WHEN list_sum([e[i] * (${lst(mat(p))})[i] for i in range(1, len(e)+1)]) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    val cLit = cb.map(sc => sc.map(cv => cv.map(num).mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")).mkString("[", ", ", "]")
    def dsFor(v: String) =
      s"[ list_sum([ ($v[(s-1)*$subDim + j] - C[s][c][j]) * ($v[(s-1)*$subDim + j] - C[s][c][j]) for j in range(1, ${subDim + 1}) ]) for c in range(1, ${kc + 1}) ]"
    val dsE = dsFor("e"); val dsQ = dsFor("qe")
    s"""WITH cbk AS (SELECT $cLit AS C),
       |v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
       |b AS (SELECT vec_id, e, CAST($bucketExpr AS BIGINT) AS bkt FROM v),
       |codes AS (SELECT vec_id, bkt,
       |  [ list_position($dsE, list_min($dsE)) for s in range(1, ${m + 1}) ] AS codes
       |  FROM b, cbk),
       |qs AS (SELECT vec_id AS query_id, e AS qe, bkt AS qbkt FROM b WHERE vec_id < 8),
       |coarse AS (SELECT query_id, c.vec_id AS neighbor_id,
       |  list_sum([ $dsQ[c.codes[s]] for s in range(1, ${m + 1}) ]) AS adc
       |  FROM qs, cbk, codes c WHERE c.bkt = qs.qbkt AND c.vec_id <> query_id),
       |cand AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rn
       |  FROM coarse) WHERE rn <= ${kTop * expand}),
       |ex AS (SELECT cand.query_id, cand.neighbor_id,
       |  list_sum([qs.qe[i] * ce.e[i] for i in range(1, len(qs.qe) + 1)]) /
       |  (sqrt(list_sum([qs.qe[i] * qs.qe[i] for i in range(1, len(qs.qe) + 1)])) *
       |   sqrt(list_sum([ce.e[i] * ce.e[i] for i in range(1, len(ce.e) + 1)]))) AS cosine
       |  FROM cand JOIN qs USING (query_id) JOIN v ce ON ce.vec_id = cand.neighbor_id),
       |r AS (SELECT query_id, neighbor_id, cosine,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk FROM ex)
       |SELECT query_id, neighbor_id, round(cosine, 4) AS cosine FROM r
       |WHERE rk <= $kTop ORDER BY query_id, neighbor_id""".stripMargin
  }

  /** s100 oracle: single-table sign-signature buckets (rows [0, planes) of
    * the md5 plane matrix, the [[graft.ops.Similarity.lshBucket]]
    * derivation), then per-(bucket, dimension) means with the component sum
    * taken through DECIMAL(27,7) — both engines round double→decimal
    * half-away-from-zero, so the sum (hence the mean) is reduction-order
    * independent and hash-comparable. */
  private def centroidOracle(planes: Int, dim: Int): String = {
    val mat = graft.ops.Similarity.planeMatrix(planes, dim)
    def lst(a: Array[Double]): String =
      a.map(w => java.math.BigDecimal.valueOf(w).toPlainString).mkString("[", ", ", "]")
    val bucketExpr = (0 until planes).map { p =>
      s"(CASE WHEN list_sum([e[i] * (${lst(mat(p))})[i] for i in range(1, len(e)+1)]) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH v AS (SELECT [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
       |b AS (SELECT e, CAST($bucketExpr AS BIGINT) AS bucket FROM v),
       |x AS (SELECT bucket, i - 1 AS dim_pos, CAST(e[i] AS DECIMAL(27,7)) AS comp
       |  FROM b, (SELECT unnest(range(1, ${dim + 1})) AS i) u),
       |g AS (SELECT bucket, dim_pos, count(*) AS n_vectors, sum(comp) AS s
       |  FROM x GROUP BY bucket, dim_pos)
       |SELECT bucket, dim_pos, n_vectors,
       |  floor(CAST(s AS DOUBLE) / n_vectors * 1e6 + 0.5) / 1e6 AS centroid
       |FROM g ORDER BY bucket, dim_pos""".stripMargin
  }

  /** Shared CTE chain (v → buckets → candidates → exact cosine → per-query
    * rank) replaying the md5-hyperplane LSH search in SQL; composed by the
    * s30/s170 top-k oracles and d171's cluster oracle. */
  private def lshKnnCtes(planes: Int, tables: Int, dim: Int,
                         queryPred: String, outId: String): String = {
    val mat = graft.ops.Similarity.planeMatrix(planes * tables, dim)
    def lst(a: Array[Double]): String =
      a.map(w => java.math.BigDecimal.valueOf(w).toPlainString).mkString("[", ", ", "]")
    def bucketExpr(tbl: Int): String = (0 until planes).map { p =>
      s"(CASE WHEN list_sum([e[i] * (${lst(mat(tbl * planes + p))})[i] for i in range(1, len(e)+1)]) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    val bucketCols = (0 until tables).map(tb => s"${bucketExpr(tb)} AS b$tb").mkString(", ")
    val cand = (0 until tables).map(tb =>
      s"SELECT q.vec_id AS $outId, c.vec_id AS neighbor_id FROM b q JOIN b c ON q.b$tb = c.b$tb " +
        s"WHERE $queryPred AND c.vec_id <> q.vec_id")
      .mkString(" UNION ")
    s"""v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
       |b AS (SELECT vec_id, e, $bucketCols FROM v),
       |cand AS ($cand),
       |scored AS (SELECT $outId, neighbor_id,
       |  list_sum([qv.e[i]*cv.e[i] for i in range(1, len(qv.e)+1)]) /
       |  (sqrt(list_sum([qv.e[i]*qv.e[i] for i in range(1, len(qv.e)+1)])) *
       |   sqrt(list_sum([cv.e[i]*cv.e[i] for i in range(1, len(cv.e)+1)]))) AS cosine
       |  FROM cand JOIN v qv ON qv.vec_id = $outId JOIN v cv ON cv.vec_id = neighbor_id),
       |ranked AS (SELECT $outId, neighbor_id, cosine,
       |  row_number() OVER (PARTITION BY $outId ORDER BY cosine DESC, neighbor_id) AS rn FROM scored)""".stripMargin
  }

  private def lshOracle(planes: Int, tables: Int, dim: Int, k: Int,
                        queryPred: String = "q.vec_id < 8",
                        outId: String = "query_id"): String =
    s"""WITH ${lshKnnCtes(planes, tables, dim, queryPred, outId)}
       |SELECT $outId, neighbor_id, round(cosine, 4) AS cosine
       |FROM ranked WHERE rn <= $k ORDER BY $outId, neighbor_id""".stripMargin

  /** s142 oracle: the s30 LSH chain and the s29 exact chain joined into a
    * per-query recall report — exact side LEFT-joined to the approximate
    * hits so an empty-bucket query still reports with n_approx = 0. */
  private def annRecallOracle(planes: Int, tables: Int, dim: Int, k: Int): String = {
    val mat = graft.ops.Similarity.planeMatrix(planes * tables, dim)
    def lst(a: Array[Double]): String =
      a.map(w => java.math.BigDecimal.valueOf(w).toPlainString).mkString("[", ", ", "]")
    def bucketExpr(tbl: Int): String = (0 until planes).map { p =>
      s"(CASE WHEN list_sum([e[i] * (${lst(mat(tbl * planes + p))})[i] for i in range(1, len(e)+1)]) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    val bucketCols = (0 until tables).map(tb => s"${bucketExpr(tb)} AS b$tb").mkString(", ")
    val cand = (0 until tables).map(tb =>
      s"SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id FROM b q JOIN b c ON q.b$tb = c.b$tb " +
        s"WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id")
      .mkString(" UNION ")
    s"""WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
       |b AS (SELECT vec_id, e, $bucketCols FROM v),
       |cand AS ($cand),
       |scored AS (SELECT query_id, neighbor_id,
       |  list_sum([qv.e[i]*cv.e[i] for i in range(1, len(qv.e)+1)]) /
       |  (sqrt(list_sum([qv.e[i]*qv.e[i] for i in range(1, len(qv.e)+1)])) *
       |   sqrt(list_sum([cv.e[i]*cv.e[i] for i in range(1, len(cv.e)+1)]))) AS cosine
       |  FROM cand JOIN v qv ON qv.vec_id = query_id JOIN v cv ON cv.vec_id = neighbor_id),
       |ranked AS (SELECT query_id, neighbor_id, cosine,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn FROM scored),
       |approx AS (SELECT query_id, neighbor_id FROM ranked WHERE rn <= $k),
       |ex_scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  list_sum([q.e[i]*c.e[i] for i in range(1, len(q.e)+1)]) /
       |  (sqrt(list_sum([q.e[i]*q.e[i] for i in range(1, len(q.e)+1)])) *
       |   sqrt(list_sum([c.e[i]*c.e[i] for i in range(1, len(c.e)+1)]))) AS cosine
       |  FROM v q, v c WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id),
       |ex_ranked AS (SELECT query_id, neighbor_id, cosine,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn FROM ex_scored),
       |exact AS (SELECT query_id, neighbor_id FROM ex_ranked WHERE rn <= $k),
       |hits AS (SELECT e.query_id, count(*) AS n_exact,
       |  sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS n_overlap
       |  FROM exact e LEFT JOIN approx a
       |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
       |  GROUP BY e.query_id),
       |ac AS (SELECT query_id, count(*) AS n_approx FROM approx GROUP BY query_id)
       |SELECT hits.query_id, coalesce(ac.n_approx, 0) AS n_approx, hits.n_exact,
       |  CAST(hits.n_overlap AS BIGINT) AS n_overlap,
       |  floor(CAST(hits.n_overlap AS DOUBLE) / hits.n_exact * 1e6 + 0.5) / 1e6 AS recall
       |FROM hits LEFT JOIN ac ON ac.query_id = hits.query_id
       |ORDER BY hits.query_id""".stripMargin
  }

  /** s143 oracle: ALL THREE PQ serving tiers replayed in SQL — the s120
    * ADC chain (full-scan coarse pass) and the s123 bucket-pruned chain
    * share one codes CTE (the md5-grid codebook inlined once,
    * first-position argmin, sequential list_sums — pqOracle/lshPqOracle's
    * determinism argument verbatim); the round-15 trained tier gets its
    * own codes CTE from the TRAINED constants ([[trainedCodebookOf]])
    * (CAST('…' AS DOUBLE) literals — Double.toString's shortest-roundtrip
    * form parsed by strtod reproduces the exact double, sidestepping
    * DECIMAL-width unification on arbitrary mantissas). Each tier is
    * graded against the s29 exact top-k with annRecallOracle's left-join
    * recall shape, union'd under a tier tag. The k-means FIT itself is
    * not replayed (no SQL replays Lloyd) — it is a deterministic,
    * capped, driver-local artifact spec-bounded in ScaleJoinsSpec; what
    * the oracle verifies bit-for-bit is the entire distributed serving
    * chain downstream of it (encode, ADC, prune, re-rank, recall). */
  private def pqRecallOracle(m: Int, kc: Int, subDim: Int, planes: Int,
                             dim: Int, kTop: Int, expand: Int,
                             cbT: Array[Array[Array[Double]]]): String = {
    val cb = graft.ops.Similarity.pqCodebook(m, kc, subDim)
    val mat = graft.ops.Similarity.planeMatrix(planes, dim)
    def num(d: Double) = java.math.BigDecimal.valueOf(d).toPlainString
    def lst(a: Array[Double]): String = a.map(num).mkString("[", ", ", "]")
    val bucketExpr = (0 until planes).map { p =>
      s"(CASE WHEN list_sum([e[i] * (${lst(mat(p))})[i] for i in range(1, len(e)+1)]) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    val cLit = cb.map(sc => sc.map(cv => cv.map(num).mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")).mkString("[", ", ", "]")
    def numT(d: Double) = s"CAST('${java.lang.Double.toString(d)}' AS DOUBLE)"
    val cLitT = cbT.map(sc => sc.map(cv => cv.map(numT).mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")).mkString("[", ", ", "]")
    def dsFor(v: String, cbVar: String) =
      s"[ list_sum([ ($v[(s-1)*$subDim + j] - $cbVar[s][c][j]) * ($v[(s-1)*$subDim + j] - $cbVar[s][c][j]) for j in range(1, ${subDim + 1}) ]) for c in range(1, ${kc + 1}) ]"
    val dsE = dsFor("e", "C"); val dsQ = dsFor("qe", "C")
    val dsET = dsFor("e", "T"); val dsQT = dsFor("qe", "T")
    // one tier's approx top-k: coarse ADC pass (optionally bucket-pruned),
    // kTop·expand candidates, exact-cosine re-rank, keep rk <= kTop
    def tierCtes(tag: String, bucketPred: String, cbkCte: String,
                 codesCte: String, dsq: String) =
      s"""coarse_$tag AS (SELECT query_id, c.vec_id AS neighbor_id,
         |  list_sum([ $dsq[c.codes[s]] for s in range(1, ${m + 1}) ]) AS adc
         |  FROM qs, $cbkCte, $codesCte c WHERE $bucketPred c.vec_id <> query_id),
         |cand_$tag AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rn
         |  FROM coarse_$tag) WHERE rn <= ${kTop * expand}),
         |exr_$tag AS (SELECT cand_$tag.query_id, cand_$tag.neighbor_id,
         |  list_sum([qs.qe[i] * ce.e[i] for i in range(1, len(qs.qe) + 1)]) /
         |  (sqrt(list_sum([qs.qe[i] * qs.qe[i] for i in range(1, len(qs.qe) + 1)])) *
         |   sqrt(list_sum([ce.e[i] * ce.e[i] for i in range(1, len(ce.e) + 1)]))) AS cosine
         |  FROM cand_$tag JOIN qs USING (query_id) JOIN v ce ON ce.vec_id = cand_$tag.neighbor_id),
         |approx_$tag AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
         |  FROM exr_$tag) WHERE rk <= $kTop)""".stripMargin
    // one tier's recall report rows against the shared exact CTE
    def tierReport(tag: String, label: String) =
      s"""hits_$tag AS (SELECT e.query_id, count(*) AS n_exact,
         |  sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS n_overlap
         |  FROM exact e LEFT JOIN approx_$tag a
         |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         |  GROUP BY e.query_id),
         |ac_$tag AS (SELECT query_id, count(*) AS n_approx FROM approx_$tag GROUP BY query_id),
         |rep_$tag AS (SELECT '$label' AS tier, hits_$tag.query_id,
         |  coalesce(ac_$tag.n_approx, 0) AS n_approx, hits_$tag.n_exact,
         |  CAST(hits_$tag.n_overlap AS BIGINT) AS n_overlap,
         |  floor(CAST(hits_$tag.n_overlap AS DOUBLE) / hits_$tag.n_exact * 1e6 + 0.5) / 1e6 AS recall
         |  FROM hits_$tag LEFT JOIN ac_$tag ON ac_$tag.query_id = hits_$tag.query_id)""".stripMargin
    s"""WITH cbk AS (SELECT $cLit AS C),
       |cbkt AS (SELECT $cLitT AS T),
       |v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
       |b AS (SELECT vec_id, e, CAST($bucketExpr AS BIGINT) AS bkt FROM v),
       |codes AS (SELECT vec_id, bkt,
       |  [ list_position($dsE, list_min($dsE)) for s in range(1, ${m + 1}) ] AS codes
       |  FROM b, cbk),
       |codes_t AS (SELECT vec_id,
       |  [ list_position($dsET, list_min($dsET)) for s in range(1, ${m + 1}) ] AS codes
       |  FROM b, cbkt),
       |qs AS (SELECT vec_id AS query_id, e AS qe, bkt AS qbkt FROM b WHERE vec_id < 8),
       |${tierCtes("pq", "", "cbk", "codes", dsQ)},
       |${tierCtes("lp", "c.bkt = qs.qbkt AND", "cbk", "codes", dsQ)},
       |${tierCtes("pt", "", "cbkt", "codes_t", dsQT)},
       |ex_scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  list_sum([q.e[i]*c.e[i] for i in range(1, len(q.e)+1)]) /
       |  (sqrt(list_sum([q.e[i]*q.e[i] for i in range(1, len(q.e)+1)])) *
       |   sqrt(list_sum([c.e[i]*c.e[i] for i in range(1, len(c.e)+1)]))) AS cosine
       |  FROM v q, v c WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id),
       |exact AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
       |  FROM ex_scored) WHERE rn <= $kTop),
       |${tierReport("pq", "pq")},
       |${tierReport("lp", "lshpq")},
       |${tierReport("pt", "pqt")}
       |SELECT * FROM rep_pq UNION ALL SELECT * FROM rep_lp UNION ALL SELECT * FROM rep_pt
       |ORDER BY tier, query_id""".stripMargin
  }

  /** One DuckDB expression per whitened component: the projection replayed
    * from the fitted model's constants (exact-double CAST('…' AS DOUBLE) form),
    * same index/operand order as the Spark zip_with/aggregate chain, same
    * floor rounding. Shared by the s162 and s166 oracles. */
  private def whitenYExprs(mu: Array[Double], w: Array[Array[Double]]): Seq[String] = {
    def numT(d: Double) = s"CAST('${java.lang.Double.toString(d)}' AS DOUBLE)"
    def lst(a: Array[Double]): String = a.map(numT).mkString("[", ", ", "]")
    val dim = mu.length
    w.toSeq.map { row =>
      s"floor(list_sum([ ((e[i] - (${lst(mu)})[i]) * (${lst(row)})[i]) " +
        s"for i in range(1, ${dim + 1}) ]) * 1e6 + 0.5) / 1e6"
    }
  }

  /** Whitening oracle (s162): replays the k-component projection from the
    * model that [[whitenFitOf]] refits at the oracle's dir — exact-double
    * constants via the CAST('&lt;Double.toString&gt;' AS DOUBLE) form (the
    * s143 trained-constant rule), terms in the same index order and operand
    * order as the Spark zip_with/aggregate chain, floor-rounded
    * identically. The fit itself (moments + Jacobi) needs no SQL: it is a
    * deterministic driver artifact, and the oracle checks the projection
    * downstream of it. */
  private def whitenOracle(model: (Array[Double], Array[Array[Double]])): String = {
    val (mu, w) = model
    val ys = whitenYExprs(mu, w).zipWithIndex
      .map { case (e, c) => s"$e AS y$c" }.mkString(",\n  ")
    s"""WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e
       |  FROM embeddings WHERE len(embedding) = ${mu.length})
       |SELECT vec_id AS id,
       |  $ys
       |FROM v ORDER BY id""".stripMargin
  }

  /** Whitened-ANN oracle (s166): the s162 projection as a CTE (list-valued
    * this time), then the s29 exact-cosine top-k chain verbatim over the
    * whitened vectors. */
  private def whitenedAnnOracle(model: (Array[Double], Array[Array[Double]]),
                                kTop: Int): String = {
    val (mu, w) = model
    val yList = whitenYExprs(mu, w).mkString("[", ",\n    ", "]")
    s"""WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e
       |  FROM embeddings WHERE len(embedding) = ${mu.length}),
       |wy AS (SELECT vec_id, $yList AS yv FROM v),
       |q AS (SELECT vec_id AS qid, yv AS qv FROM wy WHERE vec_id < 8),
       |c AS (SELECT vec_id AS nid, yv AS cv FROM wy),
       |scored AS (
       |  SELECT qid, nid,
       |    list_sum([qv[i] * cv[i] for i in range(1, len(qv)+1)]) /
       |    (sqrt(list_sum([qv[i] * qv[i] for i in range(1, len(qv)+1)])) *
       |     sqrt(list_sum([cv[i] * cv[i] for i in range(1, len(cv)+1)]))) AS cosine
       |  FROM q, c WHERE qid <> nid),
       |ranked AS (SELECT qid, nid, cosine,
       |  row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rn FROM scored)
       |SELECT qid AS query_id, nid AS neighbor_id, round(cosine, 4) AS cosine
       |FROM ranked WHERE rn <= $kTop ORDER BY query_id, neighbor_id""".stripMargin
  }

  /** RRF fusion oracle (s160): both tier SQLs embedded as subqueries, each
    * re-ranked over its PUBLISHED (cosine desc, neighbor_id) order, exact
    * integer micro-unit contributions floor(1e6/(rrfK+rank)), summed and
    * top-k'd exactly as [[graft.ops.Similarity.rrfFuse]] does. */
  private def rrfOracle(tierSql: Seq[String], kTop: Int, rrfK: Int): String = {
    val tiers = tierSql.zipWithIndex.map { case (sql, i) =>
      s"t$i AS (SELECT * FROM ($sql))"
    }
    val ranks = tierSql.indices.map { i =>
      s"""r$i AS (SELECT query_id, neighbor_id,
         |  CAST(floor(1e6 / ($rrfK + row_number() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id))) AS BIGINT) AS pts
         |  FROM t$i)""".stripMargin
    }
    val unioned = tierSql.indices.map(i => s"SELECT * FROM r$i").mkString(" UNION ALL ")
    s"""WITH ${(tiers ++ ranks).mkString(",\n")},
       |u AS ($unioned),
       |g AS (SELECT query_id, neighbor_id, CAST(sum(pts) AS BIGINT) AS rrf_score,
       |  count(*) AS n_lists FROM u GROUP BY 1, 2),
       |f AS (SELECT *, row_number() OVER (
       |  PARTITION BY query_id ORDER BY rrf_score DESC, neighbor_id) AS rk FROM g)
       |SELECT query_id, neighbor_id, rrf_score, n_lists FROM f
       |WHERE rk <= $kTop ORDER BY query_id, neighbor_id""".stripMargin
  }
}
