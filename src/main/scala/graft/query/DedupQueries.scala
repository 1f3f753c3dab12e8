package graft.query

import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Shared._

/** Deduplication driver queries: exact, shingle, MinHash/SimHash and
  * embedding near-duplicates, their pair graphs and clusters, and
  * contamination checks. */
object DedupQueries {

  val specs: Seq[QuerySpec] = Seq(
    // exact dedup: canonical (min id) per distinct text
    QuerySpec("d21_dedup_exact", (s, dir) => {
      Dedup.exact(t(s, dir, "documents"), "doc_id", Seq("text"))
        .select(col("doc_id"), col("n_dups")).orderBy(col("doc_id"))
    }, Sql(
      "SELECT min(doc_id) AS doc_id, count(*) AS n_dups FROM documents GROUP BY text ORDER BY doc_id")),

    // n-gram Jaccard near-dup pairs (inverted shingle index) with the
    // boilerplate-shingle cap ON (the 100 TB operating default since r8):
    // shingles appearing in > 500 docs leave the pair NUMERATOR (set-size
    // denominators stay exact), bounding the per-shingle k² join fan-out a
    // boilerplate-heavy corpus otherwise makes quadratic. The oracle
    // encodes the same cap (inert at the sf0.01 gate — max shingle df
    // there is 7 — but semantically load-bearing on hot corpora)
    // Oracle: maxShingleDf = 500 mirrored: shc drops shingles in > 500 docs from
    // the numerator join; sz (denominators) stays computed over ALL shingles
    QuerySpec("d22_jaccard_pairs", (s, dir) => {
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text", n = 3,
          threshold = 0.8, maxShingleDf = 500)
        .orderBy(col("id_a"), col("id_b"))
    }, Sql(
      s"""WITH ${setPairCtes(0.8, maxDf = Some(500))}
         |SELECT id_a, id_b, round(sim, 4) AS jaccard FROM pairs ORDER BY id_a, id_b""".stripMargin)),

    // MinHash + LSH candidates, exact-verified at the same threshold
    // Oracle: LSH with 16 bands of 4 catches J>=0.8 pairs w.p. ~0.9998 each; verified
    // empirically: identical to the exact pair set on the gate dataset.
    QuerySpec("d23_minhash_lsh", (s, dir) => {
      Dedup.minHashLsh(t(s, dir, "documents"), "doc_id", "text",
          n = 3, numHashes = 64, bands = 16, verifyThreshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }, Sql(
      s"""WITH ${setPairCtes(0.8)}
         |SELECT id_a, id_b, round(sim, 4) AS jaccard FROM pairs ORDER BY id_a, id_b""".stripMargin)),

    // incremental near-dup for a GROWING corpus: d23's semantics restricted
    // to pairs TOUCHING the newly-ingested batch (doc_id % 4 == 0), computed
    // without generating a single history-vs-history pair — the batch's
    // banded signatures probe the signature store, then the d23 verify tail.
    // Oracle = the exact-Jaccard ≥0.8 pair set touching the batch (d23's own
    // oracle row proves LSH collision recall is total at these knobs on this
    // corpus, so the touching subset is exact too)
    QuerySpec("d93_incremental_lsh", (s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.incrementalMinHashLsh(
          d.filter(col("doc_id") % 4 === 0), d.filter(col("doc_id") % 4 =!= 0),
          "doc_id", "text", n = 3, numHashes = 64, bands = 16,
          verifyThreshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }, Sql(
      s"""WITH ${setPairCtes(0.8)}
         |SELECT id_a, id_b, round(sim, 4) AS jaccard FROM pairs
         |WHERE id_a % 4 = 0 OR id_b % 4 = 0 ORDER BY id_a, id_b""".stripMargin)),

    // SimHash near-dup pairs (banded Hamming buckets)
    // Oracle: The simhash fingerprint is md5-derived (Dedup.SimHashBits = 60), so the
    // oracle recomputes the IDENTICAL fingerprint and takes naive O(n²)
    // Hamming pairs — verifying both the hash and the banded pair search.
    QuerySpec("d24_simhash_pairs", (s, dir) => {
      Dedup.simHashPairs(Dedup.simHash(t(s, dir, "documents"), "doc_id", "text"), maxDist = 3)
        .orderBy(col("id_a"), col("id_b"))
    }, Sql(simHashOracle)),

    // embedding-cosine near-duplicate pairs, exact (the gate-scale form;
    // the 100 TB path buckets first — s30 LSH / s36 IVF — and verifies
    // exactly like this on the candidate set only)
    QuerySpec("d40_embed_neardup", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val a = graft.core.Par.widen(e).select(col("vec_id").as("id_a"), col("embedding").as("e_a"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("e_b"))
      a.join(broadcast(b), col("id_a") < col("id_b"))
        .withColumn("cosine", graft.functions.VectorExpressions.cosineNative(
          s, col("e_a"), col("e_b")))
        .filter(col("cosine") >= 0.35)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
        .orderBy(col("id_a"), col("id_b"))
    }, Sql(
      s"""WITH $vecCte,
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  ${cosineSql("a.e", "b.e")} AS cosine
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(cosine, 4) AS cosine FROM p WHERE cosine >= 0.35
        |ORDER BY id_a, id_b""".stripMargin)),

    // benchmark decontamination: corpus docs sharing any 5-gram shingle with
    // the (broadcast) eval slice — one corpus scan, no corpus shuffle
    QuerySpec("d61_contamination", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.Dedup.contamination(
          d.filter(col("doc_id") % 25 =!= 0), d.filter(col("doc_id") % 25 === 0),
          "doc_id", "text", n = 5)
        .select(col("id").as("doc_id"), col("n_shared"))
        .orderBy(col("doc_id"))
    }, Sql(
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |ev AS (SELECT DISTINCT unnest(list_distinct(${ngramsSql(5)})) AS s
        |       FROM toks WHERE doc_id % 25 = 0),
        |cs AS (SELECT doc_id, unnest(list_distinct(${ngramsSql(5)})) AS s
        |       FROM toks WHERE doc_id % 25 <> 0)
        |SELECT cs.doc_id, count(*) AS n_shared FROM cs JOIN ev USING (s)
        |GROUP BY cs.doc_id ORDER BY cs.doc_id""".stripMargin)),

    // near-dup pairs resolved into duplicate clusters: connected components
    // over the d22 pair graph (transitive closure — A~B plus B~C groups
    // {A,B,C}); cluster id = min member id, plus the cluster size. The step
    // between pair discovery and canonical-doc selection in a dedup pipeline
    // Oracle: duplicate clusters via a recursive CTE: `reach` is the transitive
    // closure of the symmetric pair graph (DuckDB's UNION-distinct recursion
    // reaches a fixpoint), component = min reachable node — exactly the
    // hash-min label the Spark operator converges to
    QuerySpec("d73_dup_clusters", (s, dir) => {
      val pairs = jaccardPairGraph(s, dir)
      val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val sizes = cc.groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
      cc.join(sizes, "component")
        .select(col("node").as("doc_id"), col("component").as("cluster_id"),
          col("cluster_size"))
        .orderBy(col("doc_id"))
    }, Sql(
      s"""WITH RECURSIVE $jaccardCompCtes
         |SELECT c.node AS doc_id, c.cluster_id, n.cluster_size
         |FROM comp c JOIN (SELECT cluster_id, count(*) AS cluster_size
         |                  FROM comp GROUP BY cluster_id) n USING (cluster_id)
         |ORDER BY doc_id""".stripMargin)),

    // PRIORITY-aware cluster resolution: the step after d73 — each near-dup
    // cluster keeps the copy from the most-trusted source (numeric src rank,
    // ties by id) and drops the rest; unclustered docs pass through. The
    // "which copy survives" policy every multi-source corpus merge needs
    // Oracle: d95 = d73's cluster CTE + a per-cluster priority window: survivors are
    // everything except each cluster's rank-2+ members under (src rank, id)
    QuerySpec("d95_priority_dedup", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.dedupByClustersPriorityCc(docs, jaccardCcGraph(s, dir), "doc_id",
          priority = substring(col("source"), 4, 10).cast("int"))
        .select(col("doc_id"), col("source"), col("lang"))
        .orderBy(col("doc_id"))
    }, Sql(
      s"""WITH RECURSIVE $jaccardCompCtes,
         |prio AS (SELECT node, cluster_id, CAST(substr(d.source, 4) AS INT) AS p
         |         FROM comp JOIN documents d ON d.doc_id = comp.node),
         |losers AS (SELECT node FROM (
         |  SELECT node, row_number() OVER (PARTITION BY cluster_id ORDER BY p, node) AS rn
         |  FROM prio) WHERE rn > 1)
         |SELECT doc_id, source, lang FROM documents
         |WHERE doc_id NOT IN (SELECT node FROM losers)
         |ORDER BY doc_id""".stripMargin)),

    // embedding near-dup at corpus scale: LSH-bucketed candidates
    // (OR-amplified over 2 hyperplane tables), exact-cosine-verified — the
    // scale twin of d40's broadcast-NL exact form. `autoPlanes` sizes the
    // bucket count from the corpus count (planes tracks log2 n, so the
    // candidate set stays LINEAR as the corpus grows — the 10× stress
    // artifact showed fixed planes=4 going 17.5× superlinear while this
    // contract ran 1.29 s). md5-derived planes, so the oracle recomputes
    // identical buckets, and it derives the planes VALUE from the same dir
    // through autoPlanesOf, so it replays THIS scale's knob: what was a
    // documented permanent cross-scale pin through r14 is exact at every
    // SF. At the sf0.01 gate autoPlanes(500) = 4, which PipelineSpec's
    // "autoPlanes at the sf0.01 gate" test pins
    // Oracle: same plane derivation, OR-amplified across 2 tables: candidates from
    // either table's bucket join, UNION-deduped, exact cosine >= threshold.
    QuerySpec("d74_embed_neardup_lsh", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val planes = autoPlanesOf(e)
      Similarity.nearDupPairs(e, "vec_id", "embedding", threshold = 0.35,
          planes = planes, tables = 2, dim = 64)
        .orderBy(col("id_a"), col("id_b"))
    }, FromData((s, dir) => nearDupLshOracle(
      planes = autoPlanesOf(t(s, dir, "embeddings")), tables = 2, dim = 64, threshold = 0.35))),

    // semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540): prune
    // embedding-space near-duplicates, keeping ONE representative per
    // semantic cluster. Composed from proven stages — d74's OR-amplified
    // LSH near-dup pairs (never all-pairs) → d73's connected components →
    // min-id representative per cluster; singletons (no semantic neighbor)
    // survive whole. One end-to-end oracle: the d74 bucket CTE chained into
    // the d73 recursive-CTE components. At 100 TB every stage is the
    // already-audited scale shape; autoPlanes sizes the bucket count as the
    // corpus grows (docs/PLANS.md, "Late r7": autoPlanes) — at the sf0.01
    // gate autoPlanes(500) = 4, matching the oracle's plane derivation
    // Oracle: d74's bucket/verify CTE chained into d73's recursive-CTE components:
    // one oracle for the full semantic-dedup pass, planes from autoPlanesOf
    QuerySpec("p92_semantic_dedup", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val planes = autoPlanesOf(e)
      val pairs = Similarity.nearDupPairs(e, "vec_id", "embedding",
          threshold = 0.35, planes = planes, tables = 2, dim = 64)
        .select(col("id_a"), col("id_b"))
      val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val sizes = cc.groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
      e.select(col("vec_id"))
        .join(cc.select(col("node").as("vec_id"), col("component")), Seq("vec_id"), "left")
        .join(sizes, Seq("component"), "left")
        .select(col("vec_id"),
          coalesce(col("component"), col("vec_id")).as("cluster_id"),
          coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
          when(col("component").isNull || col("component") === col("vec_id"), 1L)
            .otherwise(0L).as("keep"))
        .orderBy(col("vec_id"))
    }, FromData((s, dir) => semanticDedupOracle(
      planes = autoPlanesOf(t(s, dir, "embeddings")), tables = 2, dim = 64, threshold = 0.35))),

    // Bloom-prefiltered incremental dedup: a new batch (fresh docs plus
    // re-arrivals of history docs under new ids) deduped against the
    // history corpus. Bloom over history md5s, broadcast probe, exact
    // anti-join confirm for the maybes — result is exact (oracle is the
    // plain anti-join), the bloom only decides who pays for the join
    // Oracle: the bloom is a prefilter only; the exact result is the plain anti-join
    QuerySpec("d79_bloom_increment", (s, dir) => {
      val docs = t(s, dir, "documents")
      val history = docs.filter(col("doc_id") % 4 =!= 0)
      val arrivals = docs.filter(col("doc_id") % 4 === 0).unionByName(
        history.filter(col("doc_id") % 10 === 7)
          .withColumn("doc_id", col("doc_id") + 100000L))
      val key = (d: DataFrame) => d.withColumn("fp", md5(col("text")))
      Dedup.incrementalDedup(key(arrivals), key(history), "fp")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH history AS (SELECT * FROM documents WHERE doc_id % 4 <> 0),
        |arrivals AS (
        |  SELECT doc_id, text, lang FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT doc_id + 100000, text, lang FROM history WHERE doc_id % 10 = 7)
        |SELECT a.doc_id, a.lang FROM arrivals a
        |WHERE md5(a.text) NOT IN (SELECT md5(text) FROM history)
        |ORDER BY a.doc_id""".stripMargin)),

    // cross-doc repeated-substring signal (Lee et al. exact-substring dedup
    // statistic): per doc, the fraction of its strided 50-char spans that
    // occur verbatim in another document — catches boilerplate and mirrored
    // spans that survive document-level dedup. md5 span hashes + char-based
    // substr are engine-portable, so the oracle is exact
    // Oracle: span hashes are md5 over char-based substr — identical in both
    // engines; Spark sequence(0, stop) is inclusive = DuckDB range(0,
    // stop+1); the HUGEINT sum is cast back to BIGINT for the compare
    QuerySpec("d87_repeated_spans", (s, dir) => {
      Dedup.repeatedSpans(t(s, dir, "documents"), "doc_id", "text",
          spanChars = 50, stride = 25)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH spans AS (
        |  SELECT doc_id, unnest([md5(substr(text, o + 1, 50))
        |                         for o in range(0, len(text) - 50 + 1, 25)]) AS h
        |  FROM documents WHERE len(text) >= 50),
        |nd AS (SELECT h, count(DISTINCT doc_id) AS nd FROM spans GROUP BY h),
        |j AS (SELECT s.doc_id, CASE WHEN nd.nd > 1 THEN 1 ELSE 0 END AS rep
        |      FROM spans s JOIN nd USING (h))
        |SELECT doc_id, count(*) AS n_spans,
        |  CAST(sum(rep) AS BIGINT) AS n_repeated,
        |  round(sum(rep) * 1.0 / count(*), 4) AS repeat_frac
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // segment-level boilerplate REMOVAL (the rewrite sibling of d87's
    // score): drop segments occurring verbatim in > maxSegmentDf distinct
    // docs and reassemble survivors in order. sep=" " on this single-line
    // corpus = df-based token pruning (the hottest ~half of the 31-word
    // vocabulary is boilerplate by the 390-doc cap); sep="\n" is CCNet
    // paragraph dedup, exercised by the PipelineSpec golden
    // Oracle: parallel unnests of equal-length lists zip in DuckDB, giving each
    // segment its ordinal; string_agg(... ORDER BY pos) rebuilds the text
    // in original order, coalesce('') matches Spark's empty array_join for
    // fully-pruned docs
    QuerySpec("d88_boilerplate_prune", (s, dir) => {
      Dedup.pruneBoilerplateSegments(t(s, dir, "documents"), "doc_id", "text",
          sep = " ", maxSegmentDf = 390)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH l AS (
        |  SELECT doc_id,
        |         unnest(string_split(coalesce(text, ''), ' ')) AS seg,
        |         unnest(range(1, len(string_split(coalesce(text, ''), ' ')) + 1)) AS pos
        |  FROM documents),
        |hot AS (
        |  SELECT seg FROM (
        |    SELECT seg, count(DISTINCT doc_id) AS dfc
        |    FROM l WHERE length(seg) >= 1 GROUP BY seg)
        |  WHERE dfc > 390)
        |SELECT l.doc_id,
        |  coalesce(string_agg(CASE WHEN h.seg IS NULL THEN l.seg END,
        |                      ' ' ORDER BY l.pos), '') AS text_clean,
        |  count(CASE WHEN h.seg IS NULL THEN 1 END) AS n_kept,
        |  count(h.seg) AS n_dropped
        |FROM l LEFT JOIN hot h ON l.seg = h.seg
        |GROUP BY l.doc_id ORDER BY l.doc_id""".stripMargin)),

    // cross-source shingle-vocabulary overlap via THETA sketches (round
    // 15): the set-ALGEBRA sketch — HLL (q57) can only union, theta also
    // estimates intersections, the snapshot/contamination overlap
    // primitive at corpus scale. One bounded sketch per source (built by
    // map-side partial aggregation), pairwise algebra over sketch rows
    // only — the distinct-pair join never materializes. In exact mode at
    // every test SF (vocab << 2^lgK), so the whole report is hash-exact
    // against the exact-set oracle; a planet-scale vocabulary degrades
    // gracefully to ~1/sqrt(2^20) relative error (SketchesSpec pins both
    // modes)
    // Oracle: d147: the theta sketches are in exact mode at gate vocab sizes, so
    // plain distinct-set algebra IS the oracle (d109's shingle form); the
    // pair frame comes from the slice cross join so zero-overlap pairs
    // survive with n_inter = 0, matching the sketch path's full pair join
    QuerySpec("d147_theta_overlap", (s, dir) => {
      graft.ops.Sketches.thetaShingleOverlap(t(s, dir, "documents"),
          "source", "text", n = 3, lgK = 20)
        .orderBy(col("slice_a"), col("slice_b"))
    }, Sql(
      s"""WITH toks AS (SELECT source, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT source, unnest(${ngramsSql(3)}) AS s FROM toks),
        |n AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
        |i AS (SELECT a.source AS sa, b.source AS sb, count(*) AS n_inter
        |      FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source GROUP BY 1, 2)
        |SELECT na.source AS slice_a, nb.source AS slice_b, na.n AS n_a, nb.n AS n_b,
        |  coalesce(i.n_inter, 0) AS n_inter,
        |  na.n + nb.n - coalesce(i.n_inter, 0) AS n_union,
        |  ${floor6Sql("CAST(coalesce(i.n_inter, 0) AS DOUBLE) / (na.n + nb.n - coalesce(i.n_inter, 0))")} AS jaccard
        |FROM n na JOIN n nb ON na.source < nb.source
        |LEFT JOIN i ON i.sa = na.source AND i.sb = nb.source
        |ORDER BY slice_a, slice_b""".stripMargin)),

    // cross-snapshot vocabulary novelty via theta DIFFERENCE (round 15,
    // completing d147's set algebra): how many of the new snapshot's
    // distinct shingles appear nowhere in the old one — the release-cut
    // "what does this crawl add" diagnostic, one bounded sketch per side
    // where the exact form is a full distinct anti-join. p114's snapshot
    // convention; exact mode at test vocab → hash-exact vs the exact oracle
    // Oracle: d149: exact-mode theta difference = plain distinct anti-join count;
    // p114's snapshot convention (A = %23≠0; B = %29≠0 with the v2 text
    // mutation on %17=0)
    QuerySpec("d149_theta_novelty", (s, dir) => {
      val docs = t(s, dir, "documents")
      val snapA = docs.filter(col("doc_id") % 23 =!= 0)
      val snapB = docs.filter(col("doc_id") % 29 =!= 0)
        .withColumn("text", when(col("doc_id") % 17 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      graft.ops.Sketches.thetaNovelty(snapA, snapB, "text", n = 3, lgK = 20)
    }, Sql(
      s"""WITH a0 AS (SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id % 23 <> 0),
        |ash AS (SELECT DISTINCT unnest(${ngramsSql(3)}) AS s FROM a0),
        |b0 AS (SELECT CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END AS text
        |       FROM documents WHERE doc_id % 29 <> 0),
        |bt AS (SELECT string_split(text, ' ') AS t FROM b0),
        |bsh AS (SELECT DISTINCT unnest(${ngramsSql(3)}) AS s FROM bt),
        |na AS (SELECT count(*) AS n FROM ash),
        |nb AS (SELECT count(*) AS n FROM bsh),
        |nov AS (SELECT count(*) AS n FROM bsh WHERE s NOT IN (SELECT s FROM ash))
        |SELECT na.n AS n_a, nb.n AS n_b, nov.n AS n_novel,
        |  ${floor6Sql("CAST(nov.n AS DOUBLE) / nb.n")} AS novelty
        |FROM na, nb, nov""".stripMargin)),

    // SEMANTIC decontamination (round 16): corpus vectors embedding-close
    // to the held-out eval slice — the paraphrase leaks the LEXICAL passes
    // (shingle d61, phrase d135) cannot see; completes the contamination
    // family across both modalities. Same %25 split convention as d61;
    // md5-derived hyperplanes, so the oracle recomputes identical buckets
    // and the identical cross-join candidates
    // Oracle: d74's bucket chain as a CROSS equi-join between the %25 split sides
    QuerySpec("d159_semantic_decontam", (s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.ops.Similarity.crossNearDup(
          e.filter(col("vec_id") % 25 =!= 0), e.filter(col("vec_id") % 25 === 0),
          "vec_id", "embedding", threshold = 0.35, planes = 4, tables = 2, dim = 64)
        .orderBy(col("id"), col("probe_id"))
    }, Sql(crossNearDupOracle(planes = 4, tables = 2,
      dim = 64, threshold = 0.35))),

    // max-containment near-dup pairs — the ASYMMETRIC dedup metric: a short
    // doc fully pasted inside a long one has tiny Jaccard but containment
    // ~1.0; same candidate/skew machinery as d22 (df cap on the numerator,
    // exact set-size denominators)
    // Oracle: d22's chain with the containment denominator (least set size)
    QuerySpec("d109_containment_pairs", (s, dir) => {
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text", n = 3,
          threshold = 0.9, maxShingleDf = 500L)
        .orderBy(col("id_a"), col("id_b"))
    }, Sql(
      s"""WITH ${setPairCtes(0.9, maxDf = Some(500), containment = true)}
         |SELECT id_a, id_b, round(sim, 4) AS containment FROM pairs ORDER BY id_a, id_b""".stripMargin)),

    // segment-level exact dedup with reassembly (Lee et al.): every
    // repeated 16-word block keeps only its FIRST occurrence (min (doc,
    // pos)) and documents are re-stitched from their survivors — the
    // keep-one-copy sibling of d88's drop-all-copies boilerplate pruning
    // Oracle: non-overlapping 16-word blocks; first occurrence = min (doc, pos);
    // re-stitch the survivors in order (string_agg ORDER BY == array_sort
    // of (seg_idx, seg) structs — seg_idx is unique per doc)
    QuerySpec("d111_segment_dedup", (s, dir) => {
      Dedup.segmentDedup(t(s, dir, "documents"), "doc_id", "text",
          blockWords = 16)
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s0 AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks), 16)) AS st FROM t),
        |s AS (SELECT doc_id, CAST((st - 1) // 16 AS BIGINT) AS seg_idx,
        |  array_to_string(toks[st : st + 15], ' ') AS seg FROM s0),
        |f AS (SELECT *, row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn FROM s),
        |g AS (SELECT doc_id, count(*) AS n_segs,
        |  CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE rn = 1), '') AS text_deduped
        |  FROM f GROUP BY doc_id)
        |SELECT doc_id, n_segs, n_kept, text_deduped FROM g ORDER BY doc_id""".stripMargin)),

    // perceptual-hash near-dup pairs over binary payloads: payloads
    // size-normalized to a fixed 120-byte crop (the resize stand-in), 60
    // evenly spaced bytes mean-thresholded into a 60-bit fingerprint (the
    // deterministic stand-in for a real image pHash decode), then the d24
    // banded Hamming machinery verbatim — multimodal dedup end-to-end
    // Oracle: 60 evenly spaced byte samples (ASCII corpus: byte == char, ascii()
    // is the codepoint in both engines), integer cross-multiplied mean
    // threshold, bit i = 1 via exact power-of-two sum (each power distinct,
    // so the bigint sum IS the OR); all-pairs Hamming equals the banded
    // search for maxDist 3 < 4 bands by pigeonhole (the d24 argument)
    QuerySpec("m113_phash_neardup", (s, dir) => {
      val media = graft.multimodal.Multimodal.attachBinary(
        t(s, dir, "documents"), "doc_id", "text")
      val sigs = graft.multimodal.Multimodal.pHash60(media)
        .select(col("id"), col("phash").as("simhash"))
      Dedup.simHashPairs(sigs, maxDist = 3)
        .orderBy(col("id_a"), col("id_b"))
    }, Sql(
      """WITH m AS (SELECT doc_id AS id, text FROM documents WHERE length(text) >= 120),
        |smp AS (SELECT id, [ascii(text[119 * i // 59 + 1]) for i in range(0, 60)] AS s FROM m),
        |h AS (SELECT id, s, list_sum(s) AS tot FROM smp),
        |fp AS (SELECT id, CAST(list_sum([CASE WHEN s[i+1] * 60 > tot THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT) END for i in range(0, 60)]) AS BIGINT) AS phash FROM h),
        |p AS (SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS dist
        |  FROM fp a JOIN fp b ON a.id < b.id)
        |SELECT id_a, id_b, dist FROM p WHERE dist <= 3 ORDER BY id_a, id_b""".stripMargin)),

    // near-dup pair audit: per simhash candidate pair, exact character
    // edit distance + normalized ratio — the O(len²) DP runs only on the
    // LSH-shrunk pair set, with texts fetched by candidate-sized
    // broadcast joins (the corpus is never shuffled)
    // Oracle: identical unit-cost Levenshtein in both engines
    QuerySpec("d129_pair_explain", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.simHashPairs(
        Dedup.simHash(docs, "doc_id", "text"), maxDist = 3)
      Dedup.explainPairs(docs, pairs, "doc_id", "text")
        .orderBy(col("id_a"), col("id_b"))
    }, Sql(
      s"""WITH $simHashPairsCte,
         |j AS (SELECT p.id_a, p.id_b, a.text AS ta, b.text AS tb
         |  FROM p JOIN documents a ON a.doc_id = p.id_a
         |  JOIN documents b ON b.doc_id = p.id_b)
         |SELECT id_a, id_b,
         |  CAST(length(ta) AS BIGINT) AS len_a, CAST(length(tb) AS BIGINT) AS len_b,
         |  CAST(levenshtein(ta, tb) AS BIGINT) AS edit_distance,
         |  ${floor6Sql("CAST(levenshtein(ta, tb) AS DOUBLE) / greatest(length(ta), length(tb), 1)")} AS edit_ratio
         |FROM j ORDER BY id_a, id_b""".stripMargin)),

    // deterministic PageRank over the near-dup graph (d24's simhash
    // pairs): which copy is the most CENTRAL — the principled canonical
    // pick when clusters merge many sources. Every per-node quantity
    // floor-rounded at the same points in both engines, neighbor sums
    // through DECIMAL — a floating fixed-point iteration the oracle
    // replays with a recursive CTE
    // Oracle: the engine's iteration replayed as a recursive CTE: same floor
    // roundings at the same points, neighbor sums through DECIMAL(27,7)
    // (order-independent), teleport 0.15 as a literal (never 1 - 0.85,
    // which is a different double)
    QuerySpec("d128_pagerank", (s, dir) => {
      val pairs = simhashPairGraph(s, dir)
      graft.ops.Graph.pageRank(pairs, "id_a", "id_b", iters = 5)
        .orderBy(col("node"))
    }, Sql(pageRankOracle(iters = 5))),

    // leakage-safe train/val/test split: near-dup CLUSTERS are the split
    // unit, so no near-duplicate pair ever straddles the train/eval
    // boundary (the split-time complement of d61's benchmark
    // decontamination). Split = md5 of the cluster representative against
    // the cumulative hex5 thresholds — a pure content function, stable
    // under corpus growth; the candidate-sized cluster map is broadcast
    // and the corpus never shuffles
    // Oracle: cluster-unit split: the engine's simhash pair graph → recursive-CTE
    // components → coalesce(rep, own id) → the SAME hex5 cumulative
    // thresholds (constants built by the shared Sampling.hex5, so both
    // engines compare against identical literals)
    QuerySpec("d130_cluster_split", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = simhashPairGraph(s, dir)
      val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      graft.ops.Sampling.clusterSplit(docs.select(col("doc_id")),
          "doc_id", cc, "node", "component",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("rep_id"), col("split"))
        .orderBy(col("doc_id"))
    }, Sql(clusterSplitOracle(0.8, 0.9))),

    // Jaccard-decile histogram over the capped candidate-pair set: the
    // threshold-calibration evidence (where does near-dup mass end and
    // topical overlap begin?) from ONE pass of the d22 machinery; binning
    // on raw IEEE ratios, every output value exact
    // Oracle: d22's capped candidate CTE widened to j >= 0.1, binned on the raw
    // IEEE ratio — floor(10j) is bit-identical in both engines
    QuerySpec("d134_jaccard_hist", (s, dir) => {
      Dedup.jaccardHistogram(t(s, dir, "documents"), "doc_id", "text",
          n = 3, minJ = 0.1, maxShingleDf = 500)
        .orderBy(col("bin"))
    }, Sql(
      s"""WITH ${setPairCtes(0.1, maxDf = Some(500))},
         |b AS (SELECT CAST(least(floor(sim * 10), 9) AS BIGINT) AS bin FROM pairs)
         |SELECT bin, bin / 10.0 AS bin_lo, (bin + 1) / 10.0 AS bin_hi,
         |  count(*) AS n_pairs
         |FROM b GROUP BY bin ORDER BY bin""".stripMargin)),

    // verbatim-phrase decontamination (the high-precision complement of
    // d61's shingle overlap): corpus docs containing a FULL eval phrase
    // token-aligned — a pure hash equi-join of the corpus n-gram stream
    // against the eval phrase set (a contains-scan formulation measured
    // 31x superlinear at 10x; the equi-join is linear). Same eval-set
    // convention as d61 (doc_id % 25)
    // Oracle: probe side: non-overlapping 6-token eval windows (stride 6);
    // corpus side: stride-1 6-grams distinct per doc; token-aligned
    // verbatim hit = equality
    QuerySpec("d135_phrase_contamination", (s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.phraseContamination(
          d.filter(col("doc_id") % 25 =!= 0), d.filter(col("doc_id") % 25 === 0),
          "doc_id", "text", phraseLen = 6)
        .select(col("id").as("doc_id"), col("n_hits"))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |ph AS (SELECT DISTINCT unnest([array_to_string(t[i:i+5], ' ') for i in range(1, len(t)-4, 6)]) AS p
        |       FROM toks WHERE doc_id % 25 = 0 AND len(t) >= 6),
        |cg AS (SELECT doc_id, unnest(list_distinct([array_to_string(t[i:i+5], ' ') for i in range(1, len(t)-4)])) AS p
        |       FROM toks WHERE doc_id % 25 <> 0 AND len(t) >= 6),
        |hits AS (SELECT cg.doc_id, count(*) AS n_hits
        |         FROM cg JOIN ph USING (p) GROUP BY cg.doc_id)
        |SELECT doc_id, n_hits FROM hits ORDER BY doc_id""".stripMargin)),

    // cross-video duplicate-FRAME detection: frame sampling → per-frame
    // pHash → banded Hamming pairs → video-pair counts; catches shared
    // clips whole-file hashing (m113) misses
    // Oracle: m107's frame derivation + m113's pHash grid per FRAME (composite
    // frame id = doc·4 + idx), Hamming ≤ 2 pairs, video-pair counts
    QuerySpec("m141_frame_neardup", (s, dir) => {
      val media = graft.multimodal.Multimodal.attachBinary(
        t(s, dir, "documents"), "doc_id", "text")
      graft.multimodal.Multimodal.frameNearDup(media,
          nFrames = 4, frameBytes = 64, maxDist = 2)
        .orderBy(col("video_a"), col("video_b"))
    }, Sql(
      """WITH m AS (SELECT doc_id, text, length(text) AS total FROM documents),
        |fr0 AS (SELECT doc_id, unnest([{'i': i, 'f': substr(text, greatest(CAST(floor(CAST(total - 64 AS DOUBLE) * i / 3) AS INTEGER) + 1, 1), 64)} for i in [0,1,2,3]]) AS s FROM m),
        |fr2 AS (SELECT doc_id * 4 + s.i AS fid, s.f AS frame FROM fr0 WHERE length(s.f) >= 64),
        |smp AS (SELECT fid, [ascii(frame[63 * i // 59 + 1]) for i in range(0, 60)] AS s FROM fr2),
        |h AS (SELECT fid, s, list_sum(s) AS tot FROM smp),
        |fp AS (SELECT fid, CAST(list_sum([CASE WHEN s[i+1] * 60 > tot THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT) END for i in range(0, 60)]) AS BIGINT) AS ph FROM h),
        |p AS (SELECT a.fid AS fa, b.fid AS fb FROM fp a JOIN fp b
        |      ON a.fid < b.fid AND bit_count(xor(a.ph, b.ph)) <= 2)
        |SELECT fa // 4 AS video_a, fb // 4 AS video_b, count(*) AS n_frame_pairs
        |FROM p WHERE fa // 4 <> fb // 4 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // TRIANGLE / clustering-coefficient diagnostic (round 17) over the
    // near-dup pair graph (the d73/d95 pair graph): coefficient → 1
    // marks a doc whose near-dups are all near-dups of EACH OTHER (a true
    // template/duplicate clique — safe to collapse), → 0 marks transitive
    // chains where CC merged docs that never matched directly (the
    // classic over-merge smell worth auditing before a dedup drop).
    // The graph is NOT df-capped: the wedge join is bounded only by
    // Σ deg², i.e. by how many near-duplicates each doc has
    // Oracle: the d73 pair chain up to `pairs` (already a < b), then the
    // canonical-orientation triangle join + degrees + the portable
    // coefficient
    QuerySpec("d173_triangle_stats", (s, dir) => {
      graft.ops.Graph.triangleStats(jaccardPairGraph(s, dir), "id_a", "id_b")
        .orderBy(col("id"))
    }, Sql(
      s"""WITH ${setPairCtes(0.8)},
         |tris AS (SELECT e1.id_a AS x, e1.id_b AS y, e2.id_b AS z
         |  FROM pairs e1 JOIN pairs e2 ON e2.id_a = e1.id_b
         |  JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
         |tpn AS (SELECT id, count(*) AS t FROM
         |  (SELECT unnest([x, y, z]) AS id FROM tris) GROUP BY id),
         |deg AS (SELECT id, count(*) AS degree FROM
         |  (SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs) GROUP BY id)
         |SELECT deg.id, deg.degree, CAST(coalesce(tpn.t, 0) AS BIGINT) AS triangles,
         |  CASE WHEN deg.degree < 2 THEN 0.0
         |       ELSE ${floor6Sql("2.0 * coalesce(tpn.t, 0) / (deg.degree * (deg.degree - 1))")} END AS clustering
         |FROM deg LEFT JOIN tpn USING (id) ORDER BY deg.id""".stripMargin)),

    // SOFT DEDUP (round 17): inverse-cluster-size training weights over
    // d73's near-dup components — keep every duplicate, downweight it so
    // a doc duplicated k times carries ~one doc of gradient mass
    // (duplication often correlates with quality; dropping loses signal a
    // weight keeps). Reads the same component map d95 does
    // Oracle: d73's recursive-CC chain + singleton fill + the portable 1/size
    // weight; the d171 MATERIALIZED lesson applied to the multi-referenced
    // CTEs (edges feeds every recursion step)
    QuerySpec("d172_dup_weights", (s, dir) => {
      graft.ops.Sampling.clusterWeights(t(s, dir, "documents"),
          jaccardCcGraph(s, dir), "doc_id", "node", "component")
        .orderBy(col("doc_id"))
    }, Sql(
      s"""WITH RECURSIVE $jaccardCompCtes,
         |allc AS MATERIALIZED (SELECT node AS doc_id, cluster_id FROM comp
         |  UNION ALL SELECT doc_id, doc_id FROM documents
         |  WHERE doc_id NOT IN (SELECT node FROM comp)),
         |csz AS (SELECT cluster_id, count(*) AS cluster_size FROM allc GROUP BY 1)
         |SELECT a.doc_id, a.cluster_id, csz.cluster_size,
         |  ${floor6Sql("1.0 / csz.cluster_size")} AS weight
         |FROM allc a JOIN csz USING (cluster_id) ORDER BY a.doc_id""".stripMargin))
  )

  /** d74/p92's plane count, shared by each builder and its oracle. */
  private def autoPlanesOf(e: DataFrame): Int = Similarity.autoPlanes(e.count())

  /** The component map over the 3-gram Jaccard ≥ 0.8 pair graph as CTE
    * `comp(node, cluster_id)`: the oracle of [[Shared.jaccardCcGraph]],
    * read by d73, d95 and d172. */
  private def jaccardCompCtes: String = s"${setPairCtes(0.8)},\n${closureCtes("pairs")}"

  /** CTE chain reproducing the simhash near-dup PAIRS relation `p`
    * (dist ≤ 3) — shared by the d24 oracle and d128's graph oracle. */
  private def simHashPairsCte: String = {
    val bits = graft.ops.Dedup.SimHashBits
    val votes = (0 until bits)
      .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b").mkString(", ")
    val fp = (0 until bits)
      .map(b => s"CASE WHEN b$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    s"""toks AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents),
       |h AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM toks),
       |votes AS (SELECT doc_id, $votes FROM h GROUP BY doc_id),
       |fp AS (SELECT doc_id, $fp AS simhash FROM votes),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS dist
       |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id AND
       |    bit_count(xor(a.simhash, b.simhash)) <= 3)""".stripMargin
  }

  /** Oracle for d24: recompute the 60-bit md5 simhash per doc in SQL, then
    * naive all-pairs Hamming distance (exactly equals the banded search for
    * maxDist 3 < 4 bands, by pigeonhole). */
  private def simHashOracle: String =
    s"""WITH $simHashPairsCte
       |SELECT id_a, id_b, dist FROM p ORDER BY id_a, id_b""".stripMargin

  /** d130 oracle: the simhash pair graph → recursive-CTE connected
    * components → split of coalesce(component, own id) via md5 against the
    * cumulative [[graft.ops.Sampling.hex5]] thresholds — the exact
    * constants the engine compares against. */
  private def clusterSplitOracle(trainCum: Double, valCum: Double): String = {
    val t1 = graft.ops.Sampling.hex5(trainCum)
    val t2 = graft.ops.Sampling.hex5(valCum)
    s"""WITH RECURSIVE $simHashPairsCte,
       |${closureCtes("p")},
       |rep AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS rep_id
       |        FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
       |SELECT doc_id, rep_id,
       |  CASE WHEN substr(md5(CAST(rep_id AS VARCHAR)), 1, 5) < '$t1' THEN 'train'
       |       WHEN substr(md5(CAST(rep_id AS VARCHAR)), 1, 5) < '$t2' THEN 'val'
       |       ELSE 'test' END AS split
       |FROM rep ORDER BY doc_id""".stripMargin
  }

  /** d128 oracle: the simhash pair graph symmetrized, then the engine's
    * PageRank iteration replayed bit-for-bit by a recursive CTE. */
  private def pageRankOracle(iters: Int): String =
    s"""WITH RECURSIVE $simHashPairsCte,
       |sym AS (SELECT id_a AS n, id_b AS m FROM p UNION ALL SELECT id_b, id_a FROM p),
       |deg AS (SELECT n AS node, count(*) AS deg FROM sym GROUP BY n),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS nv FROM deg),
       |pr AS (
       |  SELECT 0 AS it, node, deg, ${floor6Sql("1.0 / nv")} AS pr
       |  FROM deg, nn
       |  UNION ALL
       |  SELECT s.it + 1, d.node, d.deg,
       |    ${floor6Sql("0.15 / nn.nv + 0.85 * CAST(s.s AS DOUBLE)")}
       |  FROM (SELECT p2.it, sym.m AS node,
       |          sum(CAST(${floor6Sql("p2.pr / p2.deg")} AS DECIMAL(27,7))) AS s
       |        FROM pr p2 JOIN sym ON sym.n = p2.node
       |        WHERE p2.it < $iters GROUP BY p2.it, sym.m) s
       |  JOIN deg d ON d.node = s.node, nn)
       |SELECT node, pr FROM pr WHERE it = $iters ORDER BY node""".stripMargin

  /** d74's OR-amplified LSH candidate/verify chain, ending in `p`(id_a,
    * id_b, cosine): table `t` buckets with hyperplane rows [t·planes,
    * (t+1)·planes) of planeMatrix(tables·planes, dim) — identical to
    * Similarity.nearDupPairs — candidates unioned across tables (UNION
    * dedups), then exact cosine per candidate. */
  private def nearDupCtes(planes: Int, tables: Int, dim: Int): String = {
    val cand = (0 until tables).map(tb =>
      s"SELECT a.vec_id AS id_a, b2.vec_id AS id_b FROM b a JOIN b b2 ON a.b$tb = b2.b$tb AND a.vec_id < b2.vec_id")
      .mkString(" UNION ")
    s"""$vecCte,
       |b AS (SELECT vec_id, e, ${lshBucketCols(planes, tables, dim)} FROM v),
       |cand AS ($cand),
       |p AS (SELECT id_a, id_b,
       |  ${cosineSql("va.e", "vb.e")} AS cosine
       |  FROM cand JOIN v va ON va.vec_id = id_a JOIN v vb ON vb.vec_id = id_b)""".stripMargin
  }

  /** d74 oracle: the [[nearDupCtes]] pairs at or above `threshold`. */
  private def nearDupLshOracle(planes: Int, tables: Int, dim: Int,
                               threshold: Double): String =
    s"""WITH ${nearDupCtes(planes, tables, dim)}
       |SELECT id_a, id_b, round(cosine, 4) AS cosine FROM p WHERE cosine >= $threshold
       |ORDER BY id_a, id_b""".stripMargin

  /** Cross-relation decontamination oracle (d159): [[nearDupCtes]]'
    * bucket/verify chain with the two sides drawn from the %25 split —
    * candidates are the cross equi-join per table (no id_a < id_b
    * orientation: the sides are disjoint relations), UNION-deduped. */
  private def crossNearDupOracle(planes: Int, tables: Int, dim: Int,
                                 threshold: Double): String = {
    val bucketCols = lshBucketCols(planes, tables, dim)
    val cand = (0 until tables).map(tb =>
      s"SELECT c.vec_id AS id, p2.vec_id AS probe_id FROM bc c JOIN bp p2 ON c.b$tb = p2.b$tb")
      .mkString(" UNION ")
    s"""WITH $vecCte,
       |bc AS (SELECT vec_id, e, $bucketCols FROM v WHERE vec_id % 25 <> 0),
       |bp AS (SELECT vec_id, e, $bucketCols FROM v WHERE vec_id % 25 = 0),
       |cand AS ($cand),
       |p AS (SELECT id, probe_id,
       |  ${cosineSql("vc.e", "vp.e")} AS cosine
       |  FROM cand JOIN v vc ON vc.vec_id = id JOIN v vp ON vp.vec_id = probe_id)
       |SELECT id, probe_id, round(cosine, 4) AS cosine FROM p WHERE cosine >= $threshold
       |ORDER BY id, probe_id""".stripMargin
  }

  /** Semantic-dedup oracle (p92): the [[nearDupCtes]] candidate/verify
    * chain feeding the d73-shaped recursive-CTE connected components, then
    * the min-id keep rule; singletons survive as their own cluster of 1. */
  private def semanticDedupOracle(planes: Int, tables: Int, dim: Int,
                                  threshold: Double): String =
    s"""WITH RECURSIVE ${nearDupCtes(planes, tables, dim)},
       |pr AS (SELECT id_a, id_b FROM p WHERE cosine >= $threshold),
       |${closureCtes("pr")},
       |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id)
       |SELECT emb.vec_id,
       |  coalesce(c.cluster_id, emb.vec_id) AS cluster_id,
       |  CAST(coalesce(s.cluster_size, 1) AS BIGINT) AS cluster_size,
       |  CAST(CASE WHEN c.node IS NULL OR c.cluster_id = emb.vec_id THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM embeddings emb
       |LEFT JOIN comp c ON c.node = emb.vec_id
       |LEFT JOIN sz s ON s.cluster_id = c.cluster_id
       |ORDER BY emb.vec_id""".stripMargin
}
