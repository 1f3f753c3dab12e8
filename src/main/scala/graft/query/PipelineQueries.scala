package graft.query

import graft.ops.{Checkpointing, Chunking, Dedup}
import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Shared._

/** Composed corpus pipelines and multimodal driver queries. */
object PipelineQueries {

  val specs: Seq[QuerySpec] = Seq(
    // multimodal plumbing: binary payload + metadata → per-partition feature
    // extraction (decode step stubbed; see graft.multimodal.Multimodal)
    // Oracle: The decode stub is md5-derived (Multimodal.decodeStub): the payload
    // hashes once to a 32-hex md5 seed, and component d is (first 60 bits of
    // md5(seed || '|' || d) mod 1024)/1024 — exactly representable in float
    // AND double, so the sum of squares is exact (order-independent) and
    // DuckDB reproduces it bit-for-bit.
    QuerySpec("m31_multimodal", (s, dir) => {
      val media = graft.multimodal.Multimodal.attachBinary(t(s, dir, "documents"), "doc_id", "text")
      graft.multimodal.Multimodal.extractFeatures(media, dim = 8)
        .select(col("media_id"),
          round(aggregate(transform(col("features"), x => x.cast("double") * x.cast("double")),
            lit(0.0), (a, v) => a + v), 4).as("feat_sumsq"))
        .orderBy(col("media_id"))
    }, Sql(
      """WITH f AS (SELECT doc_id,
        |  [(CAST(('0x' || substr(md5(md5(text) || '|' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT) % 1024) / 1024.0
        |   for d in [0, 1, 2, 3, 4, 5, 6, 7]] AS feats
        |  FROM documents)
        |SELECT doc_id AS media_id, round(list_sum([x * x for x in feats]), 4) AS feat_sumsq
        |FROM f ORDER BY media_id""".stripMargin)),

    // end-to-end corpus pipeline: exact dedup → quality filter → stratified
    // eval sample — the composed shape of a real pretraining-data job, with
    // every stage individually oracle-verified elsewhere (d21, t63, d37)
    QuerySpec("p67_pipeline", (s, dir) => {
      val d = t(s, dir, "documents")
      val keep = Dedup.exact(d, "doc_id", Seq("text")).select(col("doc_id"))
      val clean = d.join(keep, Seq("doc_id"), "left_semi")
        .withColumn("quality", TextFunctions.qualityScore(col("text"), stopwords))
        .filter(col("quality") >= 0.3)
      graft.ops.Sampling.stratifiedExact(clean, "lang", "doc_id", k = 10)
        .select(col("doc_id"), col("lang"), col("quality"))
        .orderBy(col("lang"), col("doc_id"))
    }, Sql(
      """WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        |d2 AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)),
        |toks AS (SELECT doc_id, lang, text, string_split(text, ' ') AS t FROM d2),
        |parts AS (SELECT doc_id, lang,
        |  least(len(t) / 50.0, 1.0) AS len_score,
        |  round(CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / length(text), 4) AS alpha,
        |  round(CAST(len([x for x in t if x = 'the' OR x = 'a']) AS DOUBLE) / len(t), 4) AS stop
        |  FROM toks),
        |q AS (SELECT doc_id, lang, round(greatest(0.0, least(1.0,
        |  (len_score + alpha + (1.0 - abs(stop - 0.15))) / 3.0)), 4) AS quality FROM parts),
        |filt AS (SELECT * FROM q WHERE quality >= 0.3),
        |rn AS (SELECT doc_id, lang, quality, row_number() OVER (
        |  PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM filt)
        |SELECT doc_id, lang, quality FROM rn WHERE rn <= 10 ORDER BY lang, doc_id""".stripMargin)),

    // the full corpus pass a real pipeline ships, composed end to end and
    // oracle-checked as ONE query: exact dedup → quality floor →
    // repeated-span boilerplate prune → minhash-LSH near-dup pairs →
    // connected-component cluster resolution → temperature-balanced mixing.
    // Every stage is also separately oracle-verified (d21/t63/d87/d23/d73/
    // d81); this row proves their COMPOSITION is, too
    // Oracle: the composed pipeline as ONE oracle: each stage reuses its own
    // query's oracle shape (p67 quality, d87 spans, d23 exact-jaccard —
    // LSH recall ≡ exact holds on any SUBSET of the corpus since
    // signatures and band collisions are per-pair — d73 recursive-CTE
    // components, d81 md5 thresholds). The span cap is omitted: it is a
    // no-op below 10k docs sharing a span, unreachable in oracle data
    QuerySpec("p90_composed_corpus", (s, dir) => {
      // p91 builds the same corpus pass, each from its own lineage
      val deduped = composedDedupedBuild(s, dir)
      graft.ops.Sampling.temperatureBalance(deduped, "lang", "doc_id")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"))
    }, Sql(
      """WITH RECURSIVE
        |keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        |d2 AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)),
        |toks0 AS (SELECT doc_id, lang, text, string_split(text, ' ') AS t FROM d2),
        |parts AS (SELECT doc_id, lang, text,
        |  least(len(t) / 50.0, 1.0) AS len_score,
        |  round(CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / length(text), 4) AS alpha,
        |  round(CAST(len([x for x in t if x = 'the' OR x = 'a']) AS DOUBLE) / len(t), 4) AS stop
        |  FROM toks0),
        |clean AS (SELECT doc_id, lang, text FROM parts
        |  WHERE round(greatest(0.0, least(1.0,
        |    (len_score + alpha + (1.0 - abs(stop - 0.15))) / 3.0)), 4) >= 0.3),
        |spans AS (SELECT doc_id, unnest([md5(substr(text, o + 1, 50))
        |                                 for o in range(0, len(text) - 50 + 1, 25)]) AS h
        |          FROM clean WHERE len(text) >= 50),
        |nd AS (SELECT h, count(DISTINCT doc_id) AS nd FROM spans GROUP BY h),
        |rep AS (SELECT s.doc_id, count(*) AS n_spans,
        |               count(CASE WHEN nd.nd > 1 THEN 1 END) AS n_rep
        |        FROM spans s JOIN nd USING (h) GROUP BY s.doc_id),
        |boiler AS (SELECT doc_id FROM rep WHERE round(n_rep * 1.0 / n_spans, 4) >= 0.5),
        |pruned AS (SELECT c.* FROM clean c WHERE c.doc_id NOT IN (SELECT doc_id FROM boiler)),
        |ptoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM pruned),
        |sh AS (SELECT doc_id, unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)])) AS s FROM ptoks),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM inter
        |          JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |          WHERE n * 1.0 / (sa.sz + sb.sz - n) >= 0.8),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(node, lbl) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.lbl),
        |comp AS (SELECT node, min(lbl) AS cid FROM reach GROUP BY node),
        |dd AS (SELECT p.* FROM pruned p
        |       WHERE p.doc_id NOT IN (SELECT node FROM comp WHERE node <> cid)),
        |c AS (SELECT lang, count(*) AS n FROM dd WHERE lang IS NOT NULL GROUP BY 1),
        |m AS (SELECT min(n) AS minn FROM c),
        |th AS (SELECT lang,
        |  CASE WHEN CAST(floor(sqrt(CAST(minn AS DOUBLE) / n) * 1048576) AS BIGINT) >= 1048576
        |       THEN 'g'
        |       ELSE printf('%05x', CAST(floor(sqrt(CAST(minn AS DOUBLE) / n) * 1048576) AS BIGINT))
        |  END AS thresh
        |  FROM c, m),
        |bal AS (SELECT d.doc_id, d.lang FROM dd d JOIN th USING (lang)
        |        WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 5) < th.thresh)
        |SELECT lang, count(*) AS n_docs FROM bal GROUP BY lang ORDER BY lang""".stripMargin)),

    // p90's corpus pass extended through the PREP TAIL — the full
    // corpus→training-sequences flow a pretraining pipeline actually ships:
    // exact dedup → quality floor → span-prune → LSH near-dup clusters →
    // temperature mix → eval-set decontamination (the d61 protocol) →
    // 64-token window chunking (t80) → per-lang 2048-token sequence packing
    // (t82). One end-to-end oracle hash-verifies the whole chain, chunk
    // boundaries, bin assignments and all
    // Oracle: p91 = p90's chain (bal carries text) + the prep tail: d61-shaped
    // decontamination, t80-shaped chunking, t82-shaped packing — every
    // stage reuses its own query's proven oracle form
    QuerySpec("p91_composed_prep", (s, dir) => {
      val d = t(s, dir, "documents")
      // p91's warm min measures the whole declared chain, corpus pass
      // included
      val deduped = composedDedupedBuild(s, dir)
      val balanced = graft.ops.Sampling.temperatureBalance(deduped, "lang", "doc_id")
        .transform(Checkpointing.stage) // consumed by contamination AND the anti-join
      // decontaminate against the held-out eval slice (doc_id % 25 == 0);
      // eval members surviving inside the balanced set flag themselves and
      // are dropped too — exactly what a train/eval split wants
      val contaminated = Dedup.contamination(balanced,
          d.filter(col("doc_id") % 25 === 0), "doc_id", "text", n = 5)
        .select(col("id").as("doc_id"))
      val fin = balanced.join(contaminated, Seq("doc_id"), "left_anti")
        .transform(Checkpointing.stage) // consumed by tokenWindows AND the lang join-back
      val chunks = Chunking.tokenWindows(fin, "doc_id", "text", window = 64, stride = 32)
        .join(fin.select(col("doc_id"), col("lang")), "doc_id")
        .withColumn("chunk_uid", col("doc_id") * 10000 + col("chunk_id"))
        .select(col("lang"), col("chunk_uid"), col("chunk"))
      Chunking.packSequences(chunks, "chunk_uid", "chunk",
          budget = 2048, shardCols = Seq("lang"))
        .orderBy(col("lang"), col("bin"), col("chunk_uid"))
    }, Sql(
      """WITH RECURSIVE
        |keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        |d2 AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)),
        |toks0 AS (SELECT doc_id, lang, text, string_split(text, ' ') AS t FROM d2),
        |parts AS (SELECT doc_id, lang, text,
        |  least(len(t) / 50.0, 1.0) AS len_score,
        |  round(CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / length(text), 4) AS alpha,
        |  round(CAST(len([x for x in t if x = 'the' OR x = 'a']) AS DOUBLE) / len(t), 4) AS stop
        |  FROM toks0),
        |clean AS (SELECT doc_id, lang, text FROM parts
        |  WHERE round(greatest(0.0, least(1.0,
        |    (len_score + alpha + (1.0 - abs(stop - 0.15))) / 3.0)), 4) >= 0.3),
        |spans AS (SELECT doc_id, unnest([md5(substr(text, o + 1, 50))
        |                                 for o in range(0, len(text) - 50 + 1, 25)]) AS h
        |          FROM clean WHERE len(text) >= 50),
        |nd AS (SELECT h, count(DISTINCT doc_id) AS nd FROM spans GROUP BY h),
        |rep AS (SELECT s.doc_id, count(*) AS n_spans,
        |               count(CASE WHEN nd.nd > 1 THEN 1 END) AS n_rep
        |        FROM spans s JOIN nd USING (h) GROUP BY s.doc_id),
        |boiler AS (SELECT doc_id FROM rep WHERE round(n_rep * 1.0 / n_spans, 4) >= 0.5),
        |pruned AS (SELECT c.* FROM clean c WHERE c.doc_id NOT IN (SELECT doc_id FROM boiler)),
        |ptoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM pruned),
        |sh AS (SELECT doc_id, unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)])) AS s FROM ptoks),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM inter
        |          JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |          WHERE n * 1.0 / (sa.sz + sb.sz - n) >= 0.8),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(node, lbl) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.lbl),
        |comp AS (SELECT node, min(lbl) AS cid FROM reach GROUP BY node),
        |dd AS (SELECT p.* FROM pruned p
        |       WHERE p.doc_id NOT IN (SELECT node FROM comp WHERE node <> cid)),
        |c AS (SELECT lang, count(*) AS n FROM dd WHERE lang IS NOT NULL GROUP BY 1),
        |m AS (SELECT min(n) AS minn FROM c),
        |th AS (SELECT lang,
        |  CASE WHEN CAST(floor(sqrt(CAST(minn AS DOUBLE) / n) * 1048576) AS BIGINT) >= 1048576
        |       THEN 'g'
        |       ELSE printf('%05x', CAST(floor(sqrt(CAST(minn AS DOUBLE) / n) * 1048576) AS BIGINT))
        |  END AS thresh
        |  FROM c, m),
        |bal AS (SELECT d.doc_id, d.lang, d.text FROM dd d JOIN th USING (lang)
        |        WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 5) < th.thresh),
        |evt AS (SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id % 25 = 0),
        |ev AS (SELECT DISTINCT unnest(list_distinct([array_to_string(t[i:i+4], ' ') for i in range(1, len(t)-3)])) AS s FROM evt),
        |bt AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM bal),
        |csh AS (SELECT doc_id, unnest(list_distinct([array_to_string(t[i:i+4], ' ') for i in range(1, len(t)-3)])) AS s FROM bt),
        |cont AS (SELECT DISTINCT csh.doc_id AS doc_id FROM csh JOIN ev USING (s)),
        |fin AS (SELECT doc_id, lang, t FROM bt WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
        |sts AS (SELECT doc_id, lang, t,
        |       unnest(generate_series(1, greatest(len(t), 1), 32)) AS st FROM fin),
        |ch AS (SELECT lang, doc_id * 10000 + (st - 1) // 32 AS chunk_uid,
        |       array_to_string(t[st : st + 63], ' ') AS chunk FROM sts),
        |pt AS (SELECT lang, chunk_uid,
        |       CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_tokens,
        |       md5(CAST(chunk_uid AS VARCHAR)) AS h FROM ch),
        |pc AS (SELECT lang, chunk_uid, n_tokens,
        |       CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, chunk_uid
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |         - n_tokens AS strt
        |       FROM pt)
        |SELECT lang, chunk_uid, n_tokens,
        |  CAST(strt // 2048 AS BIGINT) AS bin,
        |  CAST(strt - (strt // 2048) * 2048 AS BIGINT) AS bin_offset
        |FROM pc ORDER BY lang, bin, chunk_uid""".stripMargin)),

    // corpus report card: the one-pass dataset summary a curation pipeline
    // publishes with a release — doc/token/lang counts, exact-dup rate,
    // quality mean (decimal sum) and exact percentiles, as a flat
    // (metric, value) relation. One aggregate over one scan.
    // Oracle: same quality chain + the same portable floor-rounding; percentile ↔
    // quantile_cont (the q39-established interpolation parity)
    QuerySpec("p106_corpus_card", (s, dir) => {
      val scored = t(s, dir, "documents").select(col("lang"), col("text"),
        TextFunctions.qualityScore(col("text"), stopwords).as("q"),
        size(split(col("text"), " ")).cast("long").as("ntok"))
      val a = scored.agg(
        count(lit(1)).as("n_docs"),
        sum(col("ntok")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("text")).as("n_distinct"),
        sum(col("q").cast("decimal(27,7)")).as("qsum"),
        expr("percentile(q, 0.5)").as("p50"),
        expr("percentile(q, 0.9)").as("p90"))
      a.select(expr(
        """stack(7,
          |  'dup_rate', floor((1.0 - CAST(n_distinct AS DOUBLE) / n_docs) * 1e6 + 0.5) / 1e6,
          |  'mean_quality', floor(CAST(qsum AS DOUBLE) / n_docs * 1e6 + 0.5) / 1e6,
          |  'n_docs', CAST(n_docs AS DOUBLE),
          |  'n_langs', CAST(n_langs AS DOUBLE),
          |  'n_tokens', CAST(n_tokens AS DOUBLE),
          |  'p50_quality', round(p50, 4),
          |  'p90_quality', round(p90, 4)) AS (metric, value)""".stripMargin))
        .orderBy(col("metric"))
    }, Sql(
      """WITH toks AS (SELECT lang, text, string_split(text, ' ') AS t FROM documents),
        |parts AS (SELECT lang, text, len(t) AS ntok,
        |  least(len(t) / 50.0, 1.0) AS len_score,
        |  round(CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / length(text), 4) AS alpha,
        |  round(CAST(len([x for x in t if x = 'the' OR x = 'a']) AS DOUBLE) / len(t), 4) AS stop
        |  FROM toks),
        |scored AS (SELECT lang, text, ntok, round(greatest(0.0, least(1.0,
        |  (len_score + alpha + (1.0 - abs(stop - 0.15))) / 3.0)), 4) AS q FROM parts),
        |a AS (SELECT count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens,
        |  count(DISTINCT lang) AS n_langs, count(DISTINCT text) AS n_distinct,
        |  sum(CAST(q AS DECIMAL(27,7))) AS qsum,
        |  quantile_cont(q, 0.5) AS p50, quantile_cont(q, 0.9) AS p90 FROM scored)
        |SELECT metric, value FROM (
        |  SELECT 'dup_rate' AS metric, floor((1.0 - CAST(n_distinct AS DOUBLE) / n_docs) * 1e6 + 0.5) / 1e6 AS value FROM a
        |  UNION ALL SELECT 'mean_quality', floor(CAST(qsum AS DOUBLE) / n_docs * 1e6 + 0.5) / 1e6 FROM a
        |  UNION ALL SELECT 'n_docs', CAST(n_docs AS DOUBLE) FROM a
        |  UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM a
        |  UNION ALL SELECT 'n_tokens', CAST(n_tokens AS DOUBLE) FROM a
        |  UNION ALL SELECT 'p50_quality', round(p50, 4) FROM a
        |  UNION ALL SELECT 'p90_quality', round(p90, 4) FROM a)
        |ORDER BY metric""".stripMargin)),

    // multimodal frame sampling: n evenly-spaced fixed-size byte frames per
    // payload, pure expression-level slicing (the video/audio frame-sample
    // plumbing; the ASCII corpus keeps byte==char so DuckDB can reproduce
    // the slices). Offsets floor in both engines (trunc==floor at off>=0,
    // and the greatest(...,1) clamp absorbs the negative-off edge)
    // Oracle: ASCII corpus ⇒ byte slicing == char slicing; same offset math with an
    // explicit floor (Spark's int cast truncates, trunc == floor at off ≥ 0,
    // and both engines clamp the negative edge to position 1)
    QuerySpec("m107_frame_sample", (s, dir) => {
      val media = graft.multimodal.Multimodal.attachBinary(
        t(s, dir, "documents"), "doc_id", "text")
      graft.multimodal.Multimodal.frameSample(media, n = 4, frameBytes = 16)
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("frame").cast("string").as("frame_str"))
        .orderBy(col("media_id"), col("frame_idx"))
    }, Sql(
      """WITH m AS (SELECT doc_id AS media_id, text AS media, length(text) AS total FROM documents),
        |fr AS (SELECT media_id,
        |  unnest([{'i': i, 'f': substr(media, greatest(CAST(floor(CAST(total - 16 AS DOUBLE) * i / 3) AS INTEGER) + 1, 1), 16)}
        |          for i in [0, 1, 2, 3]]) AS s
        |  FROM m)
        |SELECT media_id, CAST(s.i AS BIGINT) AS frame_idx, s.f AS frame_str
        |FROM fr ORDER BY media_id, frame_idx""".stripMargin)),

    // corpus snapshot diff: release B vs release A compared by content
    // fingerprint — only (id, 40-byte hash) rows ever shuffle, the bodies
    // never do; snapshots derived deterministically from the corpus
    // (A drops doc_id%23==0, B drops %29==0 and revises %17==0)
    // Oracle: same deterministic snapshot derivation, full-outer on the id with a
    // content fingerprint per side; unchanged rows omitted
    QuerySpec("p114_snapshot_diff", (s, dir) => {
      val docs = t(s, dir, "documents")
      val snapA = docs.filter(col("doc_id") % 23 =!= 0)
      val snapB = docs.filter(col("doc_id") % 29 =!= 0)
        .withColumn("text", when(col("doc_id") % 17 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      graft.ops.Snapshot.diff(snapA, snapB, "doc_id",
          md5(concat_ws("|", col("text"), col("lang"))))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH a AS (SELECT doc_id, md5(text || '|' || lang) AS fp_a FROM documents WHERE doc_id % 23 <> 0),
        |b0 AS (SELECT doc_id, CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END AS text, lang
        |  FROM documents WHERE doc_id % 29 <> 0),
        |b AS (SELECT doc_id, md5(text || '|' || lang) AS fp_b FROM b0),
        |j AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id, fp_a, fp_b
        |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT doc_id,
        |  CASE WHEN fp_a IS NULL THEN 'added'
        |       WHEN fp_b IS NULL THEN 'removed'
        |       WHEN fp_a <> fp_b THEN 'changed' END AS status
        |FROM j WHERE fp_a IS NULL OR fp_b IS NULL OR fp_a <> fp_b
        |ORDER BY doc_id""".stripMargin)),

    // the full release cut, composed from verified stages: t112's
    // quality-ranked token-budget prefix feeds t98's deterministic
    // content-hash shuffle into fixed-size training shards — strict row
    // order IS the shard layout the writer would partitionBy
    // Oracle: t112's chain for the kept set, then the t98 permutation (md5 order,
    // id tie-break) and integer shard division
    QuerySpec("p116_release_cut", (s, dir) => {
      val scored = t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.qualityScore(col("text"), stopwords).as("score"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val kept = graft.ops.Sampling.tokenBudgetPrefix(scored, "doc_id",
          "score", "n_tokens", budgetTokens = 10000L)
        .select(col("doc_id"), col("n_tokens"))
      graft.ops.Sampling.shuffleShards(kept, "doc_id", shardSize = 32L)
        .orderBy(col("pos"))
    }, Sql(
      """WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
        |parts AS (SELECT doc_id, len(t) AS nt,
        |  least(len(t) / 50.0, 1.0) AS len_score,
        |  round(CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / length(text), 4) AS alpha,
        |  round(CAST(len([x for x in t if x = 'the' OR x = 'a']) AS DOUBLE) / len(t), 4) AS stop
        |  FROM toks),
        |q AS (SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens, round(greatest(0.0, least(1.0,
        |  (len_score + alpha + (1.0 - abs(stop - 0.15))) / 3.0)), 4) AS score FROM parts),
        |c AS (SELECT doc_id, score, n_tokens,
        |  CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM q),
        |kept AS (SELECT doc_id, n_tokens FROM c WHERE cum_tokens <= 10000),
        |p AS (SELECT doc_id, n_tokens,
        |  CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT) AS pos
        |  FROM kept)
        |SELECT doc_id, n_tokens, pos, CAST(pos // 32 AS BIGINT) AS shard
        |FROM p ORDER BY pos""".stripMargin))
  )

  /** The p90/p91 composed-corpus pass through near-dup cluster dedup
    * (exact dedup → quality floor → boilerplate span prune → LSH pair
    * clusters → cluster resolution) — ONE definition, previously
    * duplicated verbatim in both query bodies. */
  private def composedDedupedBuild(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val keep = Dedup.exact(d, "doc_id", Seq("text")).select(col("doc_id"))
    val clean = d.join(keep, Seq("doc_id"), "left_semi")
      .withColumn("quality", TextFunctions.qualityScore(col("text"), stopwords))
      .filter(col("quality") >= 0.3)
      .transform(Checkpointing.stage) // consumed by repeatedSpans AND the prune anti-join
    // drop documents that are mostly cross-doc boilerplate; the span cap
    // bounds the hot-span aggregate however common a licence block is
    // (a no-op semantically until a span is shared by >10k docs, which
    // the oracle data cannot reach — the oracle omits it)
    val boiler = Dedup.repeatedSpans(clean, "doc_id", "text",
        spanChars = 50, stride = 25, maxSpanDf = 10000)
      .filter(col("repeat_frac") >= 0.5)
      .select(col("id").as("doc_id"))
    // boiler's size is data-dependent (could be most of a mirrored corpus)
    // — no forced broadcast, AQE picks the join strategy from real stats.
    // clean and pruned each feed TWO heavy consumers (spans + anti-join;
    // LSH pair generation + the cluster-resolution join-back): one plan
    // would recompute the shared prefix per consumer, so the multi-use
    // stages materialize once — measured p90 36.6 → 13.0 s on 10× sf0.1
    // (5.6 → 4.1 at sf0.1); the 10× ratio drops 6.5× → 3.1×.
    // Checkpointing.stage = executor-local blocks by default (the tier
    // d73's rounds use); a cluster with executor churn sets
    // -Dgraft.stage.reliableCheckpoint=1 + a checkpointDir for the
    // file-backed tier (see Checkpointing.stage's scaladoc).
    val pruned = clean.join(boiler, Seq("doc_id"), "left_anti")
      .transform(Checkpointing.stage)
    val pairs = Dedup.minHashLsh(pruned, "doc_id", "text",
        n = 3, numHashes = 64, bands = 16, verifyThreshold = 0.8)
      .select(col("id_a"), col("id_b"))
    Dedup.dedupByClusters(pruned, pairs, "doc_id")
  }
}
