package graft.query

import graft.ops.{Dedup, Similarity}
import graft.functions.TextFunctions
import graft.functions.Portable.floor6
import org.apache.spark.sql.functions._

import Shared._

/** Text driver queries: quality scores, tokenizers, language models,
  * retrieval scoring and chunking. */
object TextQueries {

  val specs: Seq[QuerySpec] = Seq(
    // text quality metrics
    QuerySpec("t25_text_quality", (s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextFunctions.avgTokenLen(col("text")).as("avg_token_len"),
          TextFunctions.stopwordRatio(col("text"), stopwords).as("stopword_ratio"),
          TextFunctions.alphaRatio(col("text")).as("alpha_ratio"))
        .orderBy(col("doc_id"))
    }, Sql(
      s"""WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)
        |SELECT doc_id, len(t) AS n_tokens,
        |  round(CAST(list_sum([len(x) for x in t]) AS DOUBLE) / len(t), 4) AS avg_token_len,
        |  $stopwordRatioSql AS stopword_ratio,
        |  $alphaRatioSql AS alpha_ratio
        |FROM toks ORDER BY doc_id""".stripMargin)),

    // regex (BPE-ish) token counting
    QuerySpec("t26_token_regex", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.regexTokenCount(col("text")).cast("long").as("n_regex_tokens"))
        .orderBy(col("doc_id"))
    }, Sql(
      """SELECT doc_id, CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_regex_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // canonical-form document fingerprint (md5 of sorted distinct tokens)
    QuerySpec("t27_fingerprint", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.canonicalFingerprint(col("text")).as("fingerprint"))
        .orderBy(col("doc_id"))
    }, Sql(
      """SELECT doc_id, md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // heuristic language ID (marker-token argmax)
    QuerySpec("t28_langid", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH s AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sc AS (SELECT doc_id,
        |  len([x for x in t if x IN ('der','die','das','und','ist')]) AS sde,
        |  len([x for x in t if x IN ('the','a','of','and','is')]) AS sen,
        |  len([x for x in t if x IN ('el','la','de','y','es')]) AS ses,
        |  len([x for x in t if x IN ('le','la','de','et','est')]) AS sfr,
        |  len([x for x in t if x IN ('de','le','shi','he','zai')]) AS szh
        |  FROM s)
        |SELECT doc_id, CASE
        |  WHEN sde = 0 AND sen = 0 AND ses = 0 AND sfr = 0 AND szh = 0 THEN 'und'
        |  WHEN sde >= sen AND sde >= ses AND sde >= sfr AND sde >= szh THEN 'de'
        |  WHEN sen >= ses AND sen >= sfr AND sen >= szh THEN 'en'
        |  WHEN ses >= sfr AND ses >= szh THEN 'es'
        |  WHEN sfr >= szh THEN 'fr' ELSE 'zh' END AS lang_pred
        |FROM sc ORDER BY doc_id""".stripMargin)),

    // corpus term frequencies: top-5 tokens per language
    QuerySpec("t38_top_terms", (s, dir) => {
      graft.ops.Sampling.topTerms(t(s, dir, "documents"), "lang", "text", n = 5)
        .orderBy(col("lang"), col("rank"))
    }, Sql(
      """WITH tf AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
        |cnt AS (SELECT lang, token, count(*) AS tf FROM tf GROUP BY lang, token),
        |ranked AS (SELECT lang, token, tf,
        |  row_number() OVER (PARTITION BY lang ORDER BY tf DESC, token) AS rank FROM cnt)
        |SELECT lang, token, tf, rank FROM ranked WHERE rank <= 5 ORDER BY lang, rank""".stripMargin)),

    // PII/URL scrub: typed placeholders via a codegen'd regexp_replace chain
    // (synthetic suffix exercises all three patterns on every row)
    QuerySpec("t62_pii_scrub", (s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
          TextFunctions.scrub(concat(col("text"),
            lit(" contact bob@example.com or https://x.io/a?b=1 id 12345678901"))).as("scrubbed"))
        .orderBy(col("doc_id"))
    }, Sql(
      """SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
        |  text || ' contact bob@example.com or https://x.io/a?b=1 id 12345678901',
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |  'https?://[^\s]+', '<URL>', 'g'),
        |  '[0-9]{7,}', '<NUM>', 'g') AS scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // composite document quality score (length / alpha / stopword heuristics)
    QuerySpec("t63_quality_score", (s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
          TextFunctions.qualityScore(col("text"), stopwords).as("quality"))
        .orderBy(col("doc_id"))
    }, Sql(
      s"""WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)
        |SELECT doc_id, $qualitySql AS quality
        |FROM toks ORDER BY doc_id""".stripMargin)),

    // winsorized quality normalization (round 17): t63's composite score
    // clamped to its exact [p05, p95] band — rank-selected (type-1)
    // thresholds, so both engines pick the identical order statistics and
    // the clamp replays bit-for-bit; the outlier-robust step that keeps
    // one pathological doc from stretching the scale every later
    // threshold is calibrated against
    // Oracle: t167: t63's score, thresholds re-derived INDEPENDENTLY by the same
    // integer-rank rule (row_number is fine oracle-side — DuckDB is
    // single-node; the Spark side uses the distributed row-index
    // machinery), clamp = least/greatest of identical doubles
    QuerySpec("t167_winsorized_quality", (s, dir) => {
      // the scored relation feeds the threshold pass AND the output
      // projection — staged so the regex-heavy score is computed once
      // (measured 0.67x vs recompute; the t169 staging rule)
      val scored = graft.ops.Checkpointing.stage(
        t(s, dir, "documents").select(col("doc_id"),
          TextFunctions.qualityScore(col("text"), stopwords).as("quality")))
      graft.ops.Quality.winsorize(scored, "doc_id", "quality", pLo = 0.05, pHi = 0.95)
        .orderBy(col("doc_id"))
    }, Sql(
      s"""WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
        |s AS (SELECT doc_id, $qualitySql AS quality FROM toks),
        |cnt AS (SELECT count(*) AS n FROM s),
        |srt AS (SELECT quality, row_number() OVER (ORDER BY quality) - 1 AS idx FROM s),
        |lo AS (SELECT quality AS lo FROM srt, cnt WHERE idx = ${rankIdxSql(0.05)}),
        |hi AS (SELECT quality AS hi FROM srt, cnt WHERE idx = ${rankIdxSql(0.95)})
        |SELECT doc_id, quality, least(greatest(quality, lo), hi) AS clamped
        |FROM s, lo, hi ORDER BY doc_id""".stripMargin)),

    // robust z-score (round 17): (quality − median) / MAD — the
    // 50%-breakdown standardization feeding |z| > k outlier flags; both
    // statistics are type-1 rank selections, so the oracle re-derives
    // them independently and the whole projection replays bit-for-bit
    // Oracle: t169: median and MAD re-derived by the same rank rule; the division
    // is double/double in the identical operand order, floor-rounded
    QuerySpec("t169_robust_z", (s, dir) => {
      val scored = t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.qualityScore(col("text"), stopwords).as("quality"))
      graft.ops.Quality.robustZ(scored, "doc_id", "quality")
        .orderBy(col("doc_id"))
    }, Sql(
      s"""WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
        |s AS (SELECT doc_id, $qualitySql AS quality FROM toks),
        |cnt AS (SELECT count(*) AS n FROM s),
        |r1 AS (SELECT quality, row_number() OVER (ORDER BY quality) - 1 AS idx FROM s),
        |med AS (SELECT quality AS med FROM r1, cnt WHERE idx = ${rankIdxSql(0.5)}),
        |r2 AS (SELECT abs(quality - med) AS d,
        |       row_number() OVER (ORDER BY abs(quality - med)) - 1 AS idx FROM s, med),
        |mad AS (SELECT d AS mad FROM r2, cnt WHERE idx = ${rankIdxSql(0.5)})
        |SELECT doc_id, quality,
        |  CASE WHEN mad = 0 THEN 0.0
        |       ELSE ${floor6Sql("(quality - med) / mad")} END AS z
        |FROM s, med, mad ORDER BY doc_id""".stripMargin)),

    // GROUP-WISE winsorize (round 17): t167's clamp applied WITHIN each
    // language — per-group rank thresholds ride one PARTITIONED window
    // (strict-plan clean) and a groups-sized join; zero driver
    // involvement, so the normalization scales with the corpus, not the
    // driver. A language whose scorer runs hot no longer stretches the
    // global band
    // Oracle: t168: the same rank rule per language — thresholds from a
    // partitioned window, value-at-rank deterministic under ties
    QuerySpec("t168_winsorize_by_lang", (s, dir) => {
      // staged for the same two-consumer reason as t167
      val scored = graft.ops.Checkpointing.stage(
        t(s, dir, "documents").select(col("doc_id"), col("lang"),
          TextFunctions.qualityScore(col("text"), stopwords).as("quality")))
      graft.ops.Quality.winsorizeBy(scored, "lang", "doc_id", "quality",
          pLo = 0.05, pHi = 0.95)
        .orderBy(col("doc_id"))
    }, Sql(
      s"""WITH toks AS (SELECT doc_id, lang, text, string_split(text, ' ') AS t FROM documents),
        |s AS (SELECT doc_id, lang, $qualitySql AS quality FROM toks),
        |r AS (SELECT lang, quality,
        |  row_number() OVER (PARTITION BY lang ORDER BY quality) - 1 AS idx,
        |  count(*) OVER (PARTITION BY lang) AS n FROM s),
        |th AS (SELECT lang,
        |  min(CASE WHEN idx = ${rankIdxSql(0.05)} THEN quality END) AS lo,
        |  min(CASE WHEN idx = ${rankIdxSql(0.95)} THEN quality END) AS hi
        |  FROM r
        |  WHERE idx = ${rankIdxSql(0.05)} OR idx = ${rankIdxSql(0.95)}
        |  GROUP BY lang)
        |SELECT s.doc_id, s.lang, s.quality, least(greatest(s.quality, th.lo), th.hi) AS clamped
        |FROM s JOIN th USING (lang) ORDER BY doc_id""".stripMargin)),

    // per-lang quality-percentile pruning: keep the top 25% of each lang
    // by quality score — the relative-threshold curation step (stable mix
    // as quality drifts, unlike p67's absolute cutoff). Deterministic
    // md5 tie-break, so the kept set is engine-exact
    // Oracle: same quality expression as t63 wrapped in the rank window; ceil of
    // an exact small-int product is engine-identical
    QuerySpec("t86_quality_prune", (s, dir) => {
      val scored = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextFunctions.qualityScore(col("text"), stopwords).as("quality"))
      graft.ops.Sampling.topFractionByScore(scored, "lang", "doc_id", "quality",
          frac = 0.25)
        .orderBy(col("doc_id"))
    }, Sql(
      s"""WITH toks AS (SELECT doc_id, lang, text, string_split(text, ' ') AS t FROM documents),
        |q AS (SELECT doc_id, lang, $qualitySql AS quality FROM toks),
        |r AS (SELECT doc_id, lang, quality,
        |  row_number() OVER (PARTITION BY lang
        |    ORDER BY quality DESC, md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
        |  count(*) OVER (PARTITION BY lang) AS n FROM q)
        |SELECT doc_id, lang, quality FROM r
        |WHERE rk <= ceil(n * 0.25) ORDER BY doc_id""".stripMargin)),

    // Gopher-style repetition filters: duplicated-2-gram fraction and
    // most-frequent-token fraction — per-row array math, no shuffle
    QuerySpec("t65_repetition", (s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
          TextFunctions.dupNgramFraction(col("text"), 2).as("dup_2gram_frac"),
          TextFunctions.topTokenFraction(col("text")).as("top_token_frac"))
        .orderBy(col("doc_id"))
    }, Sql(
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id, t, ${ngramsSql(2)} AS grams FROM toks)
        |SELECT doc_id,
        |  CASE WHEN len(grams) = 0 THEN 0.0
        |       ELSE round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 4) END AS dup_2gram_frac,
        |  round(CAST(list_max([len([y for y in t if y = x]) for x in list_distinct(t)]) AS DOUBLE) / len(t), 4) AS top_token_frac
        |FROM g ORDER BY doc_id""".stripMargin)),

    // corpus-frequency token-rarity score (two-pass: capped broadcast vocab)
    // Oracle: rank sums are integers, so the per-doc mean is exact in both engines;
    // the vocab rank order (tf desc, token asc) is a unique total order
    QuerySpec("t66_token_rarity", (s, dir) => {
      graft.ops.Sampling.tokenRarityScore(t(s, dir, "documents"), "doc_id", "text", vocab = 1000)
        .select(col("id").as("doc_id"), col("rarity"))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tf AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        |rk AS (SELECT w, row_number() OVER (ORDER BY c DESC, w) AS r FROM tf),
        |v AS (SELECT w, r FROM rk WHERE r <= 1000)
        |SELECT doc_id, round(CAST(sum(coalesce(r, 1001)) AS DOUBLE) / count(*), 4) AS rarity
        |FROM tok LEFT JOIN v USING (w) GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // top-3 TF-IDF keywords per document (log-free rational idf — exact
    // cross-engine scores; same ranking as the textbook log form)
    // Oracle: log-free rational idf: integer-derived doubles + one IEEE division —
    // bit-identical across engines (ln's last ulp is not)
    QuerySpec("t75_tfidf", (s, dir) => {
      graft.ops.Sampling.tfIdfTopTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"), col("rnk"))
    }, Sql(
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfq AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT doc_id, token,
        |  round(tf * (n.n - dfq.df + 0.5) / (dfq.df + 0.5), 4) AS tfidf
        |  FROM tf JOIN dfq USING (token) CROSS JOIN n),
        |r AS (SELECT doc_id, token, tfidf,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rnk FROM s)
        |SELECT doc_id, token, tfidf, CAST(rnk AS BIGINT) AS rnk FROM r
        |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin)),

    // deterministic global shuffle + fixed-size shard assignment: the
    // "write the training set in randomized shards" step — a content-hash
    // permutation via distributed range sort, positions from per-partition
    // counts (no single-partition window anywhere)
    // Oracle: the md5 permutation is engine-portable; pos/shard recomputed from the
    // same hash order. ORDER BY pos makes strict-order = the permutation
    QuerySpec("t98_shuffle_shard", (s, dir) => {
      graft.ops.Sampling.shuffleShards(
          t(s, dir, "documents").select(col("doc_id")), "doc_id", shardSize = 64)
        .select(col("doc_id"), col("pos"), col("shard"))
        .orderBy(col("pos"))
    }, Sql(
      """WITH p AS (SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT) AS pos
        |  FROM documents)
        |SELECT doc_id, pos, CAST(pos // 64 AS BIGINT) AS shard
        |FROM p ORDER BY pos""".stripMargin)),

    // BPE tokenizer training's inner statistic: corpus-weighted adjacent
    // character-pair counts over the distinct word-frequency table (one
    // corpus pass → vocab relation; everything after is vocab-sized). Top-50
    // by count — the pairs the first merges would fuse
    // Oracle: initial BPE symbols are single chars, so an adjacency's fused string
    // a||b is exactly the 2-char substring at that position
    QuerySpec("t97_bpe_pairs", (s, dir) => {
      val vocab = graft.ops.Bpe.wordFreq(t(s, dir, "documents"), "text")
      graft.ops.Bpe.pairCounts(vocab)
        .select(concat(col("a"), col("b")).as("pair"), col("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(50)
    }, Sql(
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |wf AS (SELECT w, count(*) AS c FROM toks WHERE length(w) >= 2 GROUP BY w),
        |pairs AS (SELECT unnest([substr(w, i, 2) for i in range(1, length(w))]) AS pair, c FROM wf),
        |agg AS (SELECT pair, CAST(sum(c) AS BIGINT) AS n FROM pairs GROUP BY pair)
        |SELECT pair, n FROM agg ORDER BY n DESC, pair LIMIT 50""".stripMargin)),

    // overlapping token-window chunking (pretraining prep): each document
    // exploded into 64-token windows every 32 tokens — zero-shuffle
    // map-side transform, sequence/slice built-ins only
    // Oracle: 1-based starts every 32 tokens; list_slice caps at the tail exactly
    // like Spark's slice(toks, st, 64)
    QuerySpec("t80_chunk_windows", (s, dir) => {
      graft.ops.Chunking.tokenWindows(t(s, dir, "documents"), "doc_id", "text",
          window = 64, stride = 32)
        .orderBy(col("doc_id"), col("chunk_id"))
    }, Sql(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, toks,
        |  unnest(generate_series(1, greatest(len(toks), 1), 32)) AS st FROM t)
        |SELECT doc_id, CAST((st - 1) // 32 AS BIGINT) AS chunk_id,
        |  array_to_string(toks[st : st + 63], ' ') AS chunk,
        |  CAST(len(toks[st : st + 63]) AS BIGINT) AS n_tokens
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin)),

    // concat-and-cut sequence packing: per-lang shards, docs laid end-to-
    // end in md5 order and cut into 2048-token bins — integer arithmetic
    // only, so the assignment is engine-exact. The step after t80 in a
    // pretraining pipeline (ragged docs → uniform training sequences)
    // Oracle: the running sum and integer // reproduce Spark's window + div exactly
    QuerySpec("t82_sequence_pack", (s, dir) => {
      graft.ops.Chunking.packSequences(t(s, dir, "documents"), "doc_id", "text",
          budget = 2048, shardCols = Seq("lang"))
        .orderBy(col("lang"), col("bin"), col("doc_id"))
    }, Sql(
      """WITH t AS (SELECT lang, doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
        |c AS (SELECT lang, doc_id, n_tokens,
        |  CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    - n_tokens AS strt
        |  FROM t)
        |SELECT lang, doc_id, n_tokens,
        |  CAST(strt // 2048 AS BIGINT) AS bin,
        |  CAST(strt - (strt // 2048) * 2048 AS BIGINT) AS bin_offset
        |FROM c ORDER BY lang, bin, doc_id""".stripMargin)),

    // inverted index over the corpus: token → document frequency + capped
    // sorted posting list (CSV) — posting collection is rank-capped BEFORE
    // collect_list, so a stopword costs capPostings entries, not its df
    // Oracle: same tokenization rule, rank-capped postings reproduced via a window
    // FILTER inside the list aggregate
    QuerySpec("t84_inverted_index", (s, dir) => {
      graft.ops.TextIndex.invertedIndex(t(s, dir, "documents"), "doc_id", "text",
          minDf = 50L, capPostings = 20)
        .orderBy(col("token"))
    }, Sql(
      s"""WITH tok0 AS (SELECT doc_id, unnest($tokensSql) AS token FROM documents),
        |tok AS (SELECT DISTINCT doc_id, token FROM tok0),
        |r AS (SELECT doc_id, token,
        |  row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn FROM tok),
        |g AS (SELECT token, count(*) AS df_count,
        |  array_to_string(list_sort(list(doc_id) FILTER (WHERE rn <= 20)), ',') AS postings_csv
        |  FROM r GROUP BY token)
        |SELECT token, df_count, postings_csv FROM g
        |WHERE df_count >= 50 ORDER BY token""".stripMargin)),

    // bigram-LM conditional probabilities with add-0.5 smoothing — the
    // model-estimation pass of an n-gram perplexity quality filter; left
    // totals are a window over the counts relation (no second corpus pass)
    // Oracle: bigrams via a struct comprehension over adjacent positions; left
    // totals and the continuation vocabulary recomputed from the counts
    QuerySpec("t89_bigram_lm", (s, dir) => {
      graft.ops.TextIndex.bigramConditional(t(s, dir, "documents"), "text",
        topN = 100)
    }, Sql(
      s"""WITH tk AS (SELECT $tokensSql AS t FROM documents),
        |tk2 AS (SELECT t FROM tk WHERE len(t) >= 2),
        |bg AS (SELECT unnest($bigramsSql) AS s FROM tk2),
        |c AS (SELECT s.w1 AS w1, s.w2 AS w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
        |v AS (SELECT count(DISTINCT w2) AS nv FROM c),
        |f AS (SELECT w1, w2, c12, sum(c12) OVER (PARTITION BY w1) AS c1 FROM c)
        |SELECT w1, w2, c12, ${floor6Sql("(c12 + 0.5) / (c1 + 0.5 * nv)")} AS p_cond
        |FROM f, v ORDER BY c12 DESC, w1, w2 LIMIT 100""".stripMargin)),

    // apply the FROZEN tokenizer (t97 trains, this encodes): per-distinct-
    // word merge fold as a chain of codegen'd literal replaces, broadcast
    // join back to the corpus — the "tokenize 100 TB with a published
    // merges file" pass
    // Oracle: the frozen merge chain replayed as nested literal replaces
    QuerySpec("t102_bpe_encode", (s, dir) => {
      graft.ops.Bpe.encode(t(s, dir, "documents"), "doc_id", "text",
          frozenBpeMerges, capTokens = 12)
        .orderBy(col("doc_id"))
    }, Sql(bpeEncodeOracle(frozenBpeMerges, cap = 12))),

    // CCNet-style LM quality score: per-doc mean bigram log-prob under the
    // corpus's own add-0.5 model; each ln rounds through DECIMAL before the
    // per-doc sum so the distributed mean is order-independent
    // Oracle: the t89 model chain + a per-doc scoring join; ln() of identical
    // doubles in both engines, each term decimal-rounded pre-sum
    QuerySpec("t110_doc_logprob", (s, dir) => {
      graft.ops.TextIndex.bigramLogProbScore(t(s, dir, "documents"),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }, Sql(
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS t FROM documents),
        |tk2 AS (SELECT doc_id, t FROM tk WHERE len(t) >= 2),
        |bg AS (SELECT doc_id, unnest($bigramsSql) AS s FROM tk2),
        |p AS (SELECT doc_id, s.w1 AS w1, s.w2 AS w2 FROM bg),
        |${lmChainCtes()}
        |SELECT doc_id, n_bigrams, mean_lp AS avg_logprob
        |FROM g ORDER BY doc_id""".stripMargin)),

    // DSIR-style importance resampling (Xie et al. 2023, arXiv:2302.03169):
    // keep the quarter of the corpus whose token distribution is most like
    // the English target slice — importance = mean bigram log-prob under
    // the target-domain model MINUS under the corpus's own model; two
    // vocab²-bounded model estimations, and the keep step is the terasort
    // row-index form (never a global window, never a driver-side collect)
    // Oracle: the t110 LM chain twice — once with the model estimated on the 'en'
    // target slice, once on the whole corpus — importance = the difference
    // of the two 6-dp floor-rounded means (identical doubles in both
    // engines), keep = top floor(scored·0.25) by (importance desc, doc_id)
    QuerySpec("t144_dsir_resample", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.TextIndex.dsirResample(d, d.filter(col("lang") === "en"),
          "doc_id", "text", fraction = 0.25)
        .orderBy(col("importance").desc, col("doc_id"))
    }, Sql(
      s"""WITH tk AS (SELECT doc_id, lang, $tokensSql AS t FROM documents),
        |tk2 AS (SELECT doc_id, lang, t FROM tk WHERE len(t) >= 2),
        |bg AS (SELECT doc_id, lang, unnest($bigramsSql) AS s FROM tk2),
        |p AS (SELECT doc_id, lang, s.w1 AS w1, s.w2 AS w2 FROM bg),
        |${lmChainCtes("t", where = "lang = 'en'")},
        |${lmChainCtes("c")},
        |sc AS (SELECT gt.doc_id AS doc_id, gt.mean_lp AS lp_target, gc.mean_lp AS lp_corpus,
        |  ${floor6Sql("gt.mean_lp - gc.mean_lp")} AS importance
        |  FROM gt JOIN gc ON gc.doc_id = gt.doc_id),
        |n AS (SELECT CAST(floor(count(*) * 0.25) AS BIGINT) AS keep FROM sc),
        |r AS (SELECT sc.*, row_number() OVER (ORDER BY importance DESC, doc_id) AS rn FROM sc)
        |SELECT doc_id, lp_target, lp_corpus, importance FROM r, n WHERE rn <= n.keep
        |ORDER BY importance DESC, doc_id""".stripMargin)),

    // per-doc Shannon entropy over Unicode codepoints (round 15): the
    // classic gibberish / binary-junk / padding signal — random symbols
    // score high, repeated padding near 0, natural language sits in a
    // stable band. A codegen'd native expression
    // (functions/EntropyExpressions), pure per-row projection: zero
    // exchange beyond the output sort, a map over the scan at any scale
    // Oracle: t145: codepoint counts per doc; the Σ c·ln(c) is taken over a list
    // ordered by codepoint (binary collation = codepoint order), the same
    // order the native expression's TreeMap iterates — bit-for-bit parity
    QuerySpec("t145_char_entropy", (s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
          coalesce(length(col("text")), lit(0)).cast("long").as("n_chars"),
          floor6(graft.functions.EntropyExpressions.charEntropy(s, col("text")))
            .as("entropy"))
        .orderBy(col("doc_id"))
    }, Sql(
      s"""WITH cps AS (SELECT doc_id, unnest(regexp_extract_all(text, '(?s).')) AS ch FROM documents),
        |cnt AS (SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS c FROM cps GROUP BY doc_id, ch),
        |agg AS (SELECT doc_id, sum(c) AS n, list_sum(list(c * ln(c) ORDER BY ch)) AS s
        |        FROM cnt GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(length(d.text), 0) AS BIGINT) AS n_chars,
        |  ${floor6Sql("(ln(a.n) - a.s / a.n) / ln(2)")} AS entropy
        |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin)),

    // token-VALUE entropy of the whitespace token stream — the
    // vocabulary-diversity complement of t145: template/boilerplate docs
    // reuse few distinct tokens (low entropy) even when their character
    // distribution looks like normal prose
    // Oracle: t146: same formula over whitespace token VALUES (split keeps empty
    // tokens in both engines; ORDER BY tok = UTF-8 binary order, the
    // TreeMap<UTF8String> iteration order)
    QuerySpec("t146_token_entropy", (s, dir) => {
      val toks = graft.functions.TextFunctions.tokens(col("text"))
      t(s, dir, "documents").select(col("doc_id"),
          coalesce(size(toks), lit(0)).cast("long").as("n_tokens"),
          floor6(graft.functions.EntropyExpressions.tokenEntropy(s, toks)).as("entropy"))
        .orderBy(col("doc_id"))
    }, Sql(
      s"""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |cnt AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS c FROM tk GROUP BY doc_id, tok),
        |agg AS (SELECT doc_id, sum(c) AS n, list_sum(list(c * ln(c) ORDER BY tok)) AS s
        |        FROM cnt GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(len(string_split(d.text, ' ')), 0) AS BIGINT) AS n_tokens,
        |  ${floor6Sql("(ln(a.n) - a.s / a.n) / ln(2)")} AS entropy
        |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin)),

    // Okapi BM25 retrieval ranking (round 15): the standard scorer over
    // the t84 tokenization — tf from the codegen'd token_counts map (pure
    // projection, no corpus shuffle), corpus stats (N, Σdl, per-term df)
    // reduced to ONE broadcast row, top-N via TakeOrdered. Every float
    // input is integral and per-term scores sum in query order, so the
    // oracle replays the chain term by term with constants printed from
    // the operator's own doubles
    QuerySpec("t150_bm25", (s, dir) => {
      graft.ops.TextIndex.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        query = Seq("hash", "join", "filter"), topN = 20)
    }, Sql(bm25Oracle(Seq("hash", "join", "filter"),
      k1 = 1.2, b = 0.75, topN = 20))),

    // unigram-LM tokenizer, stage 1 (round 16): the substring seed
    // vocabulary — every ≤4-char substring of the distinct words,
    // corpus-frequency-weighted, top-500 + all single chars. Pure
    // codegen'd flatten/explode + one aggregate + TakeOrdered; fully
    // SQL-replayable, so this stage carries the family's hash-exact
    // oracle row (the EM stage below is the rows-only one)
    QuerySpec("t152_unigram_seed", (s, dir) => {
      graft.ops.Unigram.seedVocab(t(s, dir, "documents"), "text",
          maxPieceLen = 4, seedSize = 500)
        .orderBy(col("freq").desc, col("piece").asc)
    }, Sql(
      """WITH words AS (
        |  SELECT w, count(*) AS c FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents
        |  ) WHERE length(w) >= 1 AND length(w) <= 48 GROUP BY w),
        |subs AS (
        |  SELECT substr(w, CAST(i AS INTEGER), CAST(l AS INTEGER)) AS piece, c
        |  FROM words,
        |       unnest(range(1, length(w) + 1)) AS u(i),
        |       unnest(range(1, least(4, length(w) - i + 1) + 1)) AS v(l)),
        |agg AS (SELECT piece, sum(c) AS freq FROM subs GROUP BY piece),
        |top AS (SELECT * FROM agg ORDER BY freq DESC, piece ASC LIMIT 500),
        |un AS (SELECT * FROM top UNION ALL SELECT * FROM agg WHERE length(piece) = 1)
        |SELECT piece, CAST(max(freq) AS BIGINT) AS freq FROM un GROUP BY piece
        |ORDER BY freq DESC, piece ASC""".stripMargin)),

    // bigram collocations by PMI ratio (round 16): how much more often two
    // adjacent tokens co-occur than independence predicts — phrase mining /
    // multi-word-expression detection for tokenizer seeding. Log-free
    // score (the t75/t89 discipline): the PMI-monotone ratio n_ab·T²/(B·
    // n_a·n_b) from exact integer counts in fixed-order double arithmetic,
    // floor-rounded — the oracle replays it bit-for-bit
    // Oracle: t156: unigram/bigram counts from the same [^a-z0-9]+ token rule; the
    // PMI-monotone ratio in the SAME double operand order the operator
    // uses, floor-rounded; top-50 by (ratio desc, a, b)
    QuerySpec("t156_pmi_collocations", (s, dir) => {
      graft.ops.TextIndex.pmiCollocations(t(s, dir, "documents"), "text",
          topK = 50, minCount = 5)
        .orderBy(col("pmi_ratio").desc, col("a"), col("b"))
    }, Sql(
      s"""WITH toks AS (SELECT $tokensSql AS t FROM documents),
        |uni2 AS (SELECT w, count(*) AS n FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
        |bi0 AS (SELECT p.w1 AS wa, p.w2 AS wb, count(*) AS n_ab FROM (
        |         SELECT unnest($bigramsSql) AS p
        |         FROM toks WHERE len(t) >= 2) GROUP BY 1, 2),
        |bi AS (SELECT * FROM bi0 WHERE n_ab >= 5),
        |tot AS (SELECT (SELECT sum(n) FROM uni2) AS tt, (SELECT sum(n_ab) FROM bi0) AS tb),
        |sc AS (SELECT wa, wb, n_ab,
        |  (CAST(n_ab AS DOUBLE) * tot.tt * tot.tt) / (CAST(tot.tb AS DOUBLE) * ua.n * ub.n) AS r
        |  FROM bi, tot
        |  JOIN uni2 ua ON ua.w = bi.wa
        |  JOIN uni2 ub ON ub.w = bi.wb),
        |top AS (SELECT * FROM sc ORDER BY r DESC, wa, wb LIMIT 50)
        |SELECT wa AS a, wb AS b, n_ab, ${floor6Sql("r")} AS pmi_ratio
        |FROM top ORDER BY pmi_ratio DESC, a, b""".stripMargin)),

    // unigram-LM tokenizer, stage 2 (round 16): hard-EM training over the
    // distinct-word relation (Kudo 2018 in its Viterbi-EM form) with
    // EXACT-INTEGER segmentation scoring (BigInt cross-multiplication —
    // no float anywhere, so the output is a deterministic integer
    // function of the corpus; UnigramSpec pins golden fixtures and
    // cross-run equality). rows-only at the gate: the per-word DP has no
    // SQL replay (the s36 precedent) — the seed stage above is the
    // family's oracle-exact row and the spec carries the EM bound
    QuerySpec("t153_unigram_lm", (s, dir) => {
      graft.ops.Unigram.train(t(s, dir, "documents"), "text",
          vocabSize = 256, maxPieceLen = 4, seedSize = 500, emIters = 2)
        .orderBy(col("rank"))
    }, RowsOnly("the per-word Viterbi DP has no SQL replay; bound: UnigramSpec " +
      "\"train: deterministic across runs; every corpus char kept; size bounded\"")),

    // t153's ORACLE-CHECKED companion (round 17, r16 verdict #6): the two
    // invariants of the trained vocabulary that ARE SQL-decidable against
    // t152's oracle-exact seed — (a) coverage: the vocab's single-char
    // pieces are exactly the corpus's distinct characters (the oracle
    // counts them from the corpus independently), and (b) provenance:
    // every trained piece came from the seed relation (anti-join count 0,
    // the EM-only-prunes contract). A tokenizer that dropped a char or
    // invented a piece hash-mismatches the gate; t153 stays rows-only for
    // the EM ranking itself (per-word DP, no SQL form)
    // Oracle: t152: the unigram-LM substring seed — lateral unnest(range) replays
    // the flatten(transform(sequence…)) expansion position for position;
    // top-500 by (freq desc, piece asc) unioned with every single char,
    // deduped by max (a char inside the top keeps one row). t153 (the EM
    // stage) is rows-only by design: a per-word Viterbi DP has no SQL
    // form — UnigramSpec carries its bound (golden fixtures, exact-integer
    // determinism, coverage).
    // t165: coverage side from the corpus (same word rule as t152's words
    // CTE: whitespace split, 1..48 chars), provenance side literal 0 —
    // the Spark row must agree on both or the gate mismatches
    QuerySpec("t165_unigram_coverage", (s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = graft.ops.Unigram.train(docs, "text",
        vocabSize = 256, maxPieceLen = 4, seedSize = 500, emIters = 2)
        .select(col("piece"))
      val seed = graft.ops.Unigram.seedVocab(docs, "text",
        maxPieceLen = 4, seedSize = 500).select(col("piece"))
      vocab.agg(sum(when(length(col("piece")) === 1, 1L).otherwise(0L))
          .cast("long").as("n_chars"))
        .crossJoin(vocab.join(seed, Seq("piece"), "left_anti")
          .agg(count(lit(1)).as("n_outside_seed")))
    }, Sql(
      """WITH words AS (
        |  SELECT DISTINCT w FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents
        |  ) WHERE length(w) >= 1 AND length(w) <= 48),
        |chs AS (SELECT DISTINCT substr(w, CAST(i AS INTEGER), 1) AS ch
        |        FROM words, unnest(range(1, length(w) + 1)) AS u(i))
        |SELECT CAST(count(*) AS BIGINT) AS n_chars,
        |       CAST(0 AS BIGINT) AS n_outside_seed FROM chs""".stripMargin)),

    // greedy token-budget prefix: rank by quality (desc, doc_id tiebreak),
    // keep docs while the inclusive running token total fits the budget —
    // the "best 10k-token subset" curation step; the running total comes
    // from per-partition sums, never a single-partition window
    // Oracle: the d105 quality chain as the rank key; the inclusive running token
    // total reproduces the per-partition-sums prefix exactly (integer sum
    // over a unique total order)
    QuerySpec("t112_token_budget", (s, dir) => {
      val scored = t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.qualityScore(col("text"), stopwords).as("score"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      graft.ops.Sampling.tokenBudgetPrefix(scored, "doc_id", "score",
          "n_tokens", budgetTokens = 10000L)
        .orderBy(col("doc_id"))
    }, Sql(
      s"""WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
        |q AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens, $qualitySql AS score FROM toks),
        |c AS (SELECT doc_id, score, n_tokens,
        |  CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM q)
        |SELECT doc_id, score, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= 10000 ORDER BY doc_id""".stripMargin)),

    // tokenizer coverage report: per-language efficiency of the FROZEN
    // tokenizer (t102's merges) — bytes/token and tokens/word are the
    // numbers a tokenizer owner watches across corpus releases
    QuerySpec("t117_tokenizer_coverage", (s, dir) => {
      val docs = t(s, dir, "documents")
      val enc = graft.ops.Bpe.encode(docs, "doc_id", "text",
          frozenBpeMerges, capTokens = 12)
        .select(col("doc_id"), col("n_tokens"))
      docs.select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_words"))
        .join(enc, Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_chars")).as("n_chars"))
        .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_words"),
          col("n_chars"),
          floor6(col("n_chars").cast("double") / col("n_tokens")).as("bytes_per_token"),
          floor6(col("n_tokens").cast("double") / col("n_words")).as("tokens_per_word"))
        .orderBy(col("lang"))
    }, Sql(bpeCoverageOracle(frozenBpeMerges, cap = 12))),

    // source-interleaved training order: consecutive positions cycle
    // through sources by construction (t98's shuffle mixes in
    // expectation) — balanced batch composition for training runs.
    // Window rank per source, then terasort-shape global positions
    // Oracle: per-source rank by md5 order, then the interleaved global position:
    // (rank, source) is a unique total order both engines replay
    QuerySpec("t133_interleave", (s, dir) => {
      graft.ops.Sampling.interleaveByStratum(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          "source", "doc_id")
        .select(col("doc_id"), col("source"), col("stratum_rank"), col("pos"))
        .orderBy(col("pos"))
    }, Sql(
      """WITH r AS (SELECT doc_id, source,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS stratum_rank
        |  FROM documents)
        |SELECT doc_id, source, stratum_rank,
        |  CAST(row_number() OVER (ORDER BY stratum_rank, source) - 1 AS BIGINT) AS pos
        |FROM r ORDER BY pos""".stripMargin)),

    // per-doc n-gram novelty: fraction of a doc's distinct 5-gram
    // shingles appearing in NO other doc — the boilerplate/diversity
    // retention signal; one shingle-df exchange + one doc aggregate
    // Oracle: same distinct-shingle convention as d22/d61 (n=5 windows over the
    // space-split token stream), df via a count window, portable ratio
    QuerySpec("t139_novelty", (s, dir) => {
      Dedup.noveltyScore(t(s, dir, "documents"), "doc_id", "text", n = 5)
        .select(col("id").as("doc_id"), col("n_shingles"), col("n_unique"),
          col("novelty"))
        .orderBy(col("doc_id"))
    }, Sql(
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(${ngramsSql(5)})) AS s FROM toks),
        |dfc AS (SELECT doc_id, count(*) OVER (PARTITION BY s) AS df FROM sh)
        |SELECT doc_id, count(*) AS n_shingles,
        |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
        |  ${floor6Sql("CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")} AS novelty
        |FROM dfc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ZIPF FIT (round 17): least-squares slope of ln(tf) on ln(rank) over
    // the top-1000 tokens — the corpus-health diagnostic (natural language
    // ≈ −1; flatter = template flood, steeper tail = gibberish). Ranks via
    // the terasort row-index machinery (no partitionless window), every
    // regression term decimal-rounded pre-sum
    // Oracle: the same (c desc, w) top-N cut, ranks by row_number, decimal term
    // sums, and the rounded slope feeding the intercept
    QuerySpec("t174_zipf_fit", (s, dir) =>
      graft.ops.TextIndex.zipfFit(t(s, dir, "documents"), "text", topN = 1000), Sql {
      val slope = floor6Sql("(n * sxy - sx * sy) / (n * sxx - sx * sx)")
      s"""WITH tok AS (SELECT unnest($tokensSql) AS w FROM documents),
        |c AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        |top AS (SELECT w, c FROM c ORDER BY c DESC, w LIMIT 1000),
        |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rank FROM top),
        |t AS (SELECT CAST(ln(CAST(rank AS DOUBLE)) AS DECIMAL(27,7)) AS x,
        |  CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(27,7)) AS y,
        |  CAST(ln(CAST(rank AS DOUBLE)) * ln(CAST(c AS DOUBLE)) AS DECIMAL(27,7)) AS xy,
        |  CAST(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE)) AS DECIMAL(27,7)) AS xx FROM r),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |  CAST(sum(xy) AS DOUBLE) AS sxy, CAST(sum(xx) AS DOUBLE) AS sxx FROM t)
        |SELECT n AS n_tokens,
        |  $slope AS slope,
        |  ${floor6Sql(s"(sy - ($slope) * sx) / n")} AS intercept
        |FROM s""".stripMargin
    }),

    // GROUP-WISE robust z (round 17): t169's median/MAD standardization
    // WITHIN each language — |z| > k flags compare a doc against its own
    // population's spread, not a global band dominated by the largest
    // language. Fully distributed (two partitioned-window rank passes,
    // zero driver involvement); the regex-heavy score is staged once for
    // its three consumers (the t169 staging rule)
    // Oracle: t169's rank re-derivation per language: partitioned-window ranks for
    // the median, the same over per-group |x − med| for the MAD
    QuerySpec("t171_robust_z_by_lang", (s, dir) => {
      val scored = graft.ops.Checkpointing.stage(
        t(s, dir, "documents").select(col("doc_id"), col("lang"),
          TextFunctions.qualityScore(col("text"), stopwords).as("quality")))
      graft.ops.Quality.robustZBy(scored, "lang", "doc_id", "quality")
        .orderBy(col("doc_id"))
    }, Sql(
      s"""WITH toks AS (SELECT doc_id, lang, text, string_split(text, ' ') AS t FROM documents),
        |s AS (SELECT doc_id, lang, $qualitySql AS quality FROM toks),
        |r1 AS (SELECT lang, quality,
        |  row_number() OVER (PARTITION BY lang ORDER BY quality) - 1 AS idx,
        |  count(*) OVER (PARTITION BY lang) AS n FROM s),
        |med AS (SELECT lang, quality AS med FROM r1 WHERE idx = ${rankIdxSql(0.5)}),
        |d AS (SELECT s.lang, abs(s.quality - med.med) AS dd FROM s JOIN med USING (lang)),
        |r2 AS (SELECT lang, dd,
        |  row_number() OVER (PARTITION BY lang ORDER BY dd) - 1 AS idx,
        |  count(*) OVER (PARTITION BY lang) AS n FROM d),
        |mad AS (SELECT lang, dd AS mad FROM r2 WHERE idx = ${rankIdxSql(0.5)})
        |SELECT s.doc_id, s.lang, s.quality,
        |  CASE WHEN mad.mad = 0 THEN 0.0
        |       ELSE ${floor6Sql("(s.quality - med.med) / mad.mad")} END AS z
        |FROM s JOIN med USING (lang) JOIN mad USING (lang) ORDER BY doc_id""".stripMargin)),

    // Naive-Bayes LABEL-NOISE AUDIT (round 17): add-0.5 token models
    // trained per language tag on the corpus's OWN labels, every doc
    // re-classified, disagreements flagged — the standard mislabel sweep
    // before per-language sampling/mixing trusts the tags. Model is
    // vocab×labels-bounded; every ln decimal-rounded pre-sum (the t110
    // contract), so scores and the argmax replay exactly in any engine
    // Oracle: the t110 LM chain as a per-label classifier: model counts per
    // (label, token), matched mass via the inner token join, unseen mass
    // as the algebraic (n_tok − matched)·floor term — every ln
    // DECIMAL(27,7)-rounded pre-sum, the argmax on exact decimal scores
    QuerySpec("t170_nb_label_audit", (s, dir) => {
      graft.ops.TextIndex.naiveBayesLabelAudit(t(s, dir, "documents"),
          "doc_id", "text", "lang")
        .orderBy(col("doc_id"))
    }, Sql(
      s"""WITH d AS (SELECT doc_id, lang AS label, $tokensSql AS t FROM documents),
        |tok AS (SELECT doc_id, label, unnest(t) AS token FROM d),
        |c AS (SELECT label, token, count(*) AS c_lt FROM tok GROUP BY 1, 2),
        |tot AS (SELECT label, CAST(sum(c_lt) AS BIGINT) AS c_l FROM c GROUP BY 1),
        |v AS (SELECT count(DISTINCT token) AS v FROM c),
        |pri AS (SELECT label, count(*) AS n_docs FROM d GROUP BY 1),
        |nt AS (SELECT count(*) AS n_total, count(DISTINCT label) AS n_labels FROM d),
        |ls AS (SELECT pri.label AS cand,
        |    CAST(ln((n_docs + 0.5) / (n_total + 0.5 * n_labels)) AS DECIMAL(27,7)) AS prior_lp,
        |    CAST(ln(0.5 / (c_l + 0.5 * v)) AS DECIMAL(27,7)) AS miss_lp
        |  FROM pri JOIN tot ON pri.label = tot.label, v, nt),
        |m AS (SELECT doc_id, c.label AS cand,
        |    sum(CAST(ln((c_lt + 0.5) / (c_l + 0.5 * v)) AS DECIMAL(27,7))) AS m_sum,
        |    count(*) AS m_cnt
        |  FROM tok JOIN c ON tok.token = c.token JOIN tot ON c.label = tot.label, v
        |  GROUP BY 1, 2),
        |pd AS (SELECT doc_id, label, len(t) AS n_tok FROM d),
        |sc AS (SELECT pd.doc_id, pd.label, ls.cand,
        |    CAST(ls.prior_lp AS DECIMAL(30,7)) + CAST(coalesce(m.m_sum, 0) AS DECIMAL(30,7)) +
        |    CAST(CAST(pd.n_tok - coalesce(m.m_cnt, 0) AS DECIMAL(10,0)) * ls.miss_lp AS DECIMAL(30,7)) AS score
        |  FROM pd CROSS JOIN ls LEFT JOIN m ON m.doc_id = pd.doc_id AND m.cand = ls.cand),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rn FROM sc)
        |SELECT doc_id, label, cand AS pred_label,
        |  ${floor6Sql("CAST(score AS DOUBLE)")} AS score,
        |  (label = cand) AS agree
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin))
  )

  /** Shared CTE chain of the BPE-encode reproduction (word stream -> frozen
    * merge replay -> per-doc token stats as `g`); t102 selects `g` directly,
    * t117 aggregates it per language. */
  private def bpeEncodeCte(merges: Seq[(String, String)], cap: Int): String = {
    // the same non-printable \u0001/\u0002 symbol delimiters as Bpe.encode,
    // embedded as raw bytes in the SQL literals (DuckDB passes them through)
    val bo = "\u0001"; val bc = "\u0002"
    val fused = merges.foldLeft("f") { case (c, (a, b)) =>
      s"replace($c, '$bo$a$bc$bo$b$bc', '$bo$a$b$bc')"
    }
    s"""w0 AS (SELECT doc_id,
       |    unnest(string_split(text, ' ')) AS w,
       |    generate_subscripts(string_split(text, ' '), 1) AS wpos
       |  FROM documents),
       |w AS (SELECT * FROM w0 WHERE w <> ''
       |  AND NOT contains(w, chr(1)) AND NOT contains(w, chr(2))),
       |v AS (SELECT DISTINCT w FROM w),
       |e0 AS (SELECT w, '$bo' || array_to_string([w[i] for i in range(1, len(w)+1)], '$bc$bo') || '$bc' AS f FROM v),
       |e1 AS (SELECT w, $fused AS f FROM e0),
       |enc AS (SELECT w, string_split(f[2:len(f)-1], '$bc$bo') AS toks FROM e1),
       |j AS (SELECT doc_id, wpos, toks FROM w JOIN enc USING (w)),
       |g AS (SELECT doc_id, CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
       |  array_to_string(flatten(list(toks ORDER BY wpos))[1:$cap], ',') AS tokens_head
       |  FROM j GROUP BY doc_id)""".stripMargin
  }

  /** t102 oracle: the frozen merge list re-applied in DuckDB — each word
    * rendered as the boundary-wrapped symbol string and every merge ONE
    * literal `replace`, nested in rank order (string replace is
    * left-to-right non-overlapping in both engines — the applyMerge fold
    * semantics, spec-pinned). */
  private def bpeEncodeOracle(merges: Seq[(String, String)], cap: Int): String =
    s"""WITH ${bpeEncodeCte(merges, cap)}
       |SELECT doc_id, n_tokens, tokens_head FROM g ORDER BY doc_id""".stripMargin

  /** t117 oracle: the same encode chain aggregated per language with the
    * 6-dp efficiency ratios. */
  private def bpeCoverageOracle(merges: Seq[(String, String)], cap: Int): String =
    s"""WITH ${bpeEncodeCte(merges, cap)},
       |d AS (SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words FROM documents),
       |jj AS (SELECT d.lang, d.n_chars, d.n_words, g.n_tokens FROM d JOIN g USING (doc_id)),
       |a AS (SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(sum(n_words) AS BIGINT) AS n_words, CAST(sum(n_chars) AS BIGINT) AS n_chars
       |  FROM jj GROUP BY lang)
       |SELECT lang, n_docs, n_tokens, n_words, n_chars,
       |  ${floor6Sql("CAST(n_chars AS DOUBLE) / n_tokens")} AS bytes_per_token,
       |  ${floor6Sql("CAST(n_tokens AS DOUBLE) / n_words")} AS tokens_per_word
       |FROM a ORDER BY lang""".stripMargin

  /** t150 oracle: BM25 replayed term by term in the query's fixed order,
    * every float constant printed from the SAME Scala double the operator
    * computes (k1+1, 1−b — shortest-roundtrip decimals), the same
    * tokenization as the t84/t110 oracles. Association mirrors the
    * operator exactly: ((idf·tf)·k1p1)/(tf + k1·((1−b) + (b·dl)/(Σdl/N))). */
  private def bm25Oracle(terms: Seq[String], k1: Double, b: Double,
                         topN: Int): String = {
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(t, x -> x = '$t')) AS DOUBLE) AS tf$i"
    }.mkString(", ")
    val dfCols = terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i").mkString(", ")
    val scoreExpr = terms.indices.map { i =>
      s"ln(1 + (n - df$i + 0.5) / (df$i + 0.5)) * tf$i * ${decimalSql(k1 + 1.0)} / " +
        s"(tf$i + ${decimalSql(k1)} * (${decimalSql(1.0 - b)} + ${decimalSql(b)} * dl / (sumdl / n)))"
    }.mkString(" + ")
    // terms are interpolated into SQL string literals — keep the guard in
    // lockstep with the tokenizer's alphabet so no escaping is ever needed
    require(terms.forall(_.matches("[a-z0-9]+")),
      s"bm25Oracle terms must be [a-z0-9]+ tokens: $terms")
    // the top-N select keeps the UNROUNDED score (s0) as its sort key at
    // every level: in DuckDB an ORDER BY on the rounded output alias would
    // bind to the alias, silently diverging from the operator's
    // unrounded-score ordering whenever two scores differ by < 1e-6
    s"""WITH tk AS (SELECT doc_id, $tokensSql AS t FROM documents),
       |d AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl, $tfCols FROM tk),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) AS sumdl, $dfCols FROM d),
       |sc AS (SELECT doc_id, $scoreExpr AS s0 FROM d, st),
       |top AS (SELECT doc_id, s0 FROM sc WHERE s0 > 0 ORDER BY s0 DESC, doc_id LIMIT $topN)
       |SELECT doc_id, ${floor6Sql("s0")} AS score FROM top
       |ORDER BY s0 DESC, doc_id""".stripMargin
  }
}
