package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Portable.floor6

/** Corpus indexing and n-gram language-model statistics — the retrieval /
  * quality-filtering side of a training-data pipeline (beyond the reference
  * surface; the reference has no text-indexing operators).
  *
  * Both operators tokenize with the same engine-portable rule (lowercase,
  * split on runs of non-alphanumerics, drop empties) so any SQL engine
  * reproduces the token stream exactly — the same portability contract the
  * text-quality family (functions/TextFunctions.scala) follows.
  */
object TextIndex {

  private def tokensExpr(textCol: String) =
    filter(split(lower(col(textCol)), "[^a-z0-9]+"), t => t =!= "")

  /** The adjacent-token pairs `(w1, w2)` of every doc with 2+ tokens, one
    * row per bigram occurrence, led by the doc's id as `doc_id` when `idCol`
    * is given: a projection + explode, no shuffle. */
  private def bigramRows(df: DataFrame, textCol: String,
                         idCol: Option[String]): DataFrame = {
    val id = idCol.map(c => col(c).as("doc_id")).toSeq
    val keep = idCol.map(_ => col("doc_id")).toSeq
    df.select(id :+ tokensExpr(textCol).as("t"): _*)
      .filter(size(col("t")) >= 2)
      .select(keep :+ explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"): _*)
      .select(keep ++ Seq(col("bg.w1").as("w1"), col("bg.w2").as("w2")): _*)
  }

  /** The add-k bigram model of a [[bigramRows]] stream, every column
    * suffixed by `tag`: pair counts `c12` (localCheckpointed: vocab²-bounded,
    * and every caller reads them more than once), left totals `c1` and the
    * continuation vocabulary `v` (one row). */
  private def addKModel(pairs: DataFrame, tag: String = "") = {
    val counts = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as(s"c12$tag")).localCheckpoint()
    val totals = counts.groupBy(col("w1")).agg(sum(col(s"c12$tag")).as(s"c1$tag"))
    val vocab = counts.agg(countDistinct(col("w2")).as(s"v$tag"))
    (counts, totals, vocab)
  }

  /** ln P(w2 | w1) = ln((c12 + k) / (c1 + k·v)) over the `tag` model's
    * columns; a pair or left word the model never saw counts as 0. */
  private def addKLogProb(k: Double, tag: String = ""): Column =
    log((coalesce(col(s"c12$tag"), lit(0L)) + lit(k)) /
      (coalesce(col(s"c1$tag"), lit(0L)) + lit(k) * col(s"v$tag")))

  /** Inverted index: token → document frequency + a capped, sorted posting
    * list (as a CSV string, so the relation stays flat and engine-portable).
    *
    * Scale shape: the token stream is a projection + explode (no shuffle);
    * ONE hash exchange on `token` feeds both the per-token window rank and
    * the group-by (same key — Spark reuses the exchange). The posting list
    * is capped BEFORE collection via the rank (`collect_list` only sees
    * rows with rn ≤ capPostings), so a stopword appearing in 10^9 documents
    * costs `capPostings` entries of executor memory, not 10^9 — df_count
    * still counts every document. Real index builders shard or cap posting
    * lists for exactly this reason.
    *
    * `minDf` prunes the hapax tail (the vast majority of tokens at corpus
    * scale) after aggregation — counts are complete, output is bounded. */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
                    minDf: Long = 1L, capPostings: Int = 20): DataFrame = {
    require(capPostings >= 1, "capPostings must be >= 1")
    val tok = df.select(col(idCol).as("doc_id"),
        explode(array_distinct(tokensExpr(textCol))).as("token"))
    val w = Window.partitionBy(col("token")).orderBy(col("doc_id"))
    tok.withColumn("rn", row_number().over(w))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df_count"),
        sort_array(collect_list(when(col("rn") <= capPostings, col("doc_id"))))
          .as("__postings"))
      .filter(col("df_count") >= minDf)
      .select(col("token"), col("df_count"),
        array_join(transform(col("__postings"), _.cast("string")), ",")
          .as("postings_csv"))
  }

  /** Bigram conditional probabilities with add-k smoothing — the counts
    * behind an n-gram LM quality filter (CCNet-style perplexity scoring
    * ranks documents by how surprising their token transitions are; this
    * is the model-estimation pass).
    *
    * P(w2 | w1) = (c(w1,w2) + k) / (c(w1,·) + k·V), where c(w1,·) is the
    * bigram-left total (a window sum over the bigram counts — NO second
    * corpus pass) and V the distinct-continuation vocabulary size (one
    * scalar, broadcast via cross join).
    *
    * Scale shape: bigrams are a per-row `zip_with` projection (no shuffle),
    * counted with ONE map-side-combined hash exchange on (w1, w2); the w1
    * totals are a window over the already-tiny counts relation; the top-N
    * is a TakeOrdered (no global sort). The counts relation has two
    * consumers (the probability chain and the vocabulary scalar) and the
    * vocab branch would otherwise replan all the way down to a SECOND
    * corpus scan, so counts — |bigram types| rows, bounded by vocab², not
    * by the corpus — is localCheckpointed once, the same multi-consumer
    * rule the composed passes follow. */
  def bigramConditional(df: DataFrame, textCol: String, topN: Int,
                        k: Double = 0.5): DataFrame = {
    require(topN >= 1, "topN must be >= 1")
    val (counts, _, vocab) = addKModel(bigramRows(df, textCol, None))
    val leftW = Window.partitionBy(col("w1"))
    counts.withColumn("c1", sum(col("c12")).over(leftW))
      .crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"), col("c12"),
        floor6((col("c12") + lit(k)) / (col("c1") + lit(k) * col("v"))).as("p_cond"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  /** Per-document mean bigram log-probability under the corpus's own add-k
    * bigram model — the CCNet-style LM quality score (low = surprising
    * transitions = boilerplate, mojibake, or word salad; pipelines keep a
    * quantile band of it). [[bigramConditional]] is the model-estimation
    * view; this is the scoring pass.
    *
    * Scale shape: the doc-bigram stream is a projection (no shuffle until
    * the model join); the model relation is vocab²-bounded and consumed
    * three ways (pair counts, left totals, vocabulary scalar), so it is
    * localCheckpointed once; join strategy is left to AQE (broadcast when
    * the model fits, shuffle when a 100 TB vocab does not). Unseen bigrams
    * back off to k/(c1 + k·V), unseen left-words to 1/V.
    *
    * Determinism: each ln(p) is rounded through DECIMAL(27,7) before the
    * per-doc sum, so the distributed mean is reduction-order independent. */
  def bigramLogProbScore(df: DataFrame, idCol: String, textCol: String,
                         k: Double = 0.5): DataFrame = {
    val pairs = bigramRows(df, textCol, Some(idCol))
    val (counts, totals, vocab) = addKModel(pairs)
    pairs
      .join(counts, Seq("w1", "w2"), "left")
      .join(totals, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("lp", addKLogProb(k))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("lp").cast("decimal(27,7)")).as("__s"))
      .select(col("doc_id"), col("n_bigrams"),
        floor6(col("__s").cast("double") / col("n_bigrams")).as("avg_logprob"))
  }

  /** DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling", arXiv:2302.03169 —
    * public paper): keep the corpus documents whose token distribution
    * looks most like a TARGET domain. Each doc's importance is its mean
    * bigram log-prob under the target-domain add-k model MINUS under the
    * general-corpus model (positive = more target-like than typical); the
    * top `fraction` of SCORED docs by (importance desc, id asc — a
    * deterministic total order) survive. Docs with < 2 tokens produce no
    * bigrams and are unscoreable — they are excluded from both the ranking
    * and the denominator, exactly as the per-doc LM score family already
    * treats them.
    *
    * Scale shape (FUSED since r17 — the t144 decomposition, docs/PLANS.md
    * "Round-17: storm disposition probe", measured the two-call form
    * building the corpus bigram stream three times and aggregating
    * per-doc twice): the corpus pair stream is STAGED once,
    * both vocab²-bounded models (target + corpus) estimate from their own
    * relation, and ONE scoring pass joins both models onto the shared
    * stream and reduces both decimal sums in a single per-doc aggregate —
    * halving the corpus explode/agg cost while producing bit-identical
    * numbers (the lp expressions, decimal quantization, and floor
    * rounding are verbatim the two-call form's; the t144 oracle replays
    * them unchanged). The keep step is the terasort form — range sort on
    * the score + the row-index machinery (per-partition counts cross the
    * driver as scalars), never a single-partition window or a driver-side
    * collect of rows. */
  def dsirResample(corpus: DataFrame, target: DataFrame, idCol: String,
                   textCol: String, fraction: Double,
                   k: Double = 0.5): DataFrame = {
    require(fraction > 0 && fraction <= 1, s"fraction $fraction must be in (0, 1]")
    // reserved internal name, same loud-precondition contract as
    // globalNtile's __ntile_idx: today the fixed-schema scored projection
    // shields the index column from caller columns, but the public
    // contract must not lean on that internal detail
    require(!corpus.columns.contains("__dsir_idx"),
      "dsirResample: input already has a column named __dsir_idx (reserved internal name)")
    // the corpus stream feeds the corpus model AND the scoring pass: left
    // LAZY deliberately — the explode is a codegen'd projection, and
    // recomputing it for the model pass is measurably cheaper than
    // materializing ~n·len pair rows through a persist (the r17 probe
    // tried the staged form first: the checkpoint write ate the win)
    val pairs = bigramRows(corpus, textCol, Some(idCol))
    val (countsT, totalsT, vocabT) = addKModel(bigramRows(target, textCol, Some(idCol)), "t")
    // a model with ZERO bigrams (every target doc under 2 tokens) cannot be
    // estimated: the smoothing denominator c1 + k·v collapses to 0 and
    // non-ANSI division would publish silently-null scores while a strict
    // engine errors — fail loudly at the call site instead (counts is
    // already eagerly localCheckpointed, so this is one cheap limit-1 job
    // over materialized blocks, not a recompute)
    require(!countsT.isEmpty,
      "dsirResample: target yields no bigrams (every doc has < 2 tokens) — an add-k bigram model cannot be estimated from an empty stream")
    val (countsC, totalsC, vocabC) = addKModel(pairs, "c")
    val scored = pairs
      .join(countsT, Seq("w1", "w2"), "left").join(totalsT, Seq("w1"), "left")
      .join(countsC, Seq("w1", "w2"), "left").join(totalsC, Seq("w1"), "left")
      .crossJoin(broadcast(vocabT)).crossJoin(broadcast(vocabC))
      .withColumn("lpt", addKLogProb(k, "t"))
      .withColumn("lpc", addKLogProb(k, "c"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("lpt").cast("decimal(27,7)")).as("__st"),
        sum(col("lpc").cast("decimal(27,7)")).as("__sc"))
      .select(col("doc_id"),
        floor6(col("__st").cast("double") / col("n_bigrams")).as("lp_target"),
        floor6(col("__sc").cast("double") / col("n_bigrams")).as("lp_corpus"))
      // both means are 6-dp floor-rounded, so the difference is a double
      // subtraction of identical values in any engine; re-floor for a
      // stable 6-dp output column
      .select(col("doc_id"), col("lp_target"), col("lp_corpus"),
        floor6(col("lp_target") - col("lp_corpus")).as("importance"))
    val ordered = scored.orderBy(col("importance").desc, col("doc_id").asc)
    val (indexed, total) = Relational.withRowIndexCounted(ordered, "__dsir_idx")
    val keepN = math.floor(total * fraction).toLong
    indexed.filter(col("__dsir_idx") < keepN).drop("__dsir_idx")
  }

  /** Okapi BM25 ranking of the corpus for a FIXED query term set — the
    * standard retrieval scorer (Robertson & Zaragoza 2009), over the same
    * engine-portable tokenization as [[invertedIndex]]. Lucene's
    * always-positive idf form: ln(1 + (N − df + 0.5)/(df + 0.5)).
    *
    * Scale shape: tf comes from the codegen'd `token_counts` map — a pure
    * projection, no explode and no corpus-keyed shuffle; the corpus
    * statistics (N, Σdl, per-term df) reduce to ONE broadcast row; scoring
    * is a projection over the scan and the top-N is TakeOrdered. The
    * query-term list is static, so per-term scores are separate columns
    * summed in QUERY ORDER — with every float input integral (tf, dl, df,
    * N; Σdl of integral doubles is exact at any reduction order) the chain
    * is bit-reproducible and the SQL oracle replays it term by term.
    * Zero-scoring docs (no query term) are excluded, retrieval semantics.
    * Output: (doc_id, score 6-dp), topN by unrounded score, id tiebreak. */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               query: Seq[String], k1: Double = 1.2, b: Double = 0.75,
               topN: Int = 20): DataFrame = {
    require(query.nonEmpty, "bm25TopK: query terms required")
    require(topN >= 1, s"topN=$topN must be >= 1")
    val spark = df.sparkSession
    val toks = tokensExpr(textCol)
    val counts = graft.functions.TokenCountsExpression.tokenCounts(spark, toks)
    val base = df.select(col(idCol).as("doc_id"), counts.as("__tc"),
      size(toks).cast("double").as("__dl"))
    val withTf = query.zipWithIndex.foldLeft(base) { case (d, (t, i)) =>
      d.withColumn(s"__tf$i",
        coalesce(element_at(col("__tc"), lit(t)), lit(0L)).cast("double"))
    }
    val aggs = Seq(count(lit(1)).cast("double").as("__n"),
      sum(col("__dl")).as("__sumdl")) ++
      query.indices.map(i =>
        sum(when(col(s"__tf$i") > 0, 1L).otherwise(0L)).cast("double").as(s"__df$i"))
    val stats = withTf.agg(aggs.head, aggs.tail: _*)
    val avgdl = col("__sumdl") / col("__n")
    val bTerm = lit(1.0 - b) + lit(b) * col("__dl") / avgdl
    val score = query.indices.map { i =>
      val tf = col(s"__tf$i"); val dfT = col(s"__df$i")
      val idf = log(lit(1.0) + (col("__n") - dfT + lit(0.5)) / (dfT + lit(0.5)))
      idf * tf * lit(k1 + 1.0) / (tf + lit(k1) * bTerm)
    }.reduce(_ + _)
    withTf.crossJoin(broadcast(stats))
      .withColumn("__score", score)
      .filter(col("__score") > 0)
      .orderBy(col("__score").desc, col("doc_id"))
      .limit(topN)
      .select(col("doc_id"),
        floor6(col("__score")).as("score"))
  }

  /** Top-k bigram COLLOCATIONS by a PMI-monotone ratio (round 16): how
    * much more often two adjacent tokens co-occur than independence
    * predicts — the classic corpus-analysis signal for multi-word
    * expressions ("new york"), used in tokenizer seeding and phrase
    * mining. The score is the pointwise-mutual-information RATIO
    * n_ab·T² / (B·n_a·n_b) (PMI = log₂ of it; log-free per the t75/t89
    * discipline, so the oracle replays it exactly): numerator and
    * denominator are exact integer products evaluated in DOUBLE in a
    * fixed operand order, and the published score is floor-rounded to
    * 6 dp — pure IEEE arithmetic any engine reproduces bit-for-bit.
    *
    * Scale shape: the bigram stream is a projection + explode (zero
    * exchange); ONE map-side-combined hash aggregate each for bigram and
    * unigram counts (vocab-sized shuffles); unigram counts and the two
    * scalar totals broadcast back; top-k via TakeOrdered. `minCount`
    * prunes the hapax pair tail before the join. */
  def pmiCollocations(df: DataFrame, textCol: String, topK: Int = 50,
                      minCount: Long = 5L): DataFrame = {
    require(topK >= 1 && minCount >= 1, "topK/minCount must be >= 1")
    // widen first: the corpus arrives as few scan partitions and the
    // per-row token/bigram work would serialize on them
    val toks = graft.core.Par.widen(df).select(tokensExpr(textCol).as("t"))
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    val biAll = toks.filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t) - 1), i -> " +
          "struct(element_at(t, i) AS a, element_at(t, i + 1) AS b))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n_ab"))
    val bi = biAll.filter(col("n_ab") >= minCount)
    // B = ALL bigram occurrences: minCount prunes which pairs are
    // PUBLISHED, it must not bias the probability denominator (ranking is
    // invariant — B is a constant factor — but the value is the honest PMI)
    val totals = broadcast(uni.agg(sum(col("n")).as("__t"))
      .crossJoin(biAll.agg(sum(col("n_ab")).as("__b"))))
    val ratio = (col("n_ab").cast("double") * col("__t") * col("__t")) /
      (col("__b").cast("double") * col("n_a") * col("n_b"))
    // NO forced broadcast on the unigram table (r16 second review): a
    // web-scale vocabulary is hundreds of millions of rows — past the
    // broadcast limit; AQE broadcasts it from runtime stats when it IS
    // small (every local plan unchanged), and degrades to a shuffle join
    // gracefully when it is not (the nearDupPairs rule)
    bi.join(uni.select(col("w").as("a"), col("n").as("n_a")), Seq("a"))
      .join(uni.select(col("w").as("b"), col("n").as("n_b")), Seq("b"))
      .crossJoin(totals)
      .withColumn("__r", ratio)
      .orderBy(col("__r").desc, col("a"), col("b"))
      .limit(topK)
      .select(col("a"), col("b"), col("n_ab"),
        floor6(col("__r")).as("pmi_ratio"))
  }

  /** Sparse "more-like-this": document pairs by TF-IDF COSINE over the
    * inverted-index join (round 16) — the sparse-vector complement of the
    * dense ANN family: near-dup finds verbatim copies, embedding ANN finds
    * semantic neighbors, this finds VOCABULARY neighbors with exact,
    * explainable weights and no model.
    *
    * Weights use the log-free rational idf of the t75 family,
    * tf·(N−df+0.5)/(df+0.5), QUANTIZED to integer milli-units
    * (floor(w·1e3+0.5) as BIGINT), so the dot products and norms are sums
    * of exact integer products carried in DECIMAL(38,0):
    * order-independent, engine-exact. The published cosine
    * divides through IEEE doubles (sqrt is correctly rounded by the
    * standard in every engine) and floor-rounds to 6 dp.
    *
    * Scale shape: d22's inverted-index discipline — the pair generator is
    * a postings SELF-JOIN on the term's 64-bit xxhash key (with exact
    * collision disambiguation, the pairCore contract — no term string
    * crosses the exchange) with `maxDf` capping the posting
    * lists that may pair (a stopword shared by 10^9 documents generates
    * no pairs; it carries ~no cosine information and would be the one
    * quadratic blowup), so candidates are Σ_t df_t² over rare terms only;
    * norms include EVERY term (they are per-doc aggregates, no join). One
    * hash exchange builds tf, one narrow one feeds both self-join sides,
    * one the pair aggregate. */
  def sparseCosinePairs(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double, maxDf: Long = 1000L,
                        ngram: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold=$threshold must be in (0,1]")
    require(ngram >= 1, s"ngram=$ngram must be >= 1")
    // terms are word n-GRAMS (default 3), not unigrams: on a
    // small-vocabulary corpus every unigram is shared and cosine
    // degenerates toward all-pairs; n-gram terms are rarer, so the
    // df-capped postings join stays sparse (the d22 shingle discipline)
    // while the weights stay tf-idf cosine
    // n-gram construction through the codegen'd WordShingles kernel over
    // the space-rejoined normalized token stream — the composable
    // transform/slice/concat_ws form runs through CodegenFallback
    // higher-order lambdas and measured 4-6 s alone at sf0.1 (the d22
    // lesson, re-learned); the kernel is one whole-stage-codegen call.
    // Documents shorter than ngram tokens yield an empty shingle array
    // (they can never pair) and explode drops them.
    val spark = df.sparkSession
    val wide = graft.core.Par.widen(df) // CPU-heavy per-row shingling
    val base =
      if (ngram == 1) wide.select(col(idCol).as("id"), tokensExpr(textCol).as("__terms"))
      else wide.select(col(idCol).as("id"),
        graft.functions.ShingleExpression.wordShingles(spark,
          array_join(tokensExpr(textCol), " "), ngram).as("__terms"))
    val toks = base.select(col("id"), explode(col("__terms")).as("w"))
      .filter(col("w") =!= "")
    val tf = toks.groupBy(col("id"), col("w")).agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val n = broadcast(df.agg(count(lit(1)).as("__n")))
    // staged ONCE (localCheckpoint): three consumers below — both sides of
    // the pair join and the norms — would otherwise each re-run the whole
    // explode→tf→df lineage (measured 3× the query cost at sf0.1)
    val wq = Checkpointing.stage(tf.join(dfq, Seq("w")).crossJoin(n)
      .withColumn("wq", floor(col("tf") * (col("__n") - col("df") + lit(0.5)) /
        (col("df") + lit(0.5)) * lit(1e3) + lit(0.5)).cast("long"))
      .select(col("id"), col("w"), col("wq"), col("df")))
    // operands cast to DECIMAL(19,0) BEFORE the multiply (the same
    // discipline as the dots below — r16 second review): a Long-typed
    // wq*wq overflows int64 once wq passes ~3e9, reachable at
    // million-doc corpora where a doc-unique term's idf ratio ~ 2N
    val norms = wq.groupBy(col("id"))
      .agg(sum((col("wq").cast("decimal(19,0)") * col("wq").cast("decimal(19,0)"))
        .cast("decimal(38,0)")).as("norm2"))
    // 64-BIT POSTINGS KEY with exact collision handling (round 19, r18
    // verdict #5 — the pairCore discipline): the postings self-join was
    // the widest exchange on the whole bench surface (36.7 MB at sf0.1)
    // and shipped the full n-gram term STRING per posting row. Terms are
    // keyed by xxhash64; the hashes carrying >1 distinct term (expected
    // none — a real in-vocabulary 64-bit collision) come from one
    // vocabulary-sized aggregate over the ALREADY-STAGED wq blocks (no
    // extra corpus pass), and colliding postings keep their term string
    // in a disambiguator column — join equality on (h, dis) is provably
    // the old string equality, so every dot product is unchanged.
    val hw = xxhash64(col("w"))
    val coll = wq.groupBy(hw.as("__h"))
      .agg(min(col("w")).as("__mn"), max(col("w")).as("__mx"))
      .filter(col("__mn") =!= col("__mx"))
      .select(col("__h"), lit(true).as("__coll"))
    // df served its purpose at the filter — dropping it (and the term
    // string) BEFORE the rename keeps the self-join exchange narrow:
    // (id, h, dis, wq), no strings
    val posts = wq.filter(col("df") <= maxDf)
      .withColumn("__h", hw)
      .join(broadcast(coll), Seq("__h"), "left")
      .select(col("id"), col("__h"),
        when(col("__coll"), col("w")).otherwise(lit("")).as("__dis"), col("wq"))
      // the simHashPairs exchange-reuse trick: repartition on the join key
      // BELOW the per-side renames, so both sides share ONE exchange
      .repartition(col("__h"), col("__dis"))
    // same-lineage self-join: per-side toDF renames (fresh attribute ids)
    // keep the key predicate real
    val a = posts.toDF("id_a", "__h", "__dis", "wq_a")
    val b = posts.toDF("id_b", "__h", "__dis", "wq_b")
    val dots = a.hint("shuffle_hash").join(b, Seq("__h", "__dis"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum((col("wq_a").cast("decimal(19,0)") * col("wq_b").cast("decimal(19,0)")).cast("decimal(38,0)")).as("dot"))
    val cos = col("dot").cast("double") /
      (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))
    dots
      .join(norms.select(col("id").as("id_a"), col("norm2").as("na")), Seq("id_a"))
      .join(norms.select(col("id").as("id_b"), col("norm2").as("nb")), Seq("id_b"))
      .withColumn("__cos", cos)
      .filter(col("__cos") >= threshold)
      .select(col("id_a"), col("id_b"),
        floor6(col("__cos")).as("cosine"))
  }

  /** ZIPF FIT — the corpus-health diagnostic on the token frequency
    * curve: natural language follows tf ∝ rank^s with s ≈ −1; a slope far
    * from −1 flags template/boilerplate floods (flatter head) or
    * synthetic/gibberish tails. The fit is ordinary least squares of
    * ln(tf) on ln(rank) over the top-`topN` tokens.
    *
    * Engine-exact replay: ranks and counts are integers, each ln runs on
    * identical doubles, every regression term (x, y, x·y, x²) is rounded
    * through DECIMAL(27,7) BEFORE its sum (the t110 contract — no float
    * reduction order), and slope/intercept derive from the decimal sums
    * through [[floor6]].
    *
    * Scale shape: one token-count exchange (map-side combined), a
    * TakeOrdered top-N (no global sort), ranks via the terasort row-index
    * machinery over the N-row relation (NO partitionless window — the
    * StrictPlanGuard stays clean with zero allowlist growth), one scalar
    * aggregate. Output: ONE row (n_tokens, slope, intercept). */
  def zipfFit(df: DataFrame, textCol: String, topN: Int = 1000): DataFrame = {
    require(topN >= 2, s"zipfFit: topN=$topN must be >= 2")
    val toks = df.select(explode(tokensExpr(textCol)).as("w"))
    // the N-row top relation has TWO consumers (the row-index machinery's
    // count pass and the term projection) and a corpus-scale lineage —
    // staged once per the t169 rule (r17 second review)
    val top = graft.ops.Checkpointing.stage(
      toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w").asc).limit(topN))
    val (indexed, n) = Relational.withRowIndexCounted(top, "__zr")
    require(n >= 2, s"zipfFit: only $n distinct tokens — nothing to fit")
    val x = log((col("__zr") + lit(1L)).cast("double"))
    val y = log(col("c").cast("double"))
    val dec = (c: Column) => c.cast("decimal(27,7)")
    val sums = indexed.select(dec(x).as("x"), dec(y).as("y"),
        dec(x * y).as("xy"), dec(x * x).as("xx"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("xy")).as("sxy"), sum(col("xx")).as("sxx"))
    val nD = col("n").cast("double")
    val (sx, sy, sxy, sxx) = (col("sx").cast("double"), col("sy").cast("double"),
      col("sxy").cast("double"), col("sxx").cast("double"))
    val slope = floor6((nD * sxy - sx * sy) / (nD * sxx - sx * sx))
    sums.select(col("n").as("n_tokens"), slope.as("slope"),
      floor6((sy - slope * sx) / nD).as("intercept"))
  }

  /** LABEL-NOISE AUDIT via a corpus-trained multinomial Naive Bayes
    * classifier: train add-k token models per label ON the corpus's own
    * labels, re-classify every document, and flag the disagreements — the
    * standard first pass for catching mislabeled language tags (or any
    * categorical doc label) before they poison stratified sampling,
    * per-language mixing, and tokenizer training.
    *
    * Model: P(label) smoothed over docs; P(token | label) add-k over the
    * label's token occurrences with the GLOBAL distinct-token vocabulary V.
    * score(doc, label) = ln P(label) + Σ_tok ln P(tok | label); prediction
    * is the max score with ties to the lexicographically first label.
    *
    * Scale shape: the model is |vocab|×|labels|-bounded regardless of
    * corpus size (one map-side-combined hash agg), localCheckpointed once
    * (it feeds the totals, the vocabulary scalar, AND the scoring join —
    * the multi-consumer rule). Scoring joins each token OCCURRENCE only to
    * the labels that actually contain the token (inner join on token), so
    * the exchange carries ≤ |labels|× the token stream and typically far
    * less; the unseen-(token,label) mass — the part that would naively need
    * a per-occurrence × per-label explosion — collapses algebraically to
    * (n_tok − n_matched) · ln(k / (c_label + k·V)), one label-bounded
    * scalar multiply per (doc, label). Join strategy is AQE's: the model
    * broadcasts when it fits, shuffles when a 100 TB vocabulary does not.
    *
    * Determinism (the t110 contract): every ln is computed on identical
    * doubles in any engine (integer counts in, one division) and rounded
    * through DECIMAL(27,7) BEFORE the sums, the unseen-mass multiply is
    * DECIMAL×integer (exact), so scores compare exactly and the argmax is
    * engine-portable. Zero-token documents score on the prior alone. */
  def naiveBayesLabelAudit(df: DataFrame, idCol: String, textCol: String,
                           labelCol: String, k: Double = 0.5): DataFrame = {
    val docs = df.select(col(idCol).as("doc_id"), col(labelCol).as("label"),
      tokensExpr(textCol).as("t"))
    // ONE tokenization pass pre-aggregated to per-(doc, token) term
    // frequencies BEFORE anything joins (r18 optimization — previously the
    // raw occurrence stream was built twice, once for the model counts and
    // once for the matched-mass join, and the join+groupBy below carried
    // occurrences × labels across two exchanges). The occurrence stream
    // now never crosses an exchange: the tf groupBy map-side-combines it,
    // and every identity downstream is exact — Σ_occurrences lp over a
    // token equals tf · lp in decimal, and Σ_occurrences 1 equals Σ tf.
    // Checkpointing.stage, not a raw localCheckpoint (r18 verdict #6): tfd
    // is a CORPUS-SCALE intermediate — per-(doc, token) rows — and stage()
    // carries the reliable-checkpoint tier flag, so a cluster with
    // executor churn can pin it to durable storage like every other
    // staged corpus intermediate (the composed-pass discipline). The
    // model-sized `counts` (|vocab|×|labels|-bounded) rides the same tier
    // for consistency.
    val tfd = Checkpointing.stage(
      docs.select(col("doc_id"), col("label"), explode(col("t")).as("token"))
        .groupBy(col("doc_id"), col("label"), col("token"))
        .agg(count(lit(1)).as("tf")))
    val counts = Checkpointing.stage(
      tfd.groupBy(col("label"), col("token"))
        .agg(sum(col("tf")).as("c_lt")))
    val totals = counts.groupBy(col("label")).agg(sum(col("c_lt")).as("c_l"))
    val vocab = counts.agg(countDistinct(col("token")).as("v"))
    val priors = docs.groupBy(col("label")).agg(count(lit(1)).as("n_docs"))
    val nTotal = docs.agg(count(lit(1)).as("n_total"),
      countDistinct(col("label")).as("n_labels"))
    // per-label scalars: smoothed log prior + the unseen-token log floor —
    // |labels| rows, broadcast into the per-doc fill join
    val dec = (c: Column) => c.cast("decimal(27,7)")
    val labelStats = priors.join(totals, "label").crossJoin(broadcast(vocab))
      .crossJoin(broadcast(nTotal))
      .select(col("label").as("cand"),
        dec(log((col("n_docs") + lit(k)) / (col("n_total") + lit(k) * col("n_labels"))))
          .as("prior_lp"),
        dec(log(lit(k) / (col("c_l") + lit(k) * col("v")))).as("miss_lp"))
    // matched mass: tf-weighted per-(token, label) log-probs over only the
    // labels containing the token — tf · lp is decimal-exact (tf cast to
    // decimal(10,0) keeps the product inside decimal(38,7)), so m_sum is
    // bit-identical to the occurrence-stream sum it replaces
    val matched = tfd.select(col("doc_id"), col("token"), col("tf"))
      .join(counts.withColumnRenamed("label", "cand"), Seq("token"))
      .join(totals.withColumnRenamed("label", "cand"), Seq("cand"))
      .crossJoin(broadcast(vocab))
      .withColumn("lp", dec(log((col("c_lt") + lit(k)) / (col("c_l") + lit(k) * col("v")))))
      .groupBy(col("doc_id"), col("cand"))
      .agg(sum(col("tf").cast("decimal(10,0)") * col("lp")).as("m_sum"),
        sum(col("tf")).as("m_cnt"))
    val perDoc = docs.select(col("doc_id"), col("label"), size(col("t")).as("n_tok"))
    val scored = perDoc.crossJoin(broadcast(labelStats))
      .join(matched, Seq("doc_id", "cand"), "left")
      .withColumn("score",
        col("prior_lp").cast("decimal(30,7)") +
          coalesce(col("m_sum"), lit(0)).cast("decimal(30,7)") +
          ((col("n_tok") - coalesce(col("m_cnt"), lit(0L))).cast("decimal(10,0)") *
            col("miss_lp")).cast("decimal(30,7)"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("cand").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("label"), col("cand").as("pred_label"),
        floor6(col("score").cast("double")).as("score"),
        (col("label") === col("cand")).as("agree"))
  }
}
