package graft.ops

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Portable.floor6

/** Deduplication operators for corpus-scale pipelines (beyond the reference
  * surface; agnes only has exact distinct-rows via `unique_values`,
  * src/view.rs:1083-1091).
  *
  * Scale design notes (these run on the full corpus, so shuffle count is the
  * budget that matters):
  *  - exact: one hash-aggregate shuffle on the content key.
  *  - ngram-Jaccard: the shingle inverted index is keyed by xxhash64 (with
  *    EXACT collision disambiguation — see pairCore) and streamed through a
  *    codegen'd self equi-join on the 64-bit key, whose one NARROW exchange
  *    (no strings) feeds both sides via an explicit repartition below the
  *    renames; intersection sizes come from a partial-combining
  *    pair hash-aggregate — no per-shingle doc list ever materializes, the
  *    same bounded shape as simHashPairs/minHashLsh. `maxShingleDf` drops
  *    ultra-common shingles, the standard skew guard (a shingle appearing
  *    in k docs contributes k² candidate pairs however they are counted).
  *  - MinHash-LSH: signature via one explode + hash-aggregate (flat,
  *    codegen-friendly), then bucket by (band, bandSignature) — again one
  *    shuffle plus in-row pair expansion, never a quadratic self-join.
  *    Verification joins the (tiny) candidate set back to the corpus via
  *    broadcast, and shingles the matched docs only, post-join.
  *  - SimHash: per-bit majority vote in one flat hash-aggregate; pairs via
  *    a codegen'd (band, signature) equi-join with first-collision-band
  *    unique emission — see [[simHashPairs]].
  *  - Repeated spans: strided char-span hashes, a (span, doc) hash-aggregate
  *    + a thin per-span distinct-doc aggregate + one doc-keyed shuffle — all
  *    partial-combining, every row O(1) bytes however hot the span — the
  *    Lee-et-al exact-substring dedup statistic, see [[repeatedSpans]].
  *  - Bloom incremental: a new batch dedups against a huge history through
  *    an O(bits)-byte filter built once (reusable across batches) and a
  *    single-scan anti-join confirm — see the bloom section below.
  *
  * At 100 TB the candidate/duplicate side is orders of magnitude smaller
  * than the corpus; every join here keeps the corpus on the streamed side
  * and the candidates on the broadcast side, so nothing corpus-sized ever
  * crosses the network twice.
  */
object Dedup {

  /** Exact dedup: one canonical row (minimum id) per distinct value of
    * `onCols`, plus the duplicate count. */
  def exact(df: DataFrame, idCol: String, onCols: Seq[String]): DataFrame =
    df.groupBy(onCols.map(col): _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))

  /** (id, shingle) inverted index over distinct word-n-gram shingles. */
  def shingleIndex(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"),
      explode(array_distinct(TextFunctions.shingles(col(textCol), n))).as("shingle"))

  /** Per-document n-gram NOVELTY score: the fraction of a document's
    * distinct n-gram shingles that appear in NO other document — the
    * corpus-level diversity/boilerplate signal (a doc of df-1 shingles is
    * genuinely novel text; a doc dominated by high-df shingles is
    * template/boilerplate even if no single near-duplicate exists). The
    * frequency-based complement of [[Dedup.jaccardPairs]]: pair ops find
    * WHO duplicates whom, novelty quantifies HOW MUCH of each doc is
    * corpus-unique — the retention score quality pruning mixes in.
    *
    * One (shingle) exchange for the global document frequency (the same
    * distribution d22's df cap rides) + one (id) aggregate — nothing else
    * touches the corpus. Ratio through [[floor6]]. Returns
    * (id, n_shingles, n_unique, novelty); docs too short for one shingle
    * are absent (no shingles → no novelty claim). */
  def noveltyScore(df0: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val w = Window.partitionBy(col("shingle"))
    shingleIndex(graft.core.Par.widen(df0), idCol, textCol, n)
      .withColumn("__df", count(lit(1)).over(w))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty", floor6(col("n_unique").cast("double") / col("n_shingles")))
  }

  /** Exact n-gram Jaccard similarity pairs with sim >= `threshold`, via an
    * inverted shingle index (see object doc). `bandCols` restricts candidates
    * to equal values of those columns (e.g. language) — both a semantic guard
    * and a fan-out reducer. `maxShingleDf`: drop shingles appearing in more
    * than this many docs (0 = keep all, exact result).
    *
    * Pair counting streams the shingle index through a codegen'd
    * (shingle, bands) self equi-join and hash-aggregates the resulting
    * (id_a, id_b) co-occurrence stream — the same bounded-memory shape as
    * [[minHashLsh]]/[[simHashPairs]]: a boilerplate shingle shared by k
    * docs is STREAMED as k² join rows (partial-combined map-side), never
    * materialized as one k-element aggregate row, and the k² inner loop
    * runs in whole-stage codegen.
    */
  def jaccardPairs(df0: DataFrame, idCol: String, textCol: String, n: Int,
                   threshold: Double, bandCols: Seq[String] = Nil,
                   maxShingleDf: Long = 0L): DataFrame =
    pairCore(df0, idCol, textCol, n, bandCols, maxShingleDf)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))

  /** Max-containment near-dup pairs: |A∩B| / min(|A|, |B|) ≥ `threshold` —
    * the ASYMMETRIC twin of [[jaccardPairs]] for sub-document duplication.
    * A short quote fully contained in a long article has tiny Jaccard
    * (the union is article-sized) but containment 1.0; dedup pipelines
    * (BigQuery/Lee-et-al style) flag on containment exactly because near-
    * total inclusion is what copy-paste looks like at different lengths.
    * Same candidate shapes, exchanges, and skew guards as jaccardPairs. */
  def containmentPairs(df0: DataFrame, idCol: String, textCol: String, n: Int,
                       threshold: Double, bandCols: Seq[String] = Nil,
                       maxShingleDf: Long = 0L): DataFrame =
    pairCore(df0, idCol, textCol, n, bandCols, maxShingleDf)
      .withColumn("containment",
        col("inter").cast("double") / least(col("sz_a"), col("sz_b")))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("containment"), 4).as("containment"))

  /** Similarity histogram over the candidate-pair set: pair counts per
    * Jaccard decile for pairs with j ≥ `minJ` — the threshold-calibration
    * report a pipeline runs BEFORE committing to a dedup threshold (a
    * bimodal histogram says where the near-dup mass ends and the
    * topical-overlap mass begins; thresholding blind skips that
    * evidence). One pass over the same capped candidate machinery as
    * [[jaccardPairs]]; the output is ≤ 10 rows. The bin index uses raw
    * IEEE ratios (`min(floor(10·j), 9)`) — bit-identical in any engine,
    * no rounding anywhere — and the bin edges are reconstructed from the
    * index, so every output value is exact. */
  def jaccardHistogram(df0: DataFrame, idCol: String, textCol: String, n: Int,
                       minJ: Double, maxShingleDf: Long = 0L): DataFrame =
    pairCore(df0, idCol, textCol, n, Nil, maxShingleDf)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= minJ)
      .withColumn("bin", least(floor(col("jaccard") * 10), lit(9.0)).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"))
      .select(col("bin"), (col("bin") / lit(10.0)).as("bin_lo"),
        ((col("bin") + 1) / lit(10.0)).as("bin_hi"), col("n_pairs"))

  /** Shared candidate/intersection core of the exact pair family: emits
    * (id_a, id_b, inter, sz_a, sz_b) with denominators as exact distinct
    * set sizes regardless of the numerator's df cap.
    *
    * 64-BIT JOIN KEYS WITH EXACT COLLISION HANDLING (round 19, r18 verdict
    * #5 — guide §2.3 "shuffle keys and metadata instead of payloads"): the
    * r18 shape shuffled the full n-gram STRING per occurrence row, and the
    * physical plan built the df-cap window + its string exchange ONCE PER
    * JOIN SIDE (the planned-once/AQE-reuse claim did not hold: the analyzer
    * de-duplicates the self-join's attribute ids, the sides' window
    * subtrees stopped being reusable, and one side became a corpus-scale
    * BroadcastExchange — plans/r19/d22_jaccard_pairs_before). Now:
    *  - each shingle is keyed by `xxhash64(shingle)`, and ONE
    *    hashpartitioning(h) exchange carries the occurrence stream exactly
    *    once — two window counts over it produce the df cap (`rows per
    *    (h, shingle)`) and the exact collision predicate (`rows per h >
    *    rows per (h, shingle)` iff the hash carries >1 distinct shingle);
    *  - exactness is NOT probabilistic: occurrences of a COLLIDING hash
    *    (expected none — it takes a real 64-bit xxhash collision inside one
    *    corpus vocabulary) keep their string in a disambiguator column
    *    (empty otherwise), and the join matches on (hash, disambiguator) —
    *    provably equivalent to string equality: equal strings ⇒ equal
    *    (h, dis); distinct strings either differ in h or share a COLLIDING
    *    h and then dis carries the strings themselves;
    *  - strings are projected away BEFORE the join, whose co-partitioned
    *    sides both inherit the window's hashpartitioning(h) (subset of the
    *    (h, dis, bands) join keys) — the join adds NO exchange and AQE
    *    stage reuse runs the scan+shingle+window lineage once, not once
    *    per side. Skew: a hot shingle's bucket is one (h) partition, the
    *    same class the r18 shingle-window had; `maxShingleDf` bounds it
    *    when the cap is on. */
  private def pairCore(df0: DataFrame, idCol: String, textCol: String, n: Int,
                       bandCols: Seq[String], maxShingleDf: Long): DataFrame = {
    val df = graft.core.Par.widen(df0)
    val sh0 = df.select(
      (col(idCol).as("id") +: bandCols.map(col)) :+
        explode(array_distinct(TextFunctions.shingles(col(textCol), n))).as("shingle"): _*)
    // Per-doc set sizes: one thin (id, count) aggregate over the index; must
    // be computed BEFORE any df-based filter (Jaccard denominators stay exact
    // set sizes even when hot shingles are dropped from the numerator).
    val sizes = sh0.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val keyed = sh0.withColumn("__h", xxhash64(col("shingle")))
    // ONE hash-keyed exchange computes everything string-identity needs
    // (two window COUNTS over it — no strings inside any aggregate):
    //   __df = rows per (h, shingle) — the global doc frequency (each
    //          doc holds one row per distinct shingle, the identity the
    //          r18 window used), immune to collisions by construction;
    //   __nh = rows per h — equal to __df for every row iff the hash
    //          carries exactly one distinct shingle, so __nh > __df IS
    //          the exact collision predicate.
    // Both windows share the hashpartitioning(__h) exchange (subset
    // clustering) and one (h, shingle) local sort of 8-byte-keyed rows.
    val wH = Window.partitionBy(col("__h"))
    val wHS = Window.partitionBy(col("__h"), col("shingle"))
    val marked = keyed
      .withColumn("__nh", count(lit(1)).over(wH))
      .withColumn("__df", count(lit(1)).over(wHS))
    val capped =
      if (maxShingleDf > 0) marked.filter(col("__df") <= maxShingleDf)
      else marked
    // strings leave the stream HERE: the join key is (h, dis) where dis
    // carries the shingle only under a detected 64-bit collision
    // (expected never) and "" otherwise — equality on (h, dis) is
    // provably string equality, so `inter` is exact
    val slim = capped
      .select((col("id") +: col("__h") +:
        when(col("__nh") > col("__df"), col("shingle")).otherwise(lit(""))
          .as("__dis") +:
        bandCols.map(col)): _*)
    val a = slim.select((col("id").as("id_a") +: col("__h") +: col("__dis") +:
      bandCols.map(col)): _*)
    val b = slim.select((col("id").as("id_b") +: col("__h") +: col("__dis") +:
      bandCols.map(col)): _*)
    // both sides inherit hashpartitioning(__h) from the one window
    // exchange (AQE stage reuse dedupes the statically-duplicated
    // subtree), and (h) co-partitioning satisfies the (h, dis, bands)
    // join keys — the join itself adds NO exchange
    val inter = a.join(b, Seq("__h", "__dis") ++ bandCols)
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    // sizes is one row per doc and post-aggregation tiny relative to the pair
    // set — AQE converts these to broadcast joins from runtime stats.
    inter
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
  }

  /** Benchmark decontamination: corpus documents sharing at least `minShared`
    * distinct word-`n`-gram shingles with ANY document of `evalSet` — the
    * standard train/eval contamination check a pretraining pipeline runs
    * before shipping a corpus. The eval side's distinct shingle set is tiny
    * (KBs–MBs against a 100 TB corpus), so it is `broadcast` and the corpus
    * is scanned exactly ONCE; the only shuffle is the per-doc count of the
    * (already small) matched-shingle stream. Returns (id, n_shared). */
  def contamination(corpus: DataFrame, evalSet: DataFrame, idCol: String,
                    textCol: String, n: Int = 8, minShared: Long = 1L): DataFrame = {
    val evalShingles = evalSet.select(explode(array_distinct(
        TextFunctions.shingles(col(textCol), n))).as("shingle")).distinct()
    shingleIndex(graft.core.Par.widen(corpus), idCol, textCol, n)
      .join(broadcast(evalShingles), "shingle")
      .groupBy(col("id")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** VERBATIM-phrase benchmark contamination — the strict complement of
    * [[contamination]]'s shingle overlap: flag corpus documents that
    * contain a full eval PHRASE verbatim at a token boundary (the
    * Lee-et-al/Dolma n-gram-sequence check: published decontamination
    * pipelines match token sequences, not raw bytes). Probe phrases are
    * the non-overlapping `phraseLen`-token windows (stride = `phraseLen`)
    * of each eval document, deduplicated; a corpus doc hits when ANY of
    * its stride-1 `phraseLen`-grams equals a probe phrase — i.e. the
    * phrase appears in full, token-aligned. Where [[contamination]]
    * counts any shared shingle (the paraphrase-level overlap signal),
    * this demands a whole designated phrase verbatim — the
    * high-precision tier of a decontamination stack.
    *
    * Scale shape: a pure HASH EQUI-JOIN of the corpus n-gram stream
    * against the eval-sized distinct phrase set — one corpus scan, one
    * shuffle on the phrase key (AQE splits a hot boilerplate phrase), and
    * the per-doc count aggregate over the (tiny) hit stream. An earlier
    * broadcast-NL `contains` formulation measured 31× superlinear at 10×
    * data (phrases × corpus); the equi-join is linear in corpus + probe
    * volume and never enumerates the cross product.
    *
    * Returns (id, n_hits): DISTINCT probe phrases contained, ≥ `minHits`. */
  def phraseContamination(corpus: DataFrame, evalSet: DataFrame,
                          idCol: String, textCol: String,
                          phraseLen: Int = 6, minHits: Long = 1L): DataFrame = {
    require(phraseLen >= 1, "phraseLen must be >= 1")
    val toks = split(col(textCol), " ")
    // probe side: 1-based window starts {1, 1+len, ...} ≤ size-len+1;
    // docs shorter than one window contribute nothing
    val starts = sequence(lit(1), size(toks) - lit(phraseLen - 1), lit(phraseLen))
    val phrases = evalSet
      .filter(size(toks) >= phraseLen)
      .select(explode(transform(starts,
        i => concat_ws(" ", slice(toks, i, lit(phraseLen))))).as("__p"))
      .distinct()
    // corpus side: ALL stride-1 n-grams (token-aligned occurrence test);
    // distinct per doc — n_hits counts distinct phrases, not occurrences
    graft.core.Par.widen(corpus)
      .filter(size(toks) >= phraseLen)
      .select(col(idCol).as("id"),
        explode(array_distinct(TextFunctions.shingles(col(textCol), phraseLen))).as("__p"))
      .join(phrases, "__p")
      .groupBy(col("id")).agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= minHits)
  }

  /** MinHash signatures as `numHashes` columns `h0..h{k-1}`, one row per id:
    * explode the shingle set once and take seeded-hash minima in a single
    * flat hash-aggregate (map-side partials, one shuffle on id).
    *
    * This is the composable AGGREGATE formulation, kept as the documented
    * equivalence partner of the codegen'd [[graft.functions.MinHash64]]
    * expression [[minHashLsh]] actually runs (identical xxhash64 fold math,
    * zero exchange) — the PipelineSpec pins the two bit-for-bit equal. */
  def minHashSignatures(shingles: DataFrame, numHashes: Int): DataFrame = {
    // Hash the (variable-length) shingle string ONCE, then derive the k
    // seeded hashes by re-hashing the resulting fixed-width long — ~6x
    // cheaper than k string hashes per shingle.
    val hashed = shingles.select(col("id"), xxhash64(col("shingle")).as("h"))
    val aggs = (0 until numHashes).map(i =>
      min(xxhash64(col("h"), lit(i))).as(s"h$i"))
    hashed.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash + LSH near-duplicate candidate pairs.
    *
    * shingle(n) → `numHashes` minhashes → `bands` banded signatures →
    * (band, signature) bucket candidates, optionally verified with exact
    * Jaccard (`verifyThreshold` > 0 broadcast-joins the candidates back to
    * the corpus and shingles only the matched docs — the classic LSH +
    * verify pipeline). With b bands of r rows, P(candidate | J=s) =
    * 1-(1-s^r)^b.
    *
    * Candidate expansion is a codegen'd (band, bsig) self equi-join with
    * first-collision-band unique emission (the simHashPairs shape) — every
    * bucket is STREAMED through the join, so no per-bucket array ever
    * materializes (a bucket of k mutually-equal docs is the skew case LSH
    * invites; AQE's skew-join split applies to a join but cannot split one
    * k-element aggregate row), and the k² loop runs in whole-stage codegen.
    */
  def minHashLsh(df0: DataFrame, idCol: String, textCol: String, n: Int = 3,
                 numHashes: Int = 64, bands: Int = 16,
                 verifyThreshold: Double = 0.0): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val df = graft.core.Par.widen(df0)
    val sigB = bandSignatures(df, idCol, textCol, n, numHashes, bands)
    // codegen'd (band, bsig) equi-join with first-collision-band unique
    // emission — the simHashPairs shape: the O(k²) per-bucket loop stays
    // inside whole-stage codegen and no distinct pass exists. Rows carry
    // the full band array (8·bands bytes) so the first-collision
    // predicate can compare lower bands in-row. The repartition sits
    // BELOW the per-side renames on purpose: it is the very distribution
    // the self-join requires, so EnsureRequirements adds no further
    // exchange and ReuseExchange evaluates the signature projection once
    // for both sides (the old aggregate got that reuse for free from its
    // own exchange).
    val banded = bandRows(sigB, col("bands"), col("bands"))
      .repartition(col("band"), col("bsig"))
    val a = banded.select(col("id").as("id_a"), col("bands").as("ba"),
      col("band"), col("bsig"))
    val b = banded.select(col("id").as("id_b"), col("bands").as("bb"),
      col("band"), col("bsig"))
    val cand = a.join(b, Seq("band", "bsig"))
      .filter(col("id_a") < col("id_b") && firstCollision(bands)(bandsDiffer))
      .select(col("id_a"), col("id_b"))
    if (verifyThreshold <= 0) cand
    else verifyJaccard(df, idCol, textCol, cand, n, verifyThreshold)
  }

  /** Banded MinHash signature store: `(id, bands array<bigint>)`, one row per
    * document — the PERSISTABLE form of [[minHashLsh]]'s signature stage
    * (identical `min_hash64` fold math, so stored and freshly-computed
    * signatures are interchangeable bit for bit; a PipelineSpec round-trip
    * pins it). A pure projection, ZERO exchange: the codegen'd expression
    * computes all `numHashes` minima AND the band fold in one pass over the
    * shingle array. The expression is referenced exactly ONCE on purpose —
    * CollapseProject inlines multi-referenced non-cheap aliases,
    * re-evaluating the whole signature per reference (measured 35× on d23).
    *
    * At 100 TB this is what makes corpus GROWTH affordable: signatures are
    * `8·bands` bytes per document (a ~0.01% shadow of the corpus), written
    * once per ingested shard and reused by every later
    * [[incrementalMinHashLsh]] batch — the history text is never re-shingled.
    * Docs whose shingle set is empty (fewer than `n` tokens) carry no
    * signature, matching [[minHashLsh]]'s candidate stage. */
  def bandSignatures(df0: DataFrame, idCol: String, textCol: String,
                     n: Int = 3, numHashes: Int = 64, bands: Int = 16): DataFrame = {
    require(bands > 0 && numHashes % bands == 0, "bands must divide numHashes")
    val df = graft.core.Par.widen(df0)
    df.select(col(idCol).as("id"),
        array_distinct(TextFunctions.shingles(col(textCol), n)).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), graft.functions.MinHashExpression.minHash64(
        df.sparkSession, col("sh"), numHashes, bands).as("bands"))
  }

  /** Incremental MinHash-LSH near-dup for a GROWING corpus: all near-dup
    * pairs that TOUCH the new `batch` — batch-vs-history and batch-vs-batch —
    * without ever generating a history-vs-history pair. This is the near-dup
    * sibling of the exact [[incrementalDedup]]/bloom path: a 100 TB corpus
    * ingesting a 0.1% daily shard must not re-pair the 99.9% it already
    * resolved, and with `historySigs` read from the [[bandSignatures]] store
    * it must not even re-SCAN the history text (the only history access left
    * is the post-candidate verify fetch, and none at all when
    * `verifyThreshold <= 0`).
    *
    * Shape: the batch's banded signatures are exploded and repartitioned on
    * `(band, bsig)` — the exact distribution the probe join needs, so
    * EnsureRequirements adds no further exchange on that side — then
    * equi-joined against batch ∪ history buckets. The history side ships
    * `(id, bands, band, bsig)` rows only (`8·bands`-byte signatures, never
    * text). Uniqueness is in-plan and codegen'd, no distinct pass: a
    * batch-batch pair must satisfy `id_a < id_b` (it appears oriented both
    * ways), a batch-history pair appears oriented once and is kept as-is,
    * and the [[minHashLsh]] first-collision-band predicate dedups across
    * bands. Output pairs are normalized to `id_a < id_b` afterwards.
    *
    * Returns candidate pairs, or exact-Jaccard-verified
    * `(id_a, id_b, jaccard)` when `verifyThreshold > 0` (same verify tail as
    * [[minHashLsh]]: candidates broadcast, corpus never shuffled). Ids must
    * be unique across batch ∪ history. Equivalence contract (PipelineSpec):
    * with the same knobs this equals `minHashLsh(batch ∪ history)` filtered
    * to pairs touching the batch. */
  def incrementalMinHashLsh(batch: DataFrame, history: DataFrame,
                            idCol: String, textCol: String,
                            historySigs: Option[DataFrame] = None,
                            n: Int = 3, numHashes: Int = 64, bands: Int = 16,
                            verifyThreshold: Double = 0.0): DataFrame = {
    val newSig = bandSignatures(batch, idCol, textCol, n, numHashes, bands)
    val oldSig = historySigs.getOrElse(
      bandSignatures(history, idCol, textCol, n, numHashes, bands))
    val newB = bandRows(newSig, col("bands"), col("bands"))
      .repartition(col("band"), col("bsig"))
    val oldB = bandRows(oldSig, col("bands"), col("bands"))
    val a = newB.select(col("id").as("id_a"), col("bands").as("ba"),
      col("band"), col("bsig"))
    val b = newB.select(col("id").as("id_b"), col("bands").as("bb"),
        col("band"), col("bsig"), lit(true).as("is_new"))
      .unionByName(oldB.select(col("id").as("id_b"), col("bands").as("bb"),
        col("band"), col("bsig"), lit(false).as("is_new")))
    val cand = a.join(b, Seq("band", "bsig"))
      .filter((!col("is_new") || col("id_a") < col("id_b")) &&
        col("id_a") =!= col("id_b") && firstCollision(bands)(bandsDiffer))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
    if (verifyThreshold <= 0) cand
    else verifyJaccard(
      batch.select(col(idCol), col(textCol))
        .unionByName(history.select(col(idCol), col(textCol))),
      idCol, textCol, cand, n, verifyThreshold)
  }

  /** LSH band rows of `sigs` (one bucket signature per band): one row
    * per (band, bsig) bucket, carrying the doc `id` and `carry`, the column
    * the [[firstCollision]] rule reads lower bands from. The input of the
    * minHashLsh, incrementalMinHashLsh and simHashPairs bucket self-joins. */
  private def bandRows(df: DataFrame, carry: Column, sigs: Column): DataFrame =
    df.select(col("id"), carry, posexplode(sigs).as(Seq("band", "bsig")))

  /** The first-collision-band rule: a pair that meets in bucket `band`
    * is kept only if every band BELOW it differs (`differs(j)` for band j,
    * read off the two sides' carried signatures), so each pair is emitted
    * from exactly one band and no distinct pass exists. */
  private def firstCollision(bands: Int)(differs: Int => Column): Column =
    (0 until bands - 1).foldLeft(lit(true)) { (acc, j) =>
      acc && (lit(j) >= col("band") || differs(j))
    }

  /** Band j of the MinHash band arrays `ba` and `bb` differs. */
  private def bandsDiffer(j: Int): Column =
    element_at(col("ba"), j + 1) =!= element_at(col("bb"), j + 1)

  /** Exact-Jaccard verification of an LSH candidate pair set: broadcast the
    * (small) candidate set through the corpus twice, computing shingle sets
    * AFTER the join so only matched docs pay for shingling. The corpus is
    * never shuffled. `corpus` must cover every id the pairs reference. */
  private def verifyJaccard(corpus: DataFrame, idCol: String, textCol: String,
                            cand: DataFrame, n: Int, threshold: Double): DataFrame = {
    val bareA = corpus.select(col(idCol).as("id_a"), col(textCol).as("txt_a"))
    val bareB = corpus.select(col(idCol).as("id_b"), col(textCol).as("txt_b"))
    bareB.join(broadcast(bareA.join(broadcast(cand), "id_a")), "id_b")
      .withColumn("sh_a", array_distinct(TextFunctions.shingles(col("txt_a"), n)))
      .withColumn("sh_b", array_distinct(TextFunctions.shingles(col("txt_b"), n)))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Connected components over an undirected edge list — resolves near-dup
    * PAIRS ([[jaccardPairs]]/[[minHashLsh]]/[[simHashPairs]] output) into
    * duplicate CLUSTERS, the step a corpus pipeline needs before it can keep
    * one canonical document per group of mutual near-duplicates (A~B, B~C
    * groups {A,B,C} even though A and C were never paired directly).
    *
    * Iterative hash-min label propagation with pointer jumping: each round a
    * node takes the min of its own and its neighbors' labels, then
    * short-circuits TWICE through the previous map (label(label), then once
    * more — each hop is a cheap label-map-sized join, and two hops per
    * edge-join round roughly halves the rounds a chain needs): a path whose
    * ids rise along it converges in O(log diameter) rounds, though one
    * whose ids zigzag can still need many (26 for PropertySpec's
    * 300-node sawtooth from min-of-neighbors start labels). The start
    * labels are local-then-global (Kiveris et al., SoCC 2014): a union-find
    * over each cached edge partition solves that partition's subgraph
    * exactly, and each node starts at the min id of its partition-local
    * component (min over the partitions that see it) — a valid start
    * labeling (label(x) <= x, inside x's component), so the loop only has
    * to merge across partitions. An edge list whose cache is one
    * partition is solved exactly by the seed, which is returned without a
    * round; near-dup clusters are tight, so larger edge lists need a few
    * merge rounds. `maxIter` caps a pathological chain. Each round shuffles only the edge
    * list and the label map — both candidate-set sized, orders of
    * magnitude below the corpus — and the convergence test costs no job of
    * its own: the round's checkpointing job also returns the label map's
    * exact sum (never a data collect).
    * Each round's label map is checkpointed: the round's plan references the
    * previous map several times, so without truncating lineage the logical
    * plan would grow multiplicatively per round and planning time would
    * dominate within ~8 rounds. The truncation is EAGER AND SERIAL — each
    * round's `localCheckpoint` is materialized by its own RDD-level job
    * before the loop plans anything against it (pass `checkpointDir` for a
    * reliable `checkpoint` to durable storage instead, which survives
    * executor churn on a real cluster — same shape, durable truncation).
    * Eagerness is a CORRECTNESS requirement, not a pacing choice: a lazily
    * checkpointed RDD that a later multi-threaded job materializes
    * deadlocks the Spark driver intermittently — `RDD.doCheckpoint` at
    * job end takes the `RDDCheckpointData$` class lock then the RDD
    * monitor, while a concurrent AQE broadcast-exchange thread submitting
    * a sub-job takes the RDD monitor (`DAGScheduler.getCacheLocs` →
    * `RDD.partitions`) then needs the class lock — a lock-order inversion
    * observed live (round-11 verdict jstack: dag-scheduler-event-loop ⇄
    * broadcast-exchange-24, hung forever at 0% CPU). Materializing each
    * checkpoint in the single driver thread before any concurrent
    * consumer exists closes the window: by the time round N+1's exchange
    * threads touch round N's RDD it is already markCheckpointed.
    *
    * Returns (node, component) with component = min node id reachable;
    * isolated nodes (appearing in no edge) are absent from the output.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 50,
                          checkpointDir: Option[String] = None): DataFrame = {
    checkpointDir.foreach(edges.sparkSession.sparkContext.setCheckpointDir)
    // Shared eager-truncate discipline (stats reset per round — each CC
    // round's one neighbor join + two pointer-jump joins would otherwise
    // CUBE the carried sizeInBytes estimate, with planning-time BigInt
    // blowup by round ~14; eager serial materialization closes the r11
    // doCheckpoint deadlock; old rounds' blocks rotated out): see
    // Checkpointing's scaladoc, pinned by CheckpointingSpec.
    val truncator = new Checkpointing.Truncator(reliable = checkpointDir.isDefined)
    // The edge cache (Par.edgeCache, shared with Graph.pageRank) is
    // partitioned on m, the per-round neighbor join's key: its
    // HashPartitioning(m) satisfies the join's distribution every round.
    // NOT deduplicated: min-propagation is idempotent, so duplicate edges
    // cost join fan-out but never change a label — candidate-pair
    // producers emit unique pairs already, and a caller with a genuinely
    // dirty edge list can distinct() it themselves. Ids are bigint at
    // every caller (the cast is a no-op for them).
    val (sym, p, release) = graft.core.Par.edgeCache(edges,
      col(srcCol).cast("long"), col(dstCol).cast("long"), truncator)
    // start labels: partition-local union-find over the cached edge
    // partitions, then the min over every partition that saw the node
    val pair = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    val seed = sym.as[(Long, Long)](pair).mapPartitions(localComponents)(pair).toDF("node", "label")
      .groupBy(col("node")).agg(min(col("label")).as("label"))
    // convergence: labels only ever DECREASE (min-propagation + jumps that
    // follow label(x) <= x), so the label map changed iff its exact sum
    // dropped. The sum comes out of the checkpointing job itself (a
    // per-partition fold beside the materialization), so no round plans a
    // second job over the map; BigInt so no id range can wrap the sum into
    // a false match.
    var (labels, prevSum) = truncator.truncateFold(seed)(sumLabels)
    var iter = 0
    // one cache partition: localComponents saw every edge, so the seed
    // already is the component map and no round runs
    var converged = p == 1
    while (!converged && iter < maxIter) {
      // min over own + neighbors' labels
      val viaNbr = sym.join(labels.select(col("node").as("m"), col("label")), "m")
        .select(col("n").as("node"), col("label"))
      val stepped = viaNbr.union(labels)
        .groupBy(col("node")).agg(min(col("label")).as("label"))
      // pointer jump ×2: follow the new label through the previous map, then
      // follow THAT through it again. label(x) <= x by construction, so each
      // hop only ever lowers (or keeps) the label; two label-map-sized joins
      // per edge-join round walk ancestor chains twice as fast for the same
      // number of expensive rounds.
      val jumpTbl = labels.select(col("node").as("jn"), col("label").as("jl"))
      val hop1 = stepped.join(jumpTbl, col("label") === col("jn"), "left")
        .select(col("node"), coalesce(col("jl"), col("label")).as("label"))
      val jumpTbl2 = labels.select(col("node").as("kn"), col("label").as("kl"))
      val (jumped, curSum) = truncator.truncateFold(
        hop1.join(jumpTbl2, col("label") === col("kn"), "left")
          .select(col("node"), coalesce(col("kl"), col("label")).as("label")))(sumLabels)
      labels = jumped
      iter += 1
      converged = curSum == prevSum
      prevSum = curSum
    }
    release()
    // a partially-converged label map would silently split real clusters
    // (and dedupByClusters would keep several "canonical" docs per cluster)
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIter rounds; " +
        "raise maxIter (pointer jumping needs ~log2(graph diameter) rounds)")
    labels.withColumnRenamed("label", "component")
  }

  /** Union-find over one partition's (n, m) edge rows: every node the rows
    * touch, paired with the min id of its component WITHIN these rows.
    * Union keeps the smaller root, so a root is its component's min id. */
  private def localComponents(rows: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (c != r) { val next = parent(c); parent(c) = r; c = next } // path compression
      r
    }
    rows.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toArray.iterator.map(x => (x, find(x)))
  }

  /** Per-partition fold of a (node, label) map's exact label sum. */
  private def sumLabels(rows: Iterator[Row]): BigInt =
    rows.foldLeft(BigInt(0))((s, r) => s + r.getLong(1))

  /** Cluster-resolution dedup: drop every clustered document except its
    * cluster's canonical (min-id) member; documents in no near-dup pair pass
    * through untouched. The drop set is candidate-sized, so the only
    * corpus-scale operation is one broadcast anti-join — the corpus is
    * scanned once and never shuffled. */
  def dedupByClusters(docs: DataFrame, pairs: DataFrame, idCol: String,
                      srcCol: String = "id_a", dstCol: String = "id_b"): DataFrame = {
    val drop = connectedComponents(pairs, srcCol, dstCol)
      .filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    docs.join(broadcast(drop), Seq(idCol), "left_anti")
  }

  /** Priority-aware cluster resolution: like [[dedupByClusters]], but each
    * cluster keeps the member the CALLER prefers — minimum `priorityCol`
    * (ties → minimum id) — instead of blindly the min-id one. This is the
    * real "which copy survives" step when a corpus merges sources of unequal
    * quality (curated wiki beats common-crawl for the same article).
    *
    * Same scale shape as [[dedupByClusters]]: the component map is
    * candidate-sized, so the priority lookup is one broadcast join against
    * the corpus (corpus scanned once, never shuffled), the per-cluster
    * winner window runs over candidate-sized rows only, and the final drop
    * set goes back to the corpus as a broadcast anti-join. */
  def dedupByClustersPriority(docs: DataFrame, pairs: DataFrame, idCol: String,
                              priority: Column,
                              srcCol: String = "id_a", dstCol: String = "id_b"): DataFrame =
    dedupByClustersPriorityCc(docs,
      connectedComponents(pairs, srcCol, dstCol), idCol, priority)

  /** [[dedupByClustersPriority]] over a PRECOMPUTED component map
    * (node, component): a pipeline that already ran connected components
    * for another consumer (cluster sizing, cluster-atomic splitting)
    * feeds the same result here instead of re-running the iterative CC —
    * at 100 TB the components pass is multi-round and worth computing
    * exactly once per pair graph. */
  def dedupByClustersPriorityCc(docs: DataFrame, cc: DataFrame, idCol: String,
                                priority: Column): DataFrame = {
    // clustered docs only (candidate-sized), with their priority
    val members = docs.select(col(idCol), priority.as("__prio"))
      .join(broadcast(cc.select(col("node").as(idCol), col("component"))), Seq(idCol))
    // asc_nulls_last, not Spark's default asc (NULLS FIRST): a null
    // priority (e.g. an unparsable source id cast to int) must LOSE to any
    // ranked member, matching SQL's ORDER BY ... NULLS LAST convention —
    // otherwise junk-priority docs would win their clusters
    val w = Window.partitionBy(col("component"))
      .orderBy(col("__prio").asc_nulls_last, col(idCol).asc)
    val drop = members.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1).select(col(idCol))
    docs.join(broadcast(drop), Seq(idCol), "left_anti")
  }

  /** Number of simhash bits: 60 = 15 hex chars of MD5, the widest slice that
    * both this engine and the SQL oracle can parse into a signed 64-bit int.
    * A portable token hash (`md5` is identical everywhere) makes the whole
    * fingerprint reproducible outside Spark — the oracle recomputes it. */
  val SimHashBits = 60

  /** SimHash fingerprint (60-bit, MD5-derived) per document. The per-bit
    * majority vote over a document's distinct tokens is a per-DOCUMENT
    * statistic, so the whole fingerprint is computed by the codegen'd
    * [[graft.functions.SimHash60]] expression in one pass over the token
    * array — a plain projection, ZERO exchange (the r1–r6 shape exploded
    * tokens into a 60-sum hash-aggregate: a corpus shuffle for cross-row
    * state the computation never needed). Identical fingerprints by
    * construction: same md5-top-60-bit token hash, same ±1 votes, same
    * bit assembly — and docs whose tokens are all null/absent return NULL
    * and are filtered, reproducing the aggregate shape's "no rows
    * exploded → doc absent" semantics. Near-dups = small Hamming
    * distance. Returns (id, simhash). */
  def simHash(df0: DataFrame, idCol: String, textCol: String): DataFrame = {
    val df = graft.core.Par.widen(df0)
    df.select(col(idCol).as("id"),
        graft.functions.SimHashExpression.simHash60(df0.sparkSession,
          TextFunctions.tokens(col(textCol))).as("simhash"))
      .filter(col("simhash").isNotNull)
  }

  /** Banded-Hamming geometry of the 60-bit fingerprint family: 4 bands of
    * 15 bits. */
  private val simHashBands: Int = 4
  private def simHashBandSig(fp: Column, j: Int): Column =
    shiftright(fp, j * 15).bitwiseAND(0x7FFFL)

  /** Hamming-distance pairs over simhash fingerprints within `maxDist`, using
    * 4 × 15-bit band buckets (any pair at distance ≤ 3 must share a band —
    * pigeonhole): a bucket EQUI-join on (band, signature) with the distance
    * filter in the join predicate — candidates are per-bucket only, never an
    * all-pairs self-join, and the exchanges carry (id, fp, band, bsig) = 32
    * bytes/row.
    *
    * Shape rationale: the in-row alternative (collect_list per bucket +
    * higher-order-function expansion) shuffles one exchange fewer, but
    * Spark's lambda functions are CodegenFallback — the O(k²) per-bucket
    * inner loop runs INTERPRETED with per-element InternalRow allocation,
    * measured ~1.6× slower at sf0.1 — and a skewed bucket materializes as
    * one k-struct row in memory. The join keeps the k² loop inside
    * whole-stage codegen and streams the bucket instead of materializing it.
    *
    * A near-dup pair collides in SEVERAL bands (an exact dup in all 4); each
    * pair is emitted only from the FIRST band where it collides — the
    * standard LSH dedup-free emission rule (lower-band signatures are three
    * shift/compares on the fingerprints already in the row) — so the output
    * needs no distinct and the 4×-duplicated pair stream never exists, let
    * alone shuffles. */
  def simHashPairs(sims: DataFrame, maxDist: Int = 3): DataFrame = {
    // 4 bands guarantee recall only through distance 3 (pigeonhole: 4
    // differing bits can avoid sharing any band) — a larger maxDist would
    // silently drop qualifying pairs, so refuse it
    require(maxDist >= 0 && maxDist <= 3,
      s"maxDist=$maxDist: 4-band simhash LSH guarantees recall only for maxDist <= 3")
    // The explicit (band, bsig) repartition below the per-side renames is
    // the d23 exchange-reuse trick: it is the very distribution the
    // self-join needs, its two statically-planned copies are AQE-reused
    // into ONE runtime stage, and everything UPSTREAM of it (the caller's
    // fingerprint pipeline — for m141 a whole frame+pHash derivation)
    // therefore executes once instead of once per join side.
    // TRADE-OFF: a user-specified repartition is REPARTITION_BY_COL, which
    // AQE's OptimizeSkewedJoin will NOT skew-split (it only splits
    // ENSURE_REQUIREMENTS exchanges) — so a pathologically hot (band, bsig)
    // bucket stays one task here, where the equi-join's natural exchange
    // would have been split. The jaccardPairs path caps bucket width
    // upstream (maxShingleDf) instead; simhash buckets are 15-bit
    // signatures whose width is bounded by corpus duplication itself.
    val banded = bandRows(sims, col("simhash"), array((0 until simHashBands).map(j =>
        simHashBandSig(col("simhash"), j)): _*))
      .repartition(col("band"), col("bsig"))
    val a = banded.select(col("id").as("id_a"), col("simhash").as("fp_a"),
      col("band"), col("bsig"))
    val b = banded.select(col("id").as("id_b"), col("simhash").as("fp_b"),
      col("band"), col("bsig"))
    val first = firstCollision(simHashBands)(j =>
      simHashBandSig(col("fp_a"), j) =!= simHashBandSig(col("fp_b"), j))
    a.join(b, Seq("band", "bsig"))
      .filter(col("id_a") < col("id_b") &&
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))) <= maxDist && first)
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long").as("dist"))
  }

  /** Cross-document repeated-substring signal (the exact-substring dedup
    * statistic of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better"): per document, how many of its fixed-length character
    * spans (sampled every `stride` chars) also occur verbatim in ANOTHER
    * document. High `repeat_frac` marks boilerplate, mirrored pages, and
    * licence blocks that survive document-level dedup.
    *
    * Shape: spans are md5-hashed in the scan projection (char-based
    * `substr`, engine-portable); per-(span, doc) occurrence counts come from
    * one (h, id) hash-aggregate, per-span distinct-doc counts from a second,
    * THIN aggregate over those (h, id) rows — both partial-combining, so a
    * boilerplate span held by millions of documents contributes at most one
    * partial row per task and every aggregate row stays O(1) bytes. (The
    * round-5 shape collected the per-span doc list in one `collect_list`
    * row — one k-element array for a k-doc span, an executor-OOM magnet on
    * exactly the licence-block data this operator targets.) Only spans seen
    * in more than one document enter the flag join's build side; the corpus
    * bulk (unique spans) never joins at all, and AQE picks broadcast vs
    * skew-split shuffle for the join from the real duplicate rate.
    * Documents shorter than `spanChars` have no spans and are absent from
    * the output.
    *
    * `maxSpanDf` (0 = off): spans occurring in more than this many distinct
    * documents are boilerplate by fiat and are EXCLUDED from the statistic
    * (both `n_spans` and `n_repeated`) — the curation knob for corpora where
    * a licence header would otherwise dominate every document's score. A
    * document whose every span is over-cap drops out of the output.
    *
    * Returns (id, n_spans, n_repeated, repeat_frac). */
  def repeatedSpans(df0: DataFrame, idCol: String, textCol: String,
                    spanChars: Int = 50, stride: Int = 25,
                    maxSpanDf: Long = 0L): DataFrame = {
    require(spanChars > 0 && stride > 0, s"spanChars=$spanChars stride=$stride must be positive")
    val df = graft.core.Par.widen(df0)
    val spans = df.filter(length(col(textCol)) >= spanChars)
      .select(col(idCol).as("id"),
        explode(sequence(lit(0), length(col(textCol)) - spanChars, lit(stride))).as("off"),
        col(textCol).as("__t"))
      .select(col("id"), md5(col("__t").substr(col("off") + 1, lit(spanChars))).as("h"))
    val perDoc = spans.groupBy(col("h"), col("id")).agg(count(lit(1)).as("c"))
    // repeated = the span occurs in >1 DISTINCT doc (a doc repeating its own
    // span is self-similarity, not corpus duplication): distinct-doc count
    // per span = plain row count over the (h, id) aggregate — never a
    // count_distinct (whose two-phase plan would re-shuffle the span stream)
    val perHash = perDoc.groupBy(col("h")).agg(count(lit(1)).as("nd"))
    val flags = perHash.filter(col("nd") > 1)
      .select(col("h"),
        (if (maxSpanDf > 0) col("nd") <= maxSpanDf else lit(true)).as("rep"))
    // left join: unmatched = unique span (rep null → kept, not repeated);
    // rep=false = over-cap boilerplate (dropped when the cap is on)
    val joined = perDoc.join(flags, Seq("h"), "left")
    val kept =
      if (maxSpanDf > 0) joined.filter(coalesce(col("rep"), lit(true))) else joined
    kept.groupBy(col("id"))
      .agg(sum(col("c")).as("n_spans"),
        sum(when(coalesce(col("rep"), lit(false)), col("c")).otherwise(0L)).as("n_repeated"))
      .withColumn("repeat_frac",
        round(col("n_repeated").cast("double") / col("n_spans"), 4))
  }

  /** Segment-level boilerplate REMOVAL (the rewrite sibling of
    * [[repeatedSpans]], which only scores): split every document on the
    * literal separator `sep`, drop each segment that occurs verbatim in
    * more than `maxSegmentDf` distinct documents, and reassemble the
    * survivors in original order. With `sep = "\n"` this is CCNet/Dolma
    * paragraph-level dedup (navigation chrome, cookie banners, licence
    * lines vanish from every page at once); with `sep = " "` it degrades
    * gracefully to document-frequency-based token pruning. Segments shorter
    * than `minSegmentChars` are never counted and never dropped (CCNet's
    * short-line exemption — blank lines and punctuation survive).
    *
    * Scale shape: ONE corpus scan. Segments are md5-hashed in the explode
    * projection; distinct-doc counts come from a (hash, doc) hash-aggregate
    * followed by a THIN per-hash row count (both partial-combining, every
    * aggregate row O(1) bytes — the [[repeatedSpans]] shape, never a
    * count_distinct re-shuffle). Only over-cap hashes (the boilerplate
    * set, vanishingly small next to the corpus) enter the flag join's
    * build side — AQE broadcasts it at real-world rates — and one doc-keyed
    * aggregate rebuilds the texts (the per-doc collected segment list is
    * document-sized, i.e. no larger than the input row it came from).
    * Every input document appears in the output, even if fully pruned
    * (`text_clean` = "" — a curation pipeline wants to SEE what emptied).
    *
    * Returns (id, text_clean, n_kept, n_dropped). */
  def pruneBoilerplateSegments(df0: DataFrame, idCol: String, textCol: String,
                               sep: String, maxSegmentDf: Long,
                               minSegmentChars: Int = 1): DataFrame = {
    require(sep.nonEmpty, "sep must be non-empty")
    require(maxSegmentDf > 0, s"maxSegmentDf=$maxSegmentDf must be positive")
    val df = graft.core.Par.widen(df0)
    // -1 limit: trailing empty segments survive the round-trip; quote: sep
    // is a LITERAL separator (split's pattern argument is a regex); null
    // text reads as "" (one empty, always-exempt segment), so a null-text
    // document still appears in the output instead of silently vanishing
    val segs = df.select(col(idCol).as("id"),
        posexplode(split(coalesce(col(textCol), lit("")),
          java.util.regex.Pattern.quote(sep), -1)).as(Seq("pos", "seg")))
      .withColumn("h", md5(col("seg")))
    // a short segment can never hash-collide into the hot set: the hot set
    // only holds eligible (>= minSegmentChars) segments, and equal content
    // implies equal length — so the flag join needs no length re-check
    val perDoc = segs.filter(length(col("seg")) >= minSegmentChars)
      .groupBy(col("h"), col("id")).agg(count(lit(1)).as("c"))
    val hot = perDoc.groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") > maxSegmentDf)
      .select(col("h"), lit(true).as("__hot"))
    segs.join(hot, Seq("h"), "left")
      .groupBy(col("id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("__hot").isNull,
            struct(col("pos"), col("seg"))))),
          x => x("seg")), sep).as("text_clean"),
        count(when(col("__hot").isNull, 1)).as("n_kept"),
        count(col("__hot")).as("n_dropped"))
  }

  /** Segment-level exact deduplication with document reassembly — the
    * keep-first-occurrence flavor of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better"): every repeated segment
    * is removed from the corpus EXCEPT its first occurrence, and documents
    * are re-stitched from their surviving segments in order. Distinct from
    * [[pruneBoilerplateSegments]], which drops ALL copies of over-threshold
    * segments: here exactly one copy of every segment survives, so no
    * content is lost — only repetition.
    *
    * A segment is a non-overlapping `blockWords`-word window (the t80
    * chunking grid without overlap); a real paragraph splitter plugs into
    * the same shape when the text carries paragraph boundaries. "First" =
    * minimum (id, seg_idx) — a deterministic, engine-portable total order.
    *
    * Scale shape: the survival decision is ONE window over the segment
    * stream keyed by the segment text (one corpus-text exchange — decision
    * and reassembly text travel together, trading a second corpus-sized
    * join for carrying text through the exchange once), and reassembly is
    * one exchange on the doc id. No all-pairs, no driver-side data; a
    * boilerplate segment in k docs costs a k-row sorted run inside one
    * partition — the bound the first-occurrence semantics inherently
    * require (AQE skew-split cannot cut a window group, but the run holds
    * (id, seg_idx) pairs only during the sort, not collected state).
    *
    * Returns (id, n_segs, n_kept, text_deduped) — every input doc appears;
    * text_deduped = "" when all its segments were seen earlier. */
  def segmentDedup(docs0: DataFrame, idCol: String, textCol: String,
                   blockWords: Int = 16): DataFrame = {
    require(blockWords >= 1, "blockWords must be >= 1")
    val docs = graft.core.Par.widen(docs0)
    // (size + blockWords - 1) div blockWords segments; split("") = [""], so
    // every doc has >= 1 segment and sequence() never descends
    val segs = docs.select(col(idCol).as("id"),
      posexplode(expr(
        s"""transform(
           |  sequence(0, (size(split(`$textCol`, ' ')) + ${blockWords - 1}) div $blockWords - 1),
           |  j -> array_join(slice(split(`$textCol`, ' '), j * $blockWords + 1, $blockWords), ' '))"""
          .stripMargin)).as(Seq("seg_idx", "seg")))
    val w = Window.partitionBy(col("seg")).orderBy(col("id").asc, col("seg_idx").asc)
    segs.withColumn("__keep", row_number().over(w) === 1)
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        // collect_list drops nulls, so only kept segments are stitched
        array_join(transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("seg_idx"), col("seg"))))),
          x => x("seg")), " ").as("text_deduped"))
      .withColumnRenamed("id", idCol)
  }

  /** Near-dup pair EXPLANATION — the audit view a curator reads before
    * trusting a dedup threshold: per candidate pair, both lengths, the
    * exact character edit distance (Levenshtein — identical unit-cost
    * semantics in Spark and DuckDB), and the length-normalized edit
    * ratio (6 dp; 0 = identical, →1 = unrelated).
    *
    * Scale shape: the corpus is scanned twice to FETCH pair-member texts
    * via broadcast joins of the candidate-sized id sets (never shuffled);
    * the explanation join then runs over pair-sized relations only, and
    * the O(len²) edit-distance DP touches exactly the candidate pairs —
    * the one place quadratic character work is affordable, because
    * upstream LSH already shrank the pair set by orders of magnitude.
    * Returns (id_a, id_b, len_a, len_b, edit_distance, edit_ratio). */
  def explainPairs(docs: DataFrame, pairs: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    val p = pairs.select(col("id_a"), col("id_b"))
    val ta = docs.select(col(idCol).as("id_a"), col(textCol).as("__ta"))
      .join(broadcast(p.select(col("id_a")).distinct()), Seq("id_a"))
    val tb = docs.select(col(idCol).as("id_b"), col(textCol).as("__tb"))
      .join(broadcast(p.select(col("id_b")).distinct()), Seq("id_b"))
    val ed = levenshtein(col("__ta"), col("__tb")).cast("long")
    p.join(ta, Seq("id_a")).join(tb, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        length(col("__ta")).cast("long").as("len_a"),
        length(col("__tb")).cast("long").as("len_b"),
        ed.as("edit_distance"),
        floor6(ed.cast("double") /
          greatest(length(col("__ta")), length(col("__tb")), lit(1)).cast("double"))
          .as("edit_ratio"))
  }

  // ---- Bloom-prefiltered incremental dedup ---------------------------------
  // The landing-zone pattern: a (small) new batch arrives and must be deduped
  // against a (huge) historical corpus. A Bloom filter over the history keys
  // is built ONCE (O(numBits/8) bytes however large the history), broadcast
  // into a codegen'd probe, and lets every definitely-new row skip the join
  // entirely; only the "maybe" fraction (true dups + fpp) joins the history.
  // The final result is EXACT — the bloom has no false negatives, and the
  // maybes are confirmed with an exact anti-join.

  /** Bitsets at or below this ride the plan as an inlined array Literal
    * (32 MB — serialized with every task, cheap at this size and free of
    * broadcast bookkeeping); above it [[bloomMightContain]] switches to a
    * broadcast-variable-backed expression
    * ([[graft.functions.BloomBitsetContains]]) that ships to each executor
    * once, so a 100 TB history (~10^10 keys → ~1.5 GB of bits at 1% fpp)
    * keeps its advertised false-positive rate instead of silently degrading
    * to fpp≈1. */
  val BloomLiteralMaxBits: Long = 1L << 28

  /** Hard ceiling: the words array must stay indexable (Int.MaxValue longs
    * ≈ 1.4×10^11 bits ≈ 16 GB) — beyond this, shard the filter by key range. */
  val BloomMaxBits: Long = Int.MaxValue.toLong * 64L

  /** Optimal (numBits, numHashes) for an expected `n` history keys at
    * false-positive rate `fpp`: m = -n·ln(p)/ln(2)², k = (m/n)·ln(2) —
    * the textbook sizing. numBits rounds up to a multiple of 64 (whole
    * words); both floors at sane minimums so tiny inputs stay valid. */
  def bloomParams(n: Long, fpp: Double): (Long, Int) = {
    require(n > 0 && fpp > 0 && fpp < 1, s"n=$n fpp=$fpp out of range")
    val m = math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2)))
    // clamp in DOUBLE space before any long arithmetic: an astronomical n
    // would saturate m.toLong at Long.MaxValue and the +63 word-rounding
    // would overflow negative, collapsing the sizing to the 64-bit floor
    val mc = math.min(m, BloomMaxBits.toDouble).toLong
    val bits = (((mc + 63) / 64) * 64).max(64L)
    val k = math.max(1, math.round(bits.toDouble / n * math.log(2)).toInt)
    (bits, k)
  }

  /** The k bit positions of `key`: pmod(xxhash64(key, i), numBits) for
    * i = 0..k-1. Deterministic, all codegen'd builtins; shared by the build
    * side and BOTH probe forms, so they can never disagree on the hash. */
  private def bloomPositions(key: Column, numBits: Long, numHashes: Int): Column =
    array((0 until numHashes).map(i =>
      pmod(xxhash64(key, lit(i)), lit(numBits))): _*)

  /** Build the bitset as Array[Long] words. Distributed shape: one narrow
    * projection explodes each key to its k positions, partial `bit_or`
    * combines map-side, and the shuffle carries at most numBits/64 rows per
    * partition — O(filter size), never O(history size). Only the finished
    * words (≤ numBits/64 rows) reach the driver. */
  def bloomBuild(df: DataFrame, key: Column, numBits: Long, numHashes: Int): Array[Long] = {
    require(numBits > 0 && numBits % 64 == 0, s"numBits=$numBits must be a positive multiple of 64")
    require(numBits <= BloomMaxBits, s"numBits=$numBits exceeds the $BloomMaxBits indexable max")
    require(numHashes > 0, s"numHashes=$numHashes must be positive")
    val words = df
      .select(explode(bloomPositions(key, numBits, numHashes)).as("p"))
      .select(shiftright(col("p"), 6).cast("int").as("w"),
        call_function("shiftleft", lit(1L), col("p").bitwiseAND(lit(63L)).cast("int")).as("m"))
      .groupBy(col("w")).agg(bit_or(col("m")).as("bits"))
      .collect()
    val arr = new Array[Long]((numBits / 64).toInt)
    words.foreach(r => arr(r.getInt(0)) = r.getLong(1))
    arr
  }

  /** Probe: true iff all k bits for `key` are set. Two transports for the
    * bitset, picked by size:
    *  - ≤ [[BloomLiteralMaxBits]]: a single array Literal (one object, not
    *    numBits/64 expression nodes) serialized with each task — cheapest
    *    at small sizes, and the whole predicate is codegen'd builtins;
    *  - above it: a broadcast variable behind
    *    [[graft.functions.BloomBitsetContains]] (ships once per executor,
    *    probe codegen'd via its `doGenCode`) — the 100 TB path, where the
    *    bitset is hundreds of MBs and a per-task literal would dominate the
    *    job's payload. Repeated probes against the SAME bits array reuse one
    *    broadcast (identity-keyed), so the batch-loop reuse pattern ships
    *    the bitset once; [[graft.functions.BloomExpressions.release]]
    *    reclaims the executor blocks eagerly when a long-lived session is
    *    done with it (unpersist, not destroy — outstanding probes sharing
    *    the array keep working and re-fetch lazily). */
  def bloomMightContain(key: Column, bits: Array[Long], numBits: Long, numHashes: Int): Column = {
    require(numHashes > 0, s"numHashes=$numHashes must be positive")
    if (numBits > BloomLiteralMaxBits) {
      graft.functions.BloomExpressions.bitsetContains(
        org.apache.spark.sql.SparkSession.active,
        bloomPositions(key, numBits, numHashes), bits)
    } else {
      // hoisted so all k probes share ONE Literal node — k fresh lit() calls
      // would each convert the (up to 32 MB) array into their own ArrayData
      val bitsLit = lit(bits)
      (0 until numHashes).map { i =>
        val pos = pmod(xxhash64(key, lit(i)), lit(numBits))
        val word = element_at(bitsLit, (shiftright(pos, 6) + 1).cast("int"))
        call_function("shiftright", word, pos.bitwiseAND(lit(63L)).cast("int"))
          .bitwiseAND(lit(1L)) =!= lit(0L)
      }.reduce(_ && _)
    }
  }

  /** Rows of `batch` whose `keyCol` does not occur in `history` (exact
    * anti-join semantics). The probe key is nulled for bloom-definitely-new
    * rows, and a null key never matches an anti-join — so those rows pass
    * through the single batch scan without ever probing the history hash
    * table; only maybes (true dups + fpp) are confirmed against the real
    * keys. At 100 TB the history-side scan for the confirm join is
    * irreducible per call — amortize it by building [[bloomBuild]] once and
    * reusing the bitset across arriving batches. */
  def incrementalDedup(batch: DataFrame, history: DataFrame, keyCol: String,
                       numBits: Long = 1L << 16, numHashes: Int = 4): DataFrame = {
    val bits = bloomBuild(history, col(keyCol), numBits, numHashes)
    val maybe = bloomMightContain(col(keyCol), bits, numBits, numHashes)
    // probe column name dodges any same-named batch column (withColumn
    // REPLACES silently, which would corrupt such inputs)
    val kcol = Iterator.iterate("__bloom_k")(_ + "_")
      .dropWhile(batch.columns.contains).next()
    batch.withColumn(kcol, when(maybe, col(keyCol)))
      .join(history.select(col(keyCol).as(kcol)).distinct(),
        Seq(kcol), "left_anti")
      .drop(kcol)
  }
}
