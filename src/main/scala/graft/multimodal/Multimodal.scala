package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing for training-data pipelines: media
  * (image/audio/video) as opaque `binary` columns + typed metadata, with
  * decode / feature-extraction / frame-sampling as per-partition batch
  * transforms.
  *
  * IMAGE decode is REAL since round 16: PNG/JPEG/GIF/BMP payloads go
  * through the JDK's javax.imageio ([[readImage]] → [[pHashImage]] /
  * [[imageFeatures]]) with zero added dependencies. AUDIO/VIDEO codecs the
  * JDK lacks remain stubbed ([[decodeStub]], a deterministic fake), as do
  * non-decodable payloads — including the driver's text-byte oracle corpus,
  * whose rows are therefore unchanged by the image path. Everything around
  * the decode — schema, batch shape, partition-level execution, column
  * wiring — is real Spark and tested either way.
  */
object Multimodal {

  /** Wrap a source column as an opaque media payload with metadata — the
    * ingestion shape for binary assets. (Here the payload is the UTF-8 bytes
    * of a text column; for real files use [[attachBinaryFiles]].) */
  def attachBinary(df: DataFrame, idCol: String, srcCol: String): DataFrame =
    df.select(col(idCol).as("media_id"),
      encode(col(srcCol), "UTF-8").as("media"),
      struct(lit("fake/raw").as("format"),
        lit(64).as("width"), lit(64).as("height"),
        length(col(srcCol)).cast("long").as("n_bytes")).as("meta"))

  /** The production ingestion path: adapt a
    * `spark.read.format("binaryFile")` DataFrame (schema: path,
    * modificationTime, length, content) to the (media_id, media, meta)
    * contract the rest of the pipeline consumes. media_id = xxhash64(path)
    * — stable across re-reads of the same layout; width/height are unknown
    * until decode and surface as NULL. binaryFile streams each file as one
    * row, so partitioning follows the file listing — already the widest
    * layout for per-file work. */
  def attachBinaryFiles(files: DataFrame, format: String = "application/octet-stream"): DataFrame =
    files.select(xxhash64(col("path")).as("media_id"),
      col("content").as("media"),
      struct(lit(format).as("format"),
        lit(null).cast("int").as("width"), lit(null).cast("int").as("height"),
        col("length").cast("long").as("n_bytes")).as("meta"))

  // ==========================================================================
  // STUB: stands in for a real media decoder (e.g. libjpeg/ffmpeg frame
  // decode). Deterministic fake: the payload is hashed ONCE to a 32-hex-char
  // md5 seed, and component d is md5(seed || '|' || d)'s first 60 bits mod
  // 1024, scaled by 1/1024 — O(len + dim) per payload, md5-derived so ANY
  // engine recomputes it bit-for-bit (the DuckDB correctness oracle does),
  // and k/1024 is exactly representable in both float and double, so
  // downstream double arithmetic (sums of squares etc.) is bit-identical
  // across engines. Replace the body with a real codec call to
  // productionize; the signature (bytes in, fixed-dim float vector out) is
  // the real contract.
  // ==========================================================================
  // table-driven hex: the previous per-byte "%02x".format built a fresh
  // java.util.Formatter per byte — ~(16 + dim·16) instantiations per ROW on
  // the decode path (r18 optimization; measured as the m31 hot spot). Same
  // lowercase hex string, so every md5-derived contract is byte-identical.
  private val hexDigits = "0123456789abcdef".toCharArray
  private[graft] def toHex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      out(i * 2) = hexDigits(b >>> 4)
      out(i * 2 + 1) = hexDigits(b & 0xf)
      i += 1
    }
    new String(out)
  }

  private[graft] def decodeStub(bytes: Array[Byte], dim: Int): Array[Float] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val seed = toHex(md.digest(bytes))
    Array.tabulate(dim) { d =>
      md.reset()
      val hex = toHex(md.digest(s"$seed|$d".getBytes("UTF-8")))
      val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
      (h % 1024L).toFloat / 1024.0f
    }
  }

  // ==========================================================================
  // REAL image decode (round 16): the JDK's javax.imageio reads PNG, JPEG,
  // GIF and BMP with zero added dependencies — so for those formats the
  // decode step is no longer a stand-in. Payloads ImageIO cannot read
  // (including the driver's text-byte oracle corpus, which no image magic
  // matches) keep the deterministic fallback, so every existing oracle row
  // is byte-identical. All pixel math below is INTEGER (BT.601 luma via
  // cross-multiplication, nearest-neighbor grid sampling): no Graphics2D
  // rendering, no float rounding — so for LOSSLESS formats (PNG, BMP, GIF),
  // whose decode is bit-exact by spec, the same bytes produce the same
  // numbers on any JVM. JPEG decode output (ImageIO getRGB) is NOT
  // guaranteed identical across JDK versions/vendors (IDCT implementations
  // may differ within the JPEG spec's tolerance), so JPEG-derived
  // hashes/features are deterministic per JVM but not portable across
  // them; PipelineSpec pins a fixed JPEG fixture's hash to DETECT decoder
  // drift when the JDK changes (r16 advice).
  // ==========================================================================
  // in-memory stream cache (r18 optimization): ImageIO's default disk
  // cache backs every read with a TEMP FILE — one create+delete per
  // payload probed. Pure plumbing, decode output unchanged.
  //
  // CAVEAT (r18 verdict #7): this is a PROCESS-GLOBAL ImageIO mutation,
  // applied when this object first initializes (i.e. on any executor/
  // driver JVM running a multimodal operator). Any other ImageIO user in
  // the same JVM also switches to memory-backed streams — acceptable for
  // this library's processes (the alternative, a MemoryCacheImageInput-
  // Stream per read, would pin the setting per call site but ImageIO.read
  // (InputStream) constructs its own stream internally), documented here
  // so an embedder with huge single images knows where the setting came
  // from. Similarly one-shot: gateSafe captures the reader registry ONCE
  // (lazily, on first decode) — a reader registered LATER (e.g. an
  // explicit ImageIO.scanForPlugins after classpath growth) does not
  // re-disarm the gate; embedders loading ImageIO plugins at runtime must
  // do so before the first multimodal operator runs.
  javax.imageio.ImageIO.setUseCache(false)

  /** Cheap magic-byte gate ahead of ImageIO (r18 optimization): probing a
    * non-image payload through ImageIO.read costs a stream + a
    * reader-registry scan per row. The prefixes below cover every reader
    * the JDK registers — JPEG, PNG, GIF, BMP, TIFF, and WBMP's 0x00 0x00
    * header — so a payload failing this gate is exactly a payload
    * ImageIO.read would return null for: the fallback path is
    * byte-identical (MultimodalSpec pins decode parity per format). */
  private[graft] def maybeImage(b: Array[Byte]): Boolean =
    b.length >= 4 && (
      (b(0) == 0x89.toByte && b(1) == 0x50) ||        // PNG
      (b(0) == 0xff.toByte && b(1) == 0xd8.toByte) || // JPEG
      (b(0) == 0x47 && b(1) == 0x49 && b(2) == 0x46) || // GIF
      (b(0) == 0x42 && b(1) == 0x4d) ||               // BMP
      (b(0) == 0x49 && b(1) == 0x49 && b(2) == 0x2a) || // TIFF (LE)
      (b(0) == 0x4d && b(1) == 0x4d && b(2) == 0x00) || // TIFF (BE)
      (b(0) == 0x00 && b(1) == 0x00))                 // WBMP

  // the gate's prefix table covers the STOCK JDK reader registry; ImageIO
  // is SPI-pluggable, so if any dependency ever registers an extra reader
  // (a WebP/PSD plugin via META-INF/services) the gate would silently
  // misclassify payloads that reader could decode. Checked ONCE: with an
  // unexpected format registered, the gate disarms and every payload goes
  // through the full ImageIO probe — slower, never wrong.
  //
  // INVARIANT (r18 verdict #7 / ADVICE): every format this whitelist
  // accepts MUST have its magic prefix in [[maybeImage]] — an entry with
  // no prefix would keep gateSafe true while the gate routes that
  // format's decodable payloads to the fallback, a silent semantics
  // change. The r18 list carried "jpeg 2000"/"jpeg2000" with no JP2/J2K
  // magic in the table: the stock JDK never registers a JPEG-2000
  // reader, so the entries were dead — but had a JDK ever shipped one,
  // gateSafe would have stayed true and .jp2/.j2k payloads silently
  // stubbed. Dropped: the gate now DISARMS if such a reader appears
  // (slower, never wrong). MultimodalSpec pins the registry ⊆ whitelist
  // ⊆ prefix-table chain.
  private[graft] val knownJdkFormats = Set("jpg", "jpeg", "png", "gif", "bmp",
    "wbmp", "tif", "tiff")
  private[graft] lazy val gateSafe: Boolean =
    javax.imageio.ImageIO.getReaderFormatNames
      .forall(f => knownJdkFormats.contains(f.toLowerCase(java.util.Locale.ROOT)))

  private[graft] def readImage(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
    if (gateSafe && !maybeImage(bytes)) None
    else try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
    catch { case _: Exception => None }

  /** Integer BT.601 luma (0..255) of one pixel. */
  private[graft] def gray(img: java.awt.image.BufferedImage, x: Int, y: Int): Int = {
    val rgb = img.getRGB(x, y)
    (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) + 114 * (rgb & 0xff)) / 1000
  }

  /** ImageIO-decoded perceptual hash: [[PHashBits]] grayscale samples on a
    * fixed 10×6 grid (nearest-neighbor over the full image — the size
    * normalization a real pHash needs: any clean upscale of the same image
    * samples the same source pixels), thresholded against their own mean
    * with integer cross-multiplication, folded to one 60-bit long —
    * band-compatible with [[graft.ops.Dedup.simHashPairs]] unchanged. */
  private[graft] def pHashImage(img: java.awt.image.BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    val s = Array.tabulate(PHashBits) { i =>
      gray(img, (w - 1) * (i % 10) / 9, (h - 1) * (i / 10) / 5)
    }
    val sum = s.sum
    var sig = 0L; var i = 0
    while (i < PHashBits) { if (s(i) * PHashBits > sum) sig |= 1L << i; i += 1 }
    sig
  }

  /** Per-strip mean grayscale features of a decoded image: `dim` vertical
    * strips, integer-summed luma per strip, scaled to [0,1]. O(w·h) per
    * image — the full-decode cost a real feature extractor pays anyway. */
  private[graft] def imageFeatures(img: java.awt.image.BufferedImage, dim: Int): Array[Float] = {
    val (w, h) = (img.getWidth, img.getHeight)
    Array.tabulate(dim) { d =>
      val x0 = (w.toLong * d / dim).toInt
      val x1 = math.max((w.toLong * (d + 1) / dim).toInt, x0 + 1)
      var s = 0L; var n = 0L; var x = x0
      while (x < x1 && x < w) {
        var y = 0
        while (y < h) { s += gray(img, x, y); y += 1; n += 1 }
        x += 1
      }
      (s.toDouble / n / 255.0).toFloat
    }
  }

  /** The byte-level fallback of [[pHash60Images]]: [[pHash60]]'s kernel
    * ([[graft.functions.PHashExpression.pHash60Of]]) over the payload's
    * UTF-8 bytes, so the image path and the opaque-byte path share one
    * operator and one sampling rule (code points of the `cropBytes`
    * prefix). PipelineSpec pins it bit-equal to the expression form. */
  private[graft] def pHashBytesFallback(bytes: Array[Byte], cropBytes: Int): Option[Long] =
    Some(graft.functions.PHashExpression.pHash60Of(
      org.apache.spark.unsafe.types.UTF8String.fromBytes(bytes), cropBytes)).filter(_ >= 0)

  /** Perceptual hashes over a MIXED media column: payloads that decode as
    * real images (PNG/JPEG/GIF/BMP via javax.imageio) get the
    * grayscale-grid [[pHashImage]]; everything else falls back to the
    * byte-level rule of [[pHash60]] (or drops when shorter than
    * `cropBytes`). One `mapPartitions` pass — the per-partition codec-init
    * shape — over the widened payload stream; zero exchange at any corpus
    * size. Output (id, phash), band-compatible with simHashPairs. */
  def pHash60Images(df0: DataFrame, cropBytes: Int = 120): DataFrame = {
    require(cropBytes >= PHashBits, s"cropBytes=$cropBytes must be >= $PHashBits")
    val df = graft.core.Par.widen(df0)
    val outSchema = StructType(Seq(
      StructField("id", LongType), StructField("phash", LongType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.select(col("media_id"), col("media"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val bytes = r.getAs[Array[Byte]]("media")
          val sig = readImage(bytes) match {
            case Some(img) => Some(pHashImage(img))
            case None => pHashBytesFallback(bytes, cropBytes)
          }
          sig.map(Row(r.getLong(0), _))
        }
      }(enc)
  }

  /** Per-media feature extraction: one `mapPartitions` pass so the decoder
    * amortizes per-partition init (model load, codec context) across the
    * whole batch — the standard shape for expensive per-row UDF work.
    * Since round 16 the decode is REAL for image payloads: PNG/JPEG/GIF/BMP
    * bytes go through javax.imageio → [[imageFeatures]] (per-strip mean
    * luma); only non-image payloads (audio/video formats the JDK lacks
    * codecs for, and the text-byte test corpus) use [[decodeStub]]. Output:
    * (media_id, features array<float>). */
  def extractFeatures(df0: DataFrame, dim: Int = 8): DataFrame = {
    val df = graft.core.Par.widen(df0)
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("features", ArrayType(FloatType, containsNull = false))))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.select(col("media_id"), col("media"))
      .mapPartitions { rows =>
        // per-partition init would go here (codec/model handle)
        rows.map { r =>
          val bytes = r.getAs[Array[Byte]]("media")
          val feats = readImage(bytes) match {
            case Some(img) => imageFeatures(img, dim)
            case None => decodeStub(bytes, dim)
          }
          Row(r.getLong(0), feats.toSeq)
        }
      }(enc)
  }

  /** Perceptual-hash width: 60 bits = [[graft.ops.Dedup.SimHashBits]], so
    * the banded Hamming pair machinery (`Dedup.simHashPairs`) applies to
    * pHash fingerprints unchanged. */
  val PHashBits = 60

  /** Perceptual-hash fingerprint per media payload — the image near-dup
    * signature. A REAL pHash decodes the image, downsamples to a tiny
    * grayscale grid, and thresholds DCT coefficients against their median;
    * this container has no codecs, so the DECODE step is the deterministic
    * byte-level stand-in: [[PHashBits]] evenly spaced payload bytes play
    * the pixel grid, thresholded against their own mean. The thresholding,
    * bit assembly, and downstream banding/pairing — the Spark-side
    * plumbing a real codec would plug into — are real and oracle-verified.
    *
    * A real pHash NORMALIZES SIZE first (resize to a fixed grid) so that
    * trailing edits don't shift every downstream pixel; the byte-level
    * stand-in for that normalization is a fixed `cropBytes` prefix window —
    * two payloads sharing their first `cropBytes` bytes hash identically
    * however their tails differ, which is what makes near-dup PAIRS exist
    * at small Hamming distance (length-relative sampling would shift all
    * 60 positions on any length change and push every near-dup past the
    * band threshold).
    *
    * Engine-portable by construction: samples are code points via ascii()
    * over the UTF-8 decode (on the pure-ASCII test corpus, the byte values
    * — the m107 contract), the mean compare is integer cross-multiplication
    * (`s_i · nBits > Σs` — no float division to round differently), and the
    * fold is shiftleft/bitwiseOR (ANSI-safe). Pure projection over the
    * payload stream — ZERO exchange at any corpus size.
    *
    * Payloads shorter than `cropBytes` are dropped (a real pHash can't
    * grid a sub-minimum image either). Returns (id, phash).
    *
    * Implementation is the codegen'd [[graft.functions.PHashExpression]]
    * tight loop: the original 60-term unrolled Column tree put the
    * generated source in the Janino-dominated size class (the PqDistTable
    * lesson), re-paid per fresh plan and per join side — m141 evaluates a
    * pHash per FRAME on both sides of its pair join and dropped 6.4 s →
    * ~1 s at sf0.1 with the expression. [[pHash60Unrolled]] keeps the
    * Column form as the documented equivalence partner (spec-pinned
    * bit-for-bit equal; it IS the oracle SQL's shape). */
  def pHash60(df: DataFrame, cropBytes: Int = 120): DataFrame = {
    require(cropBytes >= PHashBits, s"cropBytes=$cropBytes must be >= $PHashBits")
    df.select(col("media_id").as("id"),
        graft.functions.PHashExpression.pHash60Native(df.sparkSession,
          col("media").cast("string"), cropBytes).as("phash"))
      .filter(col("phash").isNotNull)
  }

  /** The unrolled Column formulation of [[pHash60]] — kept as the
    * documented equivalence partner of the codegen'd expression (and the
    * shape the SQL oracle replays); PipelineSpec pins the two equal. */
  private[graft] def pHash60Unrolled(df: DataFrame, cropBytes: Int = 120): DataFrame = {
    val n = PHashBits
    require(cropBytes >= n, s"cropBytes=$cropBytes must be >= $n")
    val base = df
      .withColumn("__t", col("media").cast("string"))
      .filter(length(col("__t")) >= cropBytes)
    // evenly spaced 1-based positions inside the crop window (integer div)
    val withSamples = base.withColumn("__smp", array((0 until n).map { i =>
      ascii(expr(s"substr(__t, ${(cropBytes - 1) * i / (n - 1) + 1}, 1)"))
    }: _*))
      .withColumn("__sum", aggregate(col("__smp"), lit(0), (acc, x) => acc + x))
    val sig = (0 until n).map { i =>
      when(element_at(col("__smp"), i + 1) * lit(n) > col("__sum"),
        shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    withSamples.select(col("media_id").as("id"), sig.as("phash"))
  }

  /** Frame sampling: split a media payload into `n` evenly-spaced fixed-size
    * chunks ("frames") — pure expression-level byte slicing, no UDF. Output
    * one row per (media_id, frame_idx, frame bytes). */
  def frameSample(df: DataFrame, n: Int, frameBytes: Int = 16): DataFrame = {
    val total = length(col("media"))
    val frames = array((0 until n).map { i =>
      val off = (total - frameBytes).cast("double") * lit(i) / lit(math.max(n - 1, 1))
      struct(lit(i).as("frame_idx"),
        substring(col("media"), greatest(off.cast("int") + 1, lit(1)), lit(frameBytes)).as("frame"))
    }: _*)
    df.select(col("media_id"), explode(frames).as("f"))
      .select(col("media_id"), col("f.frame_idx"), col("f.frame"))
  }

  /** Cross-video duplicate-FRAME detection: videos sharing near-identical
    * frames, found at frame granularity — the multimodal dedup step that
    * catches re-edits, clips, and intros that whole-file hashing
    * ([[pHash60]] over the full payload, m113) misses because the
    * surrounding bytes differ. Composes the proven stages: [[frameSample]]
    * (n evenly-spaced frames per video) → per-frame [[pHash60]] → the
    * banded-Hamming pair machinery ([[graft.ops.Dedup.simHashPairs]] —
    * bucketed candidates, never all-pairs) → video-pair aggregation,
    * excluding same-video matches.
    *
    * Frame identity is the composite id `media_id · nFrames + frame_idx`,
    * so the pair stage needs no struct keys and the video is recovered by
    * integer division. Requires `frameBytes ≥ 60` (the pHash grid width).
    * Returns (video_a, video_b, n_frame_pairs), video_a < video_b. */
  def frameNearDup(df: DataFrame, nFrames: Int = 4, frameBytes: Int = 64,
                   maxDist: Int = 2): DataFrame = {
    require(frameBytes >= PHashBits, s"frameBytes=$frameBytes must be >= $PHashBits")
    val frames = frameSample(df, nFrames, frameBytes)
      .select((col("media_id") * nFrames + col("frame_idx")).as("media_id"),
        col("frame").as("media"))
    val sigs = pHash60(frames, cropBytes = frameBytes)
      .select(col("id"), col("phash").as("simhash"))
    graft.ops.Dedup.simHashPairs(sigs, maxDist = maxDist)
      .select(expr(s"id_a div $nFrames").as("video_a"),
        expr(s"id_b div $nFrames").as("video_b"))
      .filter(col("video_a") =!= col("video_b"))
      .groupBy(col("video_a"), col("video_b"))
      .agg(count(lit(1)).as("n_frame_pairs"))
  }
}
