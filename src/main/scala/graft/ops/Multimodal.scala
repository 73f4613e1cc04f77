package graft.ops

import java.awt.image.BufferedImage
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, processed per partition in batches.
  *
  * The Spark-side machinery here is real and tested — schema, partitioning,
  * batch shape, deterministic outputs. The actual codec work (JPEG decode,
  * resampling, frame extraction) is STUBBED with deterministic fakes
  * (`DecodeStub`): this container has no image/audio libraries, so the stub
  * derives pixel/sample features from a stable hash of the bytes. Swapping
  * in a real decoder is a drop-in replacement of `DecodeStub` — the
  * dataflow (mapPartitions over batches, Iterator-in/Iterator-out, no
  * driver collection) is exactly what a JNI/FFI decoder needs at 100 TB.
  */
object Multimodal {

  /** Typed metadata struct carried beside the opaque payload. */
  val MediaMetaType: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType)))

  val MediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("content", BinaryType),
    StructField("meta", MediaMetaType)))

  /** Wrap a (id, string payload) frame into the media schema — payload
    * bytes become the opaque binary column; metadata is synthesized
    * deterministically. Stands in for a real binary-file source. */
  def asMedia(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      col(payloadCol).cast("binary").as("content"),
      struct(
        lit("fake/raw").as("format"),
        (length(col(payloadCol)) % 640).cast("int").as("width"),
        (length(col(payloadCol)) % 480).cast("int").as("height"),
        (length(col(payloadCol)) % 16 + 1).cast("int").as("n_frames"))
        .as("meta"))

  /** STUB decoder for non-image payloads (the DuckDB-checked fixtures use
    * text bytes): derives `dim` feature doubles from a stable byte hash —
    * deterministic, so the plumbing is testable end-to-end against an
    * oracle that mirrors the same hash. */
  object DecodeStub extends Serializable {
    def features(content: Array[Byte], dim: Int): Array[Double] = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(if (content == null) Array.emptyByteArray else content)
      Array.tabulate(dim) { i =>
        val b = java.util.Arrays.copyOfRange(md, (i * 4) % 12, (i * 4) % 12 + 4)
        (java.nio.ByteBuffer.wrap(b).getInt.toLong & 0xffffffffL).toDouble /
          4294967295.0
      }
    }
  }

  /** REAL image decoder — JDK `javax.imageio`, no new dependency. Parses
    * JPEG/PNG/GIF/BMP bytes; features are mean luminance (0–1) over a
    * `dim`-cell vertical band partition of the image — deterministic, and
    * executor-local (each task decodes only its partition's rows; nothing
    * is collected). Unrecognized payloads (`ImageIO.read` → null) fall back
    * to [[DecodeStub]], which keeps the text-byte oracle fixtures on the
    * hash path while real images get real pixels. */
  object ImageIoDecoder extends Serializable {
    import java.awt.image.BufferedImage

    // ImageIO's default ImageInputStream is DISK-cached: every read/sniff
    // creates (and deletes) a temp file. At corpus scale that is one temp
    // file per row across every executor thread — measured super-linear
    // (q28 hit exponent 1.22 at the 100x rehearsal from filesystem churn
    // alone). Memory-backed streams remove the filesystem from the path.
    javax.imageio.ImageIO.setUseCache(false)

    /** O(1) magic-byte check for the formats [[decode]] can parse —
      * non-image payloads (the overwhelming majority of a mixed corpus)
      * skip ImageIO reader discovery entirely. */
    private def looksLikeImage(b: Array[Byte]): Boolean =
      b.length >= 4 && (
        (b(0) == 0xFF.toByte && b(1) == 0xD8.toByte) || // JPEG
        (b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' &&
          b(3) == 'G') ||                               // PNG
        (b(0) == 'G' && b(1) == 'I' && b(2) == 'F') ||  // GIF
        (b(0) == 'B' && b(1) == 'M'))                   // BMP

    def decode(content: Array[Byte]): Option[BufferedImage] =
      if (content == null || content.isEmpty ||
          !looksLikeImage(content)) None
      else try {
        Option(javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(content)))
      } catch { case scala.util.control.NonFatal(_) => None }

    /** format/width/height sniffed from the payload header, or None for a
      * non-image (caller keeps its synthetic metadata). Reads only the
      * header via the registered `ImageReader`, not the full raster. */
    def meta(content: Array[Byte]): Option[(String, Int, Int)] =
      if (content == null || content.isEmpty ||
          !looksLikeImage(content)) None
      else try {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(content))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) None
          else {
            val r = readers.next()
            try { r.setInput(iis); Some((r.getFormatName.toLowerCase,
              r.getWidth(0), r.getHeight(0))) }
            finally r.dispose()
          }
        } finally iis.close()
      } catch { case scala.util.control.NonFatal(_) => None }

    def features(img: BufferedImage, dim: Int): Array[Double] = {
      val w = img.getWidth; val h = img.getHeight
      val sums = new Array[Double](dim)
      val counts = new Array[Long](dim)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val lum = (0.299 * ((rgb >> 16) & 0xff) +
            0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)) / 255.0
          val cell = math.min(dim - 1, x * dim / w)
          sums(cell) += lum; counts(cell) += 1
          x += 1
        }
        y += 1
      }
      Array.tabulate(dim)(i => if (counts(i) == 0) 0.0 else sums(i) / counts(i))
    }
  }

  /** Decoder seam used by [[extractFeatures]]: real imageio decode when the
    * payload is a parseable image, deterministic hash fake otherwise. */
  def decodeFeatures(content: Array[Byte], dim: Int): Array[Double] =
    ImageIoDecoder.decode(content) match {
      case Some(img) => ImageIoDecoder.features(img, dim)
      case None => DecodeStub.features(content, dim)
    }

  /** Upgrade synthetic metadata with real sniffed format/width/height for
    * payloads that parse as images (header-only read — no raster decode).
    * Per-partition, iterator-shaped; non-images keep their metadata. */
  def sniffMeta(media: DataFrame): DataFrame = {
    val schema = media.schema
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val metaIx = schema.fieldIndex("meta")
    val contentIx = schema.fieldIndex("content")
    media.mapPartitions { rows =>
      rows.map { r =>
        ImageIoDecoder.meta(r.getAs[Array[Byte]](contentIx)) match {
          case Some((fmt, w, h)) =>
            val old = r.getStruct(metaIx)
            val vals = r.toSeq.updated(metaIx,
              Row(fmt, w, h, old.getInt(3)))
            Row.fromSeq(vals)
          case None => r
        }
      }
    }(enc)
  }

  private val featureSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("features", ArrayType(DoubleType, containsNull = false))))

  /** Feature extraction: batched per-partition decode — the Scala analog
    * of a Pandas-UDF `mapInPandas` stage. Iterator-in/iterator-out, so
    * Spark streams batches through without materializing a partition. */
  def extractFeatures(media: DataFrame, dim: Int = 8): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(featureSchema)
    media.select("media_id", "content").mapPartitions { rows =>
      rows.grouped(64).flatMap { batch => // batch shape: 64 rows per call
        batch.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          Row(id, decodeFeatures(bytes, dim).toSeq)
        }
      }
    }(enc)
  }

  /** Deterministic frame sampling plan: choose `n` frame indices evenly
    * from meta.n_frames (the decode of those frames is the stubbed part).
    * Pure Column math — runs at the scan. */
  def sampleFrameIndices(media: DataFrame, n: Int): DataFrame =
    media.select(col("media_id"), col("meta.n_frames").as("n_frames"))
      .withColumn("frame_idx",
        when(col("n_frames") >= n,
          transform(sequence(lit(0), lit(n - 1)),
            i => (i * col("n_frames") / n).cast("int")))
          .otherwise(sequence(lit(0), col("n_frames") - 1).cast("array<int>")))

  /** "Resize" stub: recompute metadata for a target box, preserving aspect
    * ratio via integer math; the pixel work is the stubbed decode. */
  def resizePlan(media: DataFrame, maxW: Int, maxH: Int): DataFrame =
    media.withColumn("resized_meta",
      struct(
        col("meta.format").as("format"),
        least(col("meta.width"), lit(maxW)).as("width"),
        least(col("meta.height"), lit(maxH)).as("height"),
        col("meta.n_frames").as("n_frames")))

  // ---- Perceptual hashing (image near-dup) ----

  /** dHash gradient grid: 8 horizontal compares per row × 7 rows = 56
    * bits — deliberately INSIDE a non-negative SQL BIGINT (the
    * textbook 8×8/64-bit form puts bit 63 in the sign, which a
    * cross-engine oracle cannot rebuild with integer sums). */
  val PHashGridW = 8
  val PHashGridH = 7
  val PHashBits: Int = PHashGridW * PHashGridH

  /** Difference hash (dHash — Krawetz, "Kind of Like That",
    * hackerfactor 2013; the standard cheap perceptual image hash):
    * area-average the luminance onto a (gridW+1)×gridH grid, set bit
    * y·8+x when the right cell is brighter than the left. Robust to
    * rescaling/re-encoding, flips few bits under local edits — exactly
    * the near-dup key an image-text corpus needs. A source already at
    * 9×7 maps 1:1 onto the grid (no resample), which is what lets the
    * DuckDB oracle replay the hash from a pixel formula alone. */
  def dHashOf(img: BufferedImage): Long = {
    val cw = PHashGridW + 1
    val ch = PHashGridH
    val w = img.getWidth; val h = img.getHeight
    val sums = new Array[Double](cw * ch)
    val counts = new Array[Long](cw * ch)
    var y = 0
    while (y < h) {
      val cy = math.min(ch - 1, y * ch / h)
      var x = 0
      while (x < w) {
        val cx = math.min(cw - 1, x * cw / w)
        val rgb = img.getRGB(x, y)
        val lum = 0.299 * ((rgb >> 16) & 0xff) +
          0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
        sums(cy * cw + cx) += lum; counts(cy * cw + cx) += 1
        x += 1
      }
      y += 1
    }
    def cell(cx: Int, cy: Int): Double = {
      val i = cy * cw + cx
      if (counts(i) == 0) 0.0 else sums(i) / counts(i)
    }
    var bits = 0L
    var cy = 0
    while (cy < ch) {
      var cx = 0
      while (cx < PHashGridW) {
        if (cell(cx + 1, cy) > cell(cx, cy))
          bits |= 1L << (cy * PHashGridW + cx)
        cx += 1
      }
      cy += 1
    }
    bits
  }

  /** Stub fingerprint for payloads that do not decode as images: the
    * first 56 bits of md5(content) — deterministic and replayed by
    * `('0x' || substr(md5(content), 1, 14))::BIGINT` in DuckDB, the
    * [[DecodeStub]] contract for hashes. */
  def stubHash(content: Array[Byte]): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(if (content == null) Array.emptyByteArray else content)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (md(i) & 0xffL); i += 1 }
    v
  }

  private val phashSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("phash", LongType)))

  /** (media_id, phash) fingerprints: real dHash when the payload
    * decodes as an image, [[stubHash]] otherwise — per-partition
    * batched decode, the [[extractFeatures]] shape. */
  def perceptualHash(media: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(phashSchema)
    media.select("media_id", "content").mapPartitions { rows =>
      rows.grouped(64).flatMap { batch =>
        batch.map { r =>
          val bytes = r.getAs[Array[Byte]](1)
          val h = ImageIoDecoder.decode(bytes) match {
            case Some(img) => dHashOf(img)
            case None => stubHash(bytes)
          }
          Row(r.getLong(0), h)
        }
      }
    }(enc)
  }

  /** Image near-duplicate pairs: [[perceptualHash]] fingerprints into
    * the pigeonhole-banded hamming join
    * ([[graft.ops.Dedup.hammingNearDup]]) — the text corpus's banded
    * dedup story applied to an image-text corpus. Decode cost is one
    * linear scan; the pair work is chunk-key equi-joins with
    * COMPLETE recall inside the radius. Output: (id_a, id_b, min
    * hamming) per id pair. */
  def mediaNearDup(media: DataFrame, maxHamming: Int = 3): DataFrame =
    Dedup.hammingNearDup(perceptualHash(media), "media_id", "phash",
      PHashBits, maxHamming)

  /** The persistable chunk-signature frame of a MEDIA corpus — the
    * q246 simhash-store pattern applied to perceptual hashes, and the
    * face that makes image ingest incremental: DECODE is the
    * expensive step for images (one full raster pass per row), and
    * [[mediaNearDup]] re-decodes the whole corpus per call. Write
    * this frame once (`.write.partitionBy("chunk").parquet(store)`),
    * append each absorbed delta's chunks, and feed it to
    * [[mediaNearDupBetween]] — per-batch decode cost then scales
    * with the DELTA. Self-sufficient: the fingerprint rides with its
    * chunks, so the cross-frame verify never touches reference
    * pixels. */
  def mediaChunkSignatures(media: DataFrame, maxHamming: Int = 3)
      : DataFrame =
    Dedup.hammingChunkSignatures(perceptualHash(media), "media_id",
      "phash", PHashBits, maxHamming)

  /** Incremental cross-frame image near-dup: an incoming media shard
    * against a PRECOMPUTED [[mediaChunkSignatures]] store — only the
    * delta's payloads are decoded (PlanSpec-pinned: the plan's one
    * decode `mapPartitions` is the delta's); candidates meet on the
    * pigeonhole (chunk, key) equi-join with EXACT recall inside the
    * radius, and the hamming verify reads the store's fingerprint.
    * Output: (new_id, ref_id, min hamming) per id pair. */
  def mediaNearDupBetween(newMedia: DataFrame, refChunks: DataFrame,
      maxHamming: Int = 3): DataFrame =
    Dedup.hammingNearDupBetweenPrecomputed(perceptualHash(newMedia),
      refChunks, "media_id", "phash", PHashBits, maxHamming)

  /** Deterministic 24-bit BMP encoder (bottom-up rows, 4-byte row
    * padding — the uncompressed format JDK ImageIO always parses) for
    * fixtures and specs: grayscale value v(x, y) in [0, 255] per
    * pixel. 9×7 output decodes 1:1 onto the [[dHashOf]] grid. */
  def grayBmp(w: Int, h: Int, v: (Int, Int) => Int): Array[Byte] = {
    val rowBytes = (w * 3 + 3) / 4 * 4
    val size = 54 + rowBytes * h
    val b = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(size)
      .putShort(0).putShort(0).putInt(54)
    b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(rowBytes * h).putInt(2835).putInt(2835)
      .putInt(0).putInt(0)
    var y = h - 1
    while (y >= 0) { // bottom-up storage: decoded row y == formula y
      var x = 0
      while (x < w) {
        val g = (v(x, y) & 0xff).toByte
        b.put(g).put(g).put(g)
        x += 1
      }
      var pad = rowBytes - w * 3
      while (pad > 0) { b.put(0.toByte); pad -= 1 }
      y -= 1
    }
    b.array()
  }

  /** Planted-near-dup 9×7 image fixture for the q247 oracle: the base
    * pattern depends on id % 100, ids >= 100 perturb ONE pixel of
    * their id−100 sibling — at most two dHash gradient bits flip, so
    * the sibling pair sits within hamming 2 while distinct bases
    * differ almost everywhere. Grayscale pixels (r=g=b) make the
    * luminance compare monotonic in the formula value, so the DuckDB
    * oracle replays the hash from THIS formula without decoding
    * anything. */
  def fixtureBmp(id: Long): Array[Byte] = {
    val base = (id % 100).toInt
    // the x-stride depends on the BASE (not a constant): a constant
    // stride gives every base the same gradient-sign pattern — dHash
    // (by design!) collides images that differ only by a brightness
    // shift, which is what b*31 alone is
    grayBmp(PHashGridW + 1, PHashGridH, (x, y) => {
      val v = (base * 31 + x * (17 + base % 13 * 29) + y * 13) % 251
      if (id >= 100 && x == base % 9 && y == base % 7) (v + 3) % 251
      else v
    })
  }
}
