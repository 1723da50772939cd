package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing (builder brief): image/audio/video as opaque
  * `BINARY` columns with typed metadata, batch-shaped decode / feature /
  * frame-sample operators.
  *
  * The decode step itself is STUBBED (no image/audio codecs in this
  * container): [[FakeDecoder]] is a deterministic stand-in with the real
  * Spark-side contract — schema, batched `mapPartitions` execution (the
  * Scala analog of `mapInPandas`: per-partition iterator processed in
  * fixed-size batches, so a real vectorized decoder drops in without plan
  * changes), and per-kind dispatch. Partitioning guidance: media tables
  * should be written bucketed/partitioned by `kind` so per-kind decode
  * stages prune at the scan.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image | audio | video
    StructField("bytes", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true),
      StructField("codec", StringType, nullable = true)
    )), nullable = true)
  ))

  /** Wrap a text table as fake media rows (fixtures ship no binary media;
    * text bytes stand in — the plumbing is identical).
    */
  def fromDocuments(docs: DataFrame, kind: String = "image"): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      lit(kind).as("kind"),
      col("text").cast("binary").as("bytes"),
      struct(
        length(col("text")).as("width"),
        lit(1).as("height"),
        (length(col("text")).cast("long") * 10L).as("duration_ms"),
        lit("fake").as("codec")
      ).as("meta"))

  /** Batch decode → fixed-size feature vector. Runs as `mapPartitions`
    * over `batchSize`-row groups (the Arrow-batch shape). `decoder` picks
    * the bytes→features binding: [[ImageIoDecoder]] (real pixels via the
    * JDK's `javax.imageio` — PNG/JPEG/BMP/GIF, zero extra jars) or
    * [[FakeDecoder]] (the deterministic stand-in the oracled queries pin,
    * and the fallback shape for codecs the JDK cannot read).
    */
  def decodeFeatures(media: DataFrame, dims: Int = 8,
      batchSize: Int = 64, decoder: MediaDecoder = FakeDecoder): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("features", ArrayType(FloatType), nullable = true)))
    val enc = RowEncoder.encoderFor(outSchema)
    media.select("media_id", "kind", "bytes").mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // A vectorized library would take `batch` whole; per-row decode is
        // the JDK binding's granularity.
        batch.iterator.map { r =>
          val bytes = r.getAs[Array[Byte]]("bytes")
          Row(r.getAs[Long]("media_id"), r.getAs[String]("kind"),
            decoder.features(bytes, dims))
        }
      }
    }(enc)
  }

  /** Frame sampling for video: n evenly spaced offsets into the payload,
    * one row per sampled frame — pure column algebra, no UDF.
    */
  def sampleFrames(media: DataFrame, nFrames: Int = 4): DataFrame =
    media
      .withColumn("n_bytes", length(col("bytes")).cast("long"))
      .where(col("n_bytes") > 0)
      .select(
        col("media_id"),
        posexplode(transform(sequence(lit(0), lit(nFrames - 1)),
          i => floor(i.cast("long") * col("n_bytes") / nFrames).cast("long")))
          .as(Seq("frame_idx", "byte_offset")))
      .withColumn("frame_idx", col("frame_idx").cast("long"))

  /** "Resize": metadata-only transform rewriting the target dims — stands
    * in for an image resize whose Spark-side contract is a projection.
    */
  def resizeMeta(media: DataFrame, w: Int, h: Int): DataFrame =
    media.withColumn("meta",
      struct(lit(w).as("width"), lit(h).as("height"),
        col("meta.duration_ms").as("duration_ms"), col("meta.codec").as("codec")))

  // ------------------------------------------------ perceptual-hash dedup

  /** Difference-hash (dHash) over the decoded feature vector: bit i is the
    * sign of the gradient `features[i+1] > features[i]` — the standard
    * perceptual image fingerprint, which survives brightness/scale shifts
    * that break exact byte hashes. With `dims` = 64 features this packs 63
    * comparisons into a positive 64-bit signature (bit 63 stays clear:
    * both engines then agree without signed-shift edge cases).
    *
    * The feature source is [[decodeFeatures]] — a real image decoder drops
    * into that seam and this column does not change; the bit-pack itself
    * is pure codegen algebra over the feature array.
    */
  def dHash(media: DataFrame, dims: Int = 64,
      decoder: MediaDecoder = FakeDecoder): DataFrame = {
    require(dims >= 2 && dims <= 64, s"dHash: dims $dims outside [2, 64]")
    decodeFeatures(media, dims, decoder = decoder)
      .withColumn("phash",
        aggregate(
          transform(sequence(lit(0), lit(dims - 2)),
            i => when(
              call_function("element_at", col("features"), i + lit(2)) >
                call_function("element_at", col("features"), i + lit(1)),
              call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
          lit(0L), (acc, b) => acc.bitwiseOR(b)))
      .drop("features")
  }

  /** Near-duplicate media pairs: [[dHash]] signatures within `maxHamming`
    * bits, found with the shared band join ([[graft.ops.Dedup.hammingPairs]]
    * — bucketed, hot-bucket-guarded, never all-pairs). The image analog of
    * document SimHash dedup, sharing its machinery and its guarantees.
    */
  def phashPairs(
      media: DataFrame,
      maxHamming: Int = 3,
      dims: Int = 64,
      maxBucketSize: Long = 1L << 20,
      decoder: MediaDecoder = FakeDecoder): DataFrame =
    graft.ops.Dedup.hammingPairs(
      dHash(media, dims, decoder).where(col("phash").isNotNull),
      "media_id", "phash", maxHamming, maxBucketSize)

  // --------------------------------------------------------- video (AVI)

  /** Frames per video, extracted by the REAL container walk
    * ([[AviVideo.decode]] via the `avi_frames` expression — scan-stage
    * byte work, no offset stub): `(media_id, frame_idx, frame_bytes)`
    * in file order. Pixel decoding of the payloads stays behind the
    * [[MediaDecoder]] seam, the cheap-walk / expensive-decode split a
    * 100 TB media table needs.
    */
  def videoFrames(media: DataFrame): DataFrame =
    media.select(col("media_id"),
      posexplode(graft.functions.VideoExpressions.aviFrames(col("bytes")))
        .as(Seq("frame_idx", "frame_bytes")))
      .withColumn("frame_idx", col("frame_idx").cast("long"))

  private val MaxVideoFrames = 1L << 20

  /** Per-frame perceptual signatures: `(media_id, frame_idx, phash)` —
    * each extracted frame rides the SAME decode→[[dHash]] pipeline as
    * still images (one composite key through the decoder seam, split
    * back after), so the image and video arms cannot drift.
    */
  def videoFrameHashes(
      media: DataFrame,
      dims: Int = 64,
      decoder: MediaDecoder = FakeDecoder): DataFrame = {
    // composite-key bounds enforced loudly (the tombstone-cap stance):
    // silently aliasing frame 2^20 of video N onto video N+1 would
    // corrupt attribution with no error
    val keyed = videoFrames(media)
      .select(
        when(col("frame_idx") < lit(MaxVideoFrames) &&
            col("media_id").between(0L, Long.MaxValue / MaxVideoFrames - 1),
          col("media_id") * MaxVideoFrames + col("frame_idx"))
          .otherwise(raise_error(concat(
            lit("videoFrameHashes: composite-key bounds exceeded " +
              "(frame_idx < 2^20, media_id in [0, 2^43)): media_id="),
            col("media_id"), lit(" frame_idx="), col("frame_idx"))))
          .as("media_id"),
        lit("image").as("kind"), col("frame_bytes").as("bytes"))
    dHash(keyed, dims, decoder).where(col("phash").isNotNull)
      .select(floor(col("media_id") / MaxVideoFrames).cast("long").as("media_id"),
        pmod(col("media_id"), lit(MaxVideoFrames)).as("frame_idx"),
        col("phash"))
  }

  /** Near-duplicate VIDEO pairs — the shot-aligned dedup law: two videos
    * pair when at least `minMatching` aligned frames (same `frame_idx`)
    * have dHashes within `maxHamming` bits. Candidates come from the
    * shared pigeonhole banding ([[graft.ops.Dedup.hammingBanded]]) with
    * `frame_idx` IN the band key — so a frame only ever joins its
    * aligned counterparts, never every frame of the corpus — and the
    * per-bucket guard bounds degenerate hashes (black frames, test
    * cards) exactly like document SimHash. Returns
    * `(id_a, id_b, n_matching)`.
    */
  def videoNearDupPairs(
      media: DataFrame,
      minMatching: Int = 3,
      maxHamming: Int = 3,
      dims: Int = 64,
      maxBucketSize: Long = 1L << 20,
      decoder: MediaDecoder = FakeDecoder): DataFrame = {
    require(minMatching >= 1, s"videoNearDupPairs: minMatching must be >= 1")
    // band on the composite (video, frame) key, decompose after — keeps
    // frame_idx attached without a self-join (two same-hash frames of
    // one video must not cross-multiply)
    val comp = videoFrameHashes(media, dims, decoder)
      .select((col("media_id") * MaxVideoFrames + col("frame_idx")).as("fid"),
        col("phash"))
    val banded = graft.ops.Dedup.hammingBanded(comp, "fid", "phash", maxHamming)
      .select(floor(col("fid") / MaxVideoFrames).cast("long").as("media_id"),
        pmod(col("fid"), lit(MaxVideoFrames)).as("frame_idx"),
        col("sig"), col("band"), col("band_key"))
    val hot = banded.groupBy("frame_idx", "band", "band_key")
      .agg(count(lit(1)).as("n")).where(col("n") > maxBucketSize)
      .select("frame_idx", "band", "band_key")
    val cold = banded.join(broadcast(hot),
      Seq("frame_idx", "band", "band_key"), "left_anti")
    val a = cold.select(col("media_id").as("id_a"), col("sig").as("sig_a"),
      col("frame_idx"), col("band"), col("band_key"))
    val b = cold.select(col("media_id").as("id_b"), col("sig").as("sig_b"),
      col("frame_idx"), col("band"), col("band_key"))
    a.join(b, Seq("frame_idx", "band", "band_key"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("frame_idx"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long").as("hamming"))
      .distinct() // a frame pair found via several bands counts once
      .where(col("hamming") <= maxHamming)
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_matching"))
      .where(col("n_matching") >= minMatching)
      .orderBy("id_a", "id_b")
  }
}

/** Deterministic real-PNG synthesis — fixture material for the
  * [[ImageIoDecoder]] path (this container ships no image files, so the
  * oracled real-decode query generates its own): per-8×8-block seeded
  * luminance (structure that survives dHash cell pooling) plus a mild
  * per-pixel perturbation, encoded through the JDK PNG writer. Same seed
  * ⇒ same scene; `brighten` gives near-duplicate variants of it.
  */
object SyntheticImages {
  def png(seed: Int, brighten: Int = 0, w: Int = 64, h: Int = 64): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    def blockLum(bx: Int, by: Int): Int =
      new scala.util.Random(seed * 1000003 + by * 97 + bx).nextInt(220)
    val rnd = new scala.util.Random(seed)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = math.min(255, math.max(0,
          blockLum(x / 8, y / 8) + rnd.nextInt(8) + brighten))
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }
}

/** bytes → fixed-size feature vector. Implementations must be
  * Serializable (the instance rides the task closure) and return null for
  * null/undecodable payloads — [[Multimodal.phashPairs]] filters those out
  * rather than hashing garbage.
  */
trait MediaDecoder extends Serializable {
  def features(bytes: Array[Byte], dims: Int): Array[Float]
}

/** Deterministic decode stub — the no-codec fallback and the binding the
  * oracled queries (m2/m4) pin, so their goldens stay decoder-independent.
  */
object FakeDecoder extends MediaDecoder {
  /** Feature i = mean of byte values congruent to i mod dims, scaled. */
  def features(bytes: Array[Byte], dims: Int): Array[Float] = {
    if (bytes == null) return null
    val sums = new Array[Long](dims)
    val counts = new Array[Long](dims)
    var i = 0
    while (i < bytes.length) {
      val d = i % dims
      sums(d) += bytes(i) & 0xFF
      counts(d) += 1
      i += 1
    }
    Array.tabulate(dims)(d =>
      if (counts(d) == 0) 0.0f else (sums(d).toDouble / counts(d) / 255.0).toFloat)
  }
}

/** REAL image decode via the JDK's `javax.imageio` — PNG, JPEG, BMP, GIF
  * with zero extra jars (offline-container friendly). Features are the
  * classic dHash preparation: luminance (Rec. 601) average-pooled into a
  * near-square `dims`-cell grid in [0, 1], row-major — so
  * [[Multimodal.dHash]]'s adjacent-gradient bit-pack over them IS the
  * standard perceptual difference hash. Cell pooling (not pixel sampling)
  * makes the signature stable under resize and mild brightness shifts —
  * the invariances MultimodalSpec pins on real generated images.
  *
  * Undecodable/empty payloads return null (never throw): one corrupt blob
  * in a 100 TB media table must not fail the stage. `ImageIO.read` is
  * JVM-local and thread-safe per call; `setUseCache(false)` keeps decode
  * off executor-local disk.
  */
object ImageIoDecoder extends MediaDecoder {
  javax.imageio.ImageIO.setUseCache(false)

  def features(bytes: Array[Byte], dims: Int): Array[Float] = {
    if (bytes == null || bytes.isEmpty) return null
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case _: Exception => null }
    if (img == null) return null
    val (w, h) = (img.getWidth, img.getHeight)
    if (w <= 0 || h <= 0) return null
    // near-square grid: gh rows × gw cols, row-major, first `dims` cells
    val gh = math.max(1, math.sqrt(dims.toDouble).toInt)
    val gw = (dims + gh - 1) / gh
    val sums = new Array[Double](dims)
    val counts = new Array[Long](dims)
    var y = 0
    while (y < h) {
      val cy = math.min(gh - 1, y * gh / h)
      var x = 0
      while (x < w) {
        val cx = math.min(gw - 1, x * gw / w)
        val cell = cy * gw + cx
        if (cell < dims) {
          val rgb = img.getRGB(x, y)
          val lum = 0.299 * ((rgb >> 16) & 0xFF) +
            0.587 * ((rgb >> 8) & 0xFF) + 0.114 * (rgb & 0xFF)
          sums(cell) += lum
          counts(cell) += 1
        }
        x += 1
      }
      y += 1
    }
    Array.tabulate(dims)(d =>
      if (counts(d) == 0) 0.0f else (sums(d) / counts(d) / 255.0).toFloat)
  }
}
