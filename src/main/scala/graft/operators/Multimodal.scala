package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, batch-shaped decode/feature-extract over
  * `mapPartitions`.
  *
  * Image decode is REAL: `javax.imageio` (in-JDK — PNG/BMP/GIF/JPEG,
  * no native libs) decodes the payload to pixels, and features are
  * genuine width/height/per-channel statistics. Payloads that are not
  * a decodable image (audio/video kinds, corrupt bytes, the synthetic
  * text fixtures) fall back to deterministic byte-level statistics, so
  * the same pipeline handles a mixed-modality table and the q24 oracle
  * — integer arithmetic over payload bytes — stays bit-exact.
  *
  * Scale notes: payloads stay opaque binary end-to-end (no driver
  * collect); decode is mapPartitions so per-partition init (codec
  * handles, `ImageIO.setUseCache(false)` to keep decode off local
  * disk) is amortized across the partition — the Scala analogue of
  * Arrow-batched pandas UDFs; partition size is controlled upstream by
  * `spark.sql.files.maxPartitionBytes`, which is how you keep ~100 MB
  * of media per task at 100 TB.
  */
object Multimodal {

  private[graft] val ImageMaxHamming = 3 // perceptualNearDupPairs' dHash cut (q117, q132); the 4-chunk pigeonhole bound
  private[graft] val ImageWidth = 32     // synthetic PNG row width (q114 oracle too)
  private[graft] val FrameStride = 2     // videoFrameStats keeps every FrameStride-th frame (q120 oracle too)

  /** A media file: opaque payload + typed metadata. */
  case class MediaRecord(media_id: Long, kind: String, payload: Array[Byte],
                         n_bytes: Long)

  /** Extracted features: fixed-width vector + dims metadata +
    * byte_sum (integer payload checksum — exactly reproducible by the
    * oracle, unlike the f32-accumulated feature vector). For decoded
    * images `width`/`height` are the REAL pixel dimensions, `feature`
    * carries per-channel means, and `pixel_sum` is the integer sum of
    * the blue/gray channel samples over all pixels (for a grayscale
    * image: the sum of the gray bytes — the decoded-domain integer
    * the q114 oracle checks). For everything else dims are
    * deterministic functions of the payload bytes and
    * `pixel_sum == byte_sum`.
    */
  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Long,
                           feature: Array[Float], width: Int, height: Int,
                           byte_sum: Long, pixel_sum: Long, decoded: Boolean)

  /** One sampled frame of a "video" payload. */
  case class Frame(media_id: Long, frame_no: Int, frame_bytes: Array[Byte])

  /** Synthesize a media table from `documents` (text bytes as payload,
    * kind round-robin) — the fixture stand-in for a real binary-column
    * parquet/lance table.
    */
  def syntheticMedia(spark: SparkSession, documents: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    documents.select(
        col("doc_id").as("media_id"),
        element_at(typedlit(Seq("image", "audio", "video")),
          (col("doc_id") % 3 + 1).cast("int")).as("kind"),
        encode(col("text"), "UTF-8").as("payload"),
        // BYTE count of the payload, not the character count — the
        // two differ on non-ASCII text, and the q24 oracle (and the
        // sibling generators) count octets
        octet_length(col("text")).cast("long").as("n_bytes"))
      .as[MediaRecord]
  }

  /** Deterministic grayscale PNG per document: the text's UTF-8 bytes
    * laid out row-major into an [[ImageWidth]]×ceil(n/ImageWidth) TYPE_BYTE_GRAY
    * image (zero-padded tail, min height 1), PNG-encoded — a REAL
    * image payload whose decoded pixel content is an analytic
    * function of the text bytes, which is what lets q114 put the
    * actual ImageIO decode path under the integer oracle gate (PNG is
    * lossless, so decode must recover every byte). Fixture plumbing:
    * production tables arrive with real payloads; this is the
    * generator side of the round-trip proof.
    */
  def syntheticImages(spark: SparkSession, documents: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        ImageIO.setUseCache(false)
        it.map { case (id, text) =>
          val payload = pngOf(text)
          MediaRecord(id, "image", payload, payload.length.toLong)
        }
      }
  }

  /** Render `text`'s UTF-8 bytes as the pixels of an [[ImageWidth]]-wide
    * grayscale PNG — the deterministic codec seam shared by
    * [[syntheticImages]] and StreamBench's in-stream unique-image
    * traffic (a per-row novel payload whose dHash actually varies,
    * which a pre-rendered pool cannot provide).
    */
  private[graft] def pngOf(text: String): Array[Byte] = {
    val width = ImageWidth
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val h = math.max(1, (bytes.length + width - 1) / width)
    val img = new BufferedImage(width, h, BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var i = 0
    while (i < width * h) {
      raster.setSample(i % width, i / width, 0,
        if (i < bytes.length) bytes(i) & 0xff else 0)
      i += 1
    }
    val baos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** q114: the codec round-trip under the oracle gate. Every document
    * becomes a real PNG ([[syntheticImages]]), flows through the real
    * ImageIO decode ([[extractFeatures]]), and the DECODED-domain
    * integers — true pixel dimensions and gray-channel pixel sum —
    * are emitted per doc. The oracle computes the same values
    * analytically from the text bytes (width, ceil-division height,
    * byte sum; zero padding adds nothing), so any codec shortcut —
    * fake decode, wrong dimensions, lossy pixels — breaks the hash
    * match. `decoded` must be true for every row (asserted cheaply as
    * a 1/0 column the oracle pins to 1).
    */
  def imageRoundTrip(spark: SparkSession, documents: DataFrame): DataFrame = {
    val feats = extractFeatures(syntheticImages(spark, documents))
    feats.toDF().select(
        col("media_id").as("doc_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("pixel_sum"),
        when(col("decoded"), 1L).otherwise(0L).as("is_decoded"))
      .orderBy("doc_id")
  }

  /** Decoded audio features: frame count, format metadata, and the
    * integer sum of unsigned 8-bit samples (the decoded-domain
    * integer the q115 oracle checks).
    */
  case class AudioFeatures(media_id: Long, n_frames: Long, sample_rate: Long,
                           channels: Int, sample_sum: Long, decoded: Boolean)

  /** Deterministic WAV per document: the text's UTF-8 bytes become the
    * PCM_UNSIGNED 8-bit mono sample stream (8 kHz), wrapped in a real
    * RIFF/WAVE container by `javax.sound.sampled.AudioSystem` — the
    * audio analogue of [[syntheticImages]]. Empty docs become a
    * one-frame silence (an empty WAV data chunk is legal but
    * degenerate; one zero frame keeps every doc represented).
    */
  def syntheticWavs(spark: SparkSession, documents: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val bytes0 = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val bytes = if (bytes0.isEmpty) Array[Byte](0) else bytes0
          val fmt = new javax.sound.sampled.AudioFormat(
            javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED,
            8000f, 8, 1, 1, 8000f, false)
          val ais = new javax.sound.sampled.AudioInputStream(
            new ByteArrayInputStream(bytes), fmt, bytes.length.toLong)
          val baos = new ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
          val payload = baos.toByteArray
          MediaRecord(id, "audio", payload, payload.length.toLong)
        }
      }
  }

  /** Real WAV decode via the JDK's sampled-audio stack: parse the
    * RIFF container, read every PCM frame, and reduce to integer
    * sample statistics. mapPartitions, same batching contract as
    * [[extractFeatures]]. Non-WAV payloads yield `decoded = false`
    * with byte-level stand-ins (n_frames = payload length,
    * sample_sum = byte sum) so mixed tables stay total.
    */
  def extractAudioFeatures(media: Dataset[MediaRecord]): Dataset[AudioFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { rec =>
        try {
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new ByteArrayInputStream(rec.payload))
          val fmt = ais.getFormat
          val buf = new Array[Byte](8192)
          var sum = 0L; var n = 0L
          var read = ais.read(buf)
          while (read > 0) {
            var i = 0
            while (i < read) { sum += buf(i) & 0xff; i += 1 }
            n += read
            read = ais.read(buf)
          }
          AudioFeatures(rec.media_id, n / math.max(1, fmt.getFrameSize),
            fmt.getSampleRate.toLong, fmt.getChannels, sum, decoded = true)
        } catch {
          case _: Exception =>
            var sum = 0L; var i = 0
            while (i < rec.payload.length) { sum += rec.payload(i) & 0xff; i += 1 }
            AudioFeatures(rec.media_id, rec.payload.length.toLong, 0L, 0, sum,
              decoded = false)
        }
      }
    }
  }

  /** q115: the audio-codec round-trip under the oracle gate — every
    * document becomes a real WAV ([[syntheticWavs]]), flows through
    * the real `AudioSystem` decode, and the decoded-domain integers
    * (frame count, sample rate, channels, unsigned sample sum) are
    * emitted per doc; the oracle derives them analytically from the
    * text bytes (empty text → one zero frame).
    */
  def audioRoundTrip(spark: SparkSession, documents: DataFrame): DataFrame = {
    val feats = extractAudioFeatures(syntheticWavs(spark, documents))
    feats.toDF().select(
        col("media_id").as("doc_id"),
        col("n_frames"),
        col("sample_rate"),
        col("channels").cast("long").as("channels"),
        col("sample_sum"),
        when(col("decoded"), 1L).otherwise(0L).as("is_decoded"))
      .orderBy("doc_id")
  }

  /** Perceptual hashes of a DECODED image. */
  case class PerceptualHash(doc_id: Long, dhash: Long, ahash: Long)

  /** Integer floor-mean of each cell of a `gw`×8 grid laid over the
    * image (cell boundaries `floor(g·dim/grid)`, degenerate rows
    * widened to 1 px for images shorter than 8 rows). All-integer
    * arithmetic — sums of raw band-0 samples, one floor division per
    * cell — so an oracle can reproduce every cell exactly from the
    * source bytes. Gray images read raw samples (same rationale as
    * [[imageFeatures]]: getRGB would gamma-map them).
    */
  private def blockMeans(img: BufferedImage, gw: Int): Array[Long] = {
    val w = img.getWidth; val h = img.getHeight
    val raster = img.getRaster
    val row = new Array[Int](w)
    val out = new Array[Long](gw * 8)
    var gy = 0
    while (gy < 8) {
      val y0 = gy * h / 8
      val y1raw = (gy + 1) * h / 8
      val y1 = if (y1raw <= y0) y0 + 1 else y1raw
      var gx = 0
      while (gx < gw) {
        val x0 = gx * w / gw
        val x1raw = (gx + 1) * w / gw
        // same degenerate-cell guard as the y axis: an image narrower
        // than the grid (width < gw, e.g. a 4x4 icon off the media
        // stream) gives x1raw == x0 and the mean below divides by zero
        val x1 = if (x1raw <= x0) x0 + 1 else x1raw
        var sum = 0L
        var y = y0
        while (y < y1) {
          raster.getSamples(x0, y, x1 - x0, 1, 0, row)
          var k = 0
          while (k < x1 - x0) { sum += row(k); k += 1 }
          y += 1
        }
        out(gy * gw + gx) = sum / ((y1 - y0).toLong * (x1 - x0))
        gx += 1
      }
      gy += 1
    }
    out
  }

  /** dHash: 9×8 grid of block means, bit per horizontally adjacent
    * cell pair (1 iff right > left), MSB-first — the gradient-based
    * perceptual hash (robust to brightness shifts; block-mean
    * downsample instead of a resampling filter so the hash is an
    * exact integer function of the decoded pixels).
    */
  private[graft] def dHash64(img: BufferedImage): Long = {
    val m = blockMeans(img, 9)
    var hsh = 0L
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 8) {
        hsh = (hsh << 1) | (if (m(gy * 9 + gx + 1) > m(gy * 9 + gx)) 1L else 0L)
        gx += 1
      }
      gy += 1
    }
    hsh
  }

  /** aHash: 8×8 grid of block means, bit per cell (1 iff cell > the
    * floor-mean of the 64 cells), MSB-first.
    */
  private[graft] def aHash64(img: BufferedImage): Long = {
    val m = blockMeans(img, 8)
    var s = 0L; var i = 0
    while (i < 64) { s += m(i); i += 1 }
    val mean = s / 64
    var hsh = 0L; i = 0
    while (i < 64) { hsh = (hsh << 1) | (if (m(i) > mean) 1L else 0L); i += 1 }
    hsh
  }

  /** dHash + aHash per document image: every doc becomes a real PNG
    * ([[syntheticImages]]), flows through the real ImageIO decode, and
    * both hashes are computed from the DECODED raster — so the q117
    * oracle (which derives the same integers analytically from the
    * text bytes) certifies decode + hash together, the q114 pattern.
    * Non-decodable payloads are skipped (this is a decoded-domain op;
    * the byte-stat fallback lives in [[extractFeatures]]).
    */
  def perceptualHashes(spark: SparkSession, documents: DataFrame): Dataset[PerceptualHash] = {
    import spark.implicits._
    syntheticImages(spark, documents).mapPartitions { it =>
      it.flatMap { rec =>
        tryDecodeImage(rec.payload).map { img =>
          PerceptualHash(rec.media_id, dHash64(img), aHash64(img))
        }
      }
    }
  }

  /** q117 — image near-dup pairs: dHash per decoded image, bucketed by
    * its four 16-bit chunks (any pair within hamming ≤ 3 shares a
    * chunk — pigeonhole, the q18 machinery), paired within buckets
    * with first-shared-chunk single emission, then filtered on true
    * dHash hamming; the aHash distance rides along as a second
    * opinion. Scale: the shuffle key is the 16-bit chunk, never the
    * pair space, and each surviving pair is emitted exactly once with
    * no distinct() exchange.
    */
  def perceptualNearDupPairs(spark: SparkSession, documents: DataFrame): DataFrame = {
    import graft.functions.HashFunctions
    require(ImageMaxHamming <= 3,
      "perceptualNearDupPairs: the 4x16-bit chunk bucketing is complete " +
        "only for hamming <= 3 (pigeonhole) — a larger threshold would " +
        "silently miss qualifying pairs; widen the band scheme instead")
    // checkpoint: the PNG encode + ImageIO decode + two blockMeans
    // passes are the dominant cost, and the self-join below would
    // otherwise run the codec pipeline once per join side
    val hashed = perceptualHashes(spark, documents).toDF()
      .localCheckpoint(true)
    val buckets = hashed.select(col("doc_id"), col("dhash"), col("ahash"),
        explode(HashFunctions.simhashBands(col("dhash"))).as("bh"))
      .select(col("doc_id"), col("dhash"), col("ahash"),
        col("bh.band").as("band"), col("bh.bucket").as("bucket"))
    val l = buckets.as("l")
    val r = buckets.as("r")
    val x = col("l.dhash").bitwiseXOR(col("r.dhash"))
    def chunkEq(b: Int) =
      shiftrightunsigned(x, b * 16).bitwiseAND(lit(0xffffL)) === 0L
    val firstChunk = (0 until 4).foldRight(lit(-1)) { (b, acc) =>
      when(chunkEq(b), lit(b)).otherwise(acc)
    }
    l.join(r,
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
          col("l.doc_id") < col("r.doc_id"))
      .filter(col("l.band") === firstChunk)
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        HashFunctions.hamming64(col("l.dhash"), col("r.dhash"))
          .cast("long").as("dhash_dist"),
        HashFunctions.hamming64(col("l.ahash"), col("r.ahash"))
          .cast("long").as("ahash_dist"))
      .filter(col("dhash_dist") <= ImageMaxHamming)
  }

  /** Decode a payload as an image via the JDK's ImageIO (PNG/BMP/GIF/
    * JPEG). None for anything the registry can't parse — the caller
    * falls back to byte statistics. `setUseCache(false)` keeps ImageIO
    * from spooling through temp files on the executor's local disk.
    */
  private[graft] def tryDecodeImage(payload: Array[Byte]): Option[BufferedImage] =
    if (payload == null || payload.length < 8) None
    else try {
      ImageIO.setUseCache(false)
      Option(ImageIO.read(new ByteArrayInputStream(payload)))
    } catch { case _: Exception => None }

  /** Integer checksum of the raw payload — the oracle-reproducible
    * column, identical for decoded and fallback rows.
    */
  private def payloadByteSum(payload: Array[Byte]): Long = {
    var s = 0L; var i = 0
    while (i < payload.length) { s += payload(i) & 0xff; i += 1 }
    s
  }

  /** Real image features: pixel dimensions + per-channel means
    * (R,G,B,A in [0,1]), luminance mean (Rec.601 weights), aspect
    * ratio, log2 pixel count, decoded flag. Bulk `getRGB` row fetch —
    * one JNI-free int[] per row, not a call per pixel.
    */
  private def imageFeatures(rec: MediaRecord, img: BufferedImage): MediaFeatures = {
    val w = img.getWidth; val h = img.getHeight
    var sr = 0L; var sg = 0L; var sb = 0L; var sa = 0L
    val row = new Array[Int](w)
    if (img.getRaster.getNumBands == 1) {
      // grayscale: read RAW samples — getRGB would map the linear gray
      // color space to sRGB (sample 128 → rgb ~186), destroying the
      // byte-exactness the q114 round-trip oracle checks
      var y = 0
      while (y < h) {
        img.getRaster.getSamples(0, y, w, 1, 0, row)
        var x = 0
        while (x < w) {
          val g = row(x)
          sr += g; sg += g; sb += g; sa += 255
          x += 1
        }
        y += 1
      }
    } else {
      var y = 0
      while (y < h) {
        img.getRGB(0, y, w, 1, row, 0, w)
        var x = 0
        while (x < w) {
          val argb = row(x)
          sa += (argb >>> 24) & 0xff; sr += (argb >>> 16) & 0xff
          sg += (argb >>> 8) & 0xff; sb += argb & 0xff
          x += 1
        }
        y += 1
      }
    }
    val n = w.toLong * h
    val mr = sr.toDouble / n / 255.0; val mg = sg.toDouble / n / 255.0
    val mb = sb.toDouble / n / 255.0; val ma = sa.toDouble / n / 255.0
    val luma = 0.299 * mr + 0.587 * mg + 0.114 * mb
    val feature = Array[Float](
      mr.toFloat, mg.toFloat, mb.toFloat, ma.toFloat, luma.toFloat,
      (w.toDouble / h).toFloat,
      (math.log(n.toDouble) / math.log(2.0)).toFloat, 1f)
    MediaFeatures(rec.media_id, rec.kind, rec.n_bytes, feature, w, h,
      payloadByteSum(rec.payload), pixel_sum = sb, decoded = true)
  }

  /** Fallback features for non-image payloads: deterministic byte-level
    * statistics (folded byte histogram as the vector, byte-derived
    * pseudo-dimensions) — keeps mixed-modality tables total.
    */
  private def byteFeatures(rec: MediaRecord): MediaFeatures = {
    val dim = 8
    val feature = new Array[Float](dim)
    var byteSum = 0L
    var i = 0
    while (i < rec.payload.length) {
      val b = rec.payload(i) & 0xff
      feature(i % dim) += b / 255.0f
      byteSum += b
      i += 1
    }
    var d = 0
    while (d < dim) {
      feature(d) = feature(d) / math.max(1, rec.payload.length / dim).toFloat
      d += 1
    }
    val width = 16 + (rec.media_id % 8).toInt * 16
    val height = 16 + (rec.media_id % 5).toInt * 16
    MediaFeatures(rec.media_id, rec.kind, rec.n_bytes, feature, width, height,
      byteSum, pixel_sum = byteSum, decoded = false)
  }

  /** Batch decode / feature extraction — mapPartitions so per-partition
    * init cost is amortized (the iterator is consumed lazily; no
    * per-record setup). Image payloads get the real ImageIO decode;
    * everything else byte statistics.
    */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { rec =>
        tryDecodeImage(rec.payload) match {
          case Some(img) => imageFeatures(rec, img)
          case None      => byteFeatures(rec)
        }
      }
    }
  }

  /** Frame sampling for "video" payloads: every `stride`-th 64-byte
    * chunk becomes a frame row (flatMap — one row in, many out).
    */
  def sampleFrames(media: Dataset[MediaRecord], stride: Int): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "video").flatMap { rec =>
      rec.payload.grouped(64).zipWithIndex.collect {
        case (chunk, idx) if idx % stride == 0 => Frame(rec.media_id, idx, chunk)
      }
    }
  }

  /** Integer stats of one sampled frame (q120's oracle surface). */
  case class FrameStats(doc_id: Long, frame_no: Long, n_bytes: Long,
                        byte_sum: Long)

  /** q120 — the video path under the oracle gate, closing the
    * multimodal triple (q114 image, q115 audio): every `video`-kind
    * payload flows through the REAL [[sampleFrames]] chunker (one row
    * in → one row per sampled 64-byte frame out) and each frame
    * reduces to integers the oracle derives analytically from the
    * source bytes (frame length, unsigned byte sum). A chunker that
    * mis-strides, drops the short tail frame, or misaligns offsets
    * cannot hash-match. Scale: flatMap explode inside the task — no
    * shuffle before the canonical output sort.
    */
  def videoFrameStats(spark: SparkSession, documents: DataFrame): DataFrame = {
    import spark.implicits._
    sampleFrames(syntheticMedia(spark, documents), FrameStride)
      .map { f =>
        var s = 0L; var i = 0
        while (i < f.frame_bytes.length) { s += f.frame_bytes(i) & 0xff; i += 1 }
        FrameStats(f.media_id, f.frame_no.toLong, f.frame_bytes.length.toLong, s)
      }
      .toDF()
      .orderBy("doc_id", "frame_no")
  }

  /** Per-kind integer statistics over the decoded media — the
    * oracle-backed query surfaced through SparkEntry (q24). Every
    * output column is integer arithmetic over the payload bytes, so
    * DuckDB reproduces it exactly from the same parquet while the data
    * still flows through the real mapPartitions decode path (the
    * synthetic text payloads are not decodable images, so they take
    * the byte-statistics branch deterministically).
    */
  def featureStats(spark: SparkSession, documents: DataFrame): DataFrame = {
    val feats = extractFeatures(syntheticMedia(spark, documents))
    feats.toDF()
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("n_bytes")).as("total_bytes"),
        sum(col("byte_sum")).as("byte_checksum"),
        sum(col("width").cast("long")).as("sum_width"),
        sum(col("height").cast("long")).as("sum_height"))
  }
}
