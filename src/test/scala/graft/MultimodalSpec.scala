package graft

import graft.operators.Multimodal
import graft.sources.Tables

class MultimodalSpec extends SparkSpec {

  test("synthetic media: payload bytes round-trip, kinds partitioned") {
    val media = Multimodal.syntheticMedia(spark, Tables.documents(spark, sf001))
    val rows = media.collect()
    assert(rows.length == 500)
    assert(rows.map(_.kind).toSet == Set("image", "audio", "video"))
    assert(rows.forall(r => r.payload.length == r.n_bytes))
  }

  test("feature extraction: deterministic fixed-width vectors") {
    val media = Multimodal.syntheticMedia(spark, Tables.documents(spark, sf001))
    val f1 = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(f1.forall(_.feature.length == 8))
    assert(f1.zip(f2).forall { case (a, b) => a.feature.sameElements(b.feature) })
    assert(f1.forall(f => f.width > 0 && f.height > 0))
  }

  test("frame sampling: only video, every stride-th chunk") {
    val media = Multimodal.syntheticMedia(spark, Tables.documents(spark, sf001))
    val frames = Multimodal.sampleFrames(media, stride = 2).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.frame_no % 2 == 0))
    val videoIds = media.filter(_.kind == "video").collect().map(_.media_id).toSet
    assert(frames.map(_.media_id).toSet.subsetOf(videoIds))
  }

  // ---- real ImageIO codec -------------------------------------------------

  import java.awt.image.BufferedImage
  import java.io.ByteArrayOutputStream
  import javax.imageio.ImageIO

  /** Encode a solid-color w×h image in the given ImageIO format. */
  private def solidImage(w: Int, h: Int, rgb: Int, fmt: String): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) { var x = 0; while (x < w) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
    val baos = new ByteArrayOutputStream()
    assert(ImageIO.write(img, fmt, baos), s"JDK must ship a $fmt writer")
    baos.toByteArray
  }

  test("golden image: real PNG/BMP decode yields true dimensions and channel means") {
    import spark.implicits._
    // solid color R=102 G=204 B=51 → channel means are exactly x/255
    val rgb = (102 << 16) | (204 << 8) | 51
    val png = solidImage(6, 4, rgb, "png")
    val bmp = solidImage(3, 5, rgb, "bmp")
    val text = "not an image at all".getBytes("UTF-8")
    val media = Seq(
      Multimodal.MediaRecord(1L, "image", png, png.length.toLong),
      Multimodal.MediaRecord(2L, "image", bmp, bmp.length.toLong),
      Multimodal.MediaRecord(3L, "audio", text, text.length.toLong)).toDS()
    val f = Multimodal.extractFeatures(media).collect()
      .map(r => r.media_id -> r).toMap
    val p = f(1L)
    assert(p.decoded && p.width == 6 && p.height == 4)
    assert(p.feature(0) == 102f / 255f && p.feature(1) == 204f / 255f &&
      p.feature(2) == 51f / 255f, "per-channel means are exact for a solid color")
    assert(p.feature(3) == 1f, "opaque image alpha mean is 1")
    assert(p.feature(7) == 1f, "decoded flag set")
    val b = f(2L)
    assert(b.decoded && b.width == 3 && b.height == 5)
    assert(b.feature(0) == 102f / 255f && b.feature(2) == 51f / 255f)
    val t = f(3L)
    assert(!t.decoded, "non-image payload takes the byte-stats branch")
    assert(t.byte_sum == text.map(_ & 0xff).sum.toLong)
  }

  test("codec round-trip: text bytes → gray PNG → decode recovers every byte") {
    import spark.implicits._
    // rows are 32 pixels wide: "abc" (97,98,99) → 32×1 image
    // [97,98,99,0,…]; a 70-char text → 32×3 with 26 padding zeros
    assert(Multimodal.ImageWidth == 32)
    val long = "0123456789" * 7
    val d = Seq((1L, "abc"), (2L, long), (3L, ""))
      .toDF("doc_id", "text")
    val feats = Multimodal.extractFeatures(Multimodal.syntheticImages(spark, d))
      .collect().map(f => f.media_id -> f).toMap
    assert(feats.values.forall(_.decoded), "every synthetic PNG must decode")
    assert(feats(1L).width == 32 && feats(1L).height == 1)
    assert(feats(1L).pixel_sum == 97L + 98 + 99)
    assert(feats(2L).width == 32 && feats(2L).height == 3)
    assert(feats(2L).pixel_sum == long.map(_.toLong).sum)
    assert(feats(3L).width == 32 && feats(3L).height == 1 &&
      feats(3L).pixel_sum == 0L, "empty text → all-zero 32x1 image")
    // gray raster read must bypass the sRGB conversion getRGB applies
    // to TYPE_BYTE_GRAY (sample 128 would read back as ~186)
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (x <- 0 until 2; y <- 0 until 2) img.getRaster.setSample(x, y, 0, 128)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val png = baos.toByteArray
    val f9 = Multimodal.extractFeatures(Seq(
        Multimodal.MediaRecord(9L, "image", png, png.length.toLong)).toDS())
      .collect().head
    assert(f9.pixel_sum == 4L * 128, s"raw gray samples, got ${f9.pixel_sum}")
  }

  test("audio round-trip: text bytes → real WAV → AudioSystem decode recovers samples") {
    import spark.implicits._
    val d = Seq((1L, "abc"), (2L, "")).toDF("doc_id", "text")
    val feats = Multimodal.extractAudioFeatures(
        Multimodal.syntheticWavs(spark, d))
      .collect().map(f => f.media_id -> f).toMap
    val a = feats(1L)
    assert(a.decoded && a.n_frames == 3L && a.sample_rate == 8000L &&
      a.channels == 1 && a.sample_sum == 97L + 98 + 99, s"got $a")
    val e = feats(2L)
    assert(e.decoded && e.n_frames == 1L && e.sample_sum == 0L,
      "empty text is one zero frame")
    // a non-WAV payload takes the fallback branch, stays total
    val junk = "definitely not RIFF".getBytes("UTF-8")
    val f = Multimodal.extractAudioFeatures(Seq(
        Multimodal.MediaRecord(9L, "audio", junk, junk.length.toLong)).toDS())
      .collect().head
    assert(!f.decoded && f.sample_sum == junk.map(_ & 0xff).sum.toLong)
  }

  /** Independent analytic dHash/aHash from text bytes — mirrors the
    * q117 oracle's arithmetic (32-wide zero-padded byte image, integer
    * block means, MSB-first bits) without touching the codec path.
    */
  private def analyticHashes(text: String): (Long, Long) = {
    val bytes = text.getBytes("UTF-8")
    val h = math.max(1, (bytes.length + 31) / 32)
    def px(y: Int, x: Int): Long = {
      val i = y * 32 + x
      if (i < bytes.length) (bytes(i) & 0xff).toLong else 0L
    }
    def means(gw: Int): Array[Long] = Array.tabulate(gw * 8) { c =>
      val gy = c / gw; val gx = c % gw
      val y0 = gy * h / 8
      val y1 = math.max(y0 + 1, (gy + 1) * h / 8)
      val x0 = gx * 32 / gw; val x1 = (gx + 1) * 32 / gw
      var s = 0L
      for (y <- y0 until y1; x <- x0 until x1) s += px(y, x)
      s / ((y1 - y0).toLong * (x1 - x0))
    }
    val md = means(9)
    var dh = 0L
    for (gy <- 0 until 8; gx <- 0 until 8)
      dh = (dh << 1) | (if (md(gy * 9 + gx + 1) > md(gy * 9 + gx)) 1L else 0L)
    val ma = means(8)
    val mean = ma.sum / 64
    var ah = 0L
    for (c <- 0 until 64) ah = (ah << 1) | (if (ma(c) > mean) 1L else 0L)
    (dh, ah)
  }

  test("perceptual hashes: decoded-domain dHash/aHash match the analytic byte derivation") {
    import spark.implicits._
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog " * 12),
      (2L, "a completely different document about spark catalyst internals " * 9),
      (3L, "short"),
      (4L, ""))
    val got = Multimodal.perceptualHashes(spark, texts.toDF("doc_id", "text"))
      .collect().map(p => p.doc_id -> ((p.dhash, p.ahash))).toMap
    texts.foreach { case (id, t) =>
      assert(got(id) == analyticHashes(t),
        s"doc $id: decoded-domain hash must equal the analytic derivation")
    }
  }

  test("perceptual near-dup pairs: identical images at hamming 0, small edits close, strangers absent") {
    import spark.implicits._
    val base = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do " * 10
    val d = Seq(
      (1L, base),
      (2L, base),                              // exact duplicate → hamming 0
      (3L, base.dropRight(4) + "eli!"),        // tail edit → near
      (10L, "totally unrelated text with other bytes and rhythm " * 13))
      .toDF("doc_id", "text")
    val pairs = Multimodal.perceptualNearDupPairs(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(pairs.contains((1L, 2L)), s"exact dup must pair, got ${pairs.keySet}")
    assert(pairs((1L, 2L)) == ((0L, 0L)), "identical images → both distances 0")
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)),
      s"tail-edited doc must pair with both copies, got ${pairs.keySet}")
    assert(pairs.keys.forall { case (a, b) => a != 10L && b != 10L },
      "unrelated doc must not pair")
    // single emission: each pair appears exactly once
    val all = Multimodal.perceptualNearDupPairs(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(all.length == all.distinct.length, "no duplicate pair emissions")
  }

  test("video frame stats: stride sampling, short tail frame, byte sums") {
    import spark.implicits._
    // doc_id % 3 == 2 -> kind "video"; 150 bytes -> frames 0..2
    // (64, 64, 22 bytes), stride 2 keeps frames 0 and 2
    val text = ("x" * 64) + ("y" * 64) + ("z" * 22)
    val d = Seq((2L, text), (5L, ""), (1L, "not video " * 20))
      .toDF("doc_id", "text")
    val out = Multimodal.videoFrameStats(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (2L, 0L, 64L, 64L * 'x'.toLong),
      (2L, 2L, 22L, 22L * 'z'.toLong)),
      s"got ${out.toSeq}")
  }

  test("image dedup survivors (q132 shape): exactly one survivor per cluster, largest payload wins") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, sf001)
    val pairs = graft.operators.Multimodal
      .perceptualNearDupPairs(spark, docs).select(col("doc_a"), col("doc_b"))
    val clusters = graft.operators.GraphOps.dedupClusters(pairs)
    val nb = docs.select(col("doc_id"),
      octet_length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"))
    val rk = row_number().over(Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_bytes").desc, col("doc_id").asc))
    val out = clusters.join(nb, "doc_id").withColumn("is_survivor", rk === 1)
      .collect()
    assert(out.nonEmpty, "fixture must contain image near-dup clusters")
    val byCluster = out.groupBy(_.getAs[Long]("cluster_id"))
    byCluster.foreach { case (cid, rows) =>
      val survivors = rows.filter(_.getAs[Boolean]("is_survivor"))
      assert(survivors.length == 1, s"cluster $cid: ${survivors.length} survivors")
      val maxBytes = rows.map(_.getAs[Long]("n_bytes")).max
      assert(survivors.head.getAs[Long]("n_bytes") == maxBytes,
        s"cluster $cid survivor must carry the largest payload")
    }
  }
}
