package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{AsOfJoin, Dedup, EntityResolution, GraphOps, Multimodal, PriceAlerts, Relational, Similarity, Sketches, TextAnalysis, TimeSeries}
import graft.QueryHelpers._

/** Multimodal family: image/audio/video container stats, perceptual near-dup, media dedup.
  *
  * Registry split out of SparkEntry (round 9): the maps below are
  * merged back into `SparkEntry.queries` / `SparkEntry.oracleSql`,
  * so names, semantics, and the DuckDB-oracle pairing are unchanged.
  */
object MultimodalQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Multimodal plumbing: binary payloads → batched (stub) decode →
    // per-kind integer byte stats (oracle-reproducible; the decode
    // codec itself stays a declared stub).
    "q24_media_features" -> ((s, dir) => {
      Multimodal.featureStats(s, Tables.documents(s, dir)).orderBy("kind")
    }),


    // Codec round-trip: text bytes → real grayscale PNG → real
    // ImageIO decode → decoded-domain integer pixel stats (the
    // oracle derives them analytically from the bytes — a fake or
    // lossy codec cannot pass).
    "q114_image_roundtrip" -> ((s, dir) => {
      Multimodal.imageRoundTrip(s, Tables.documents(s, dir))
    }),


    // Audio-codec round-trip: text bytes → real RIFF/WAV (8-bit
    // unsigned PCM) → real AudioSystem decode → integer frame/sample
    // stats the oracle derives analytically.
    "q115_audio_roundtrip" -> ((s, dir) => {
      Multimodal.audioRoundTrip(s, Tables.documents(s, dir))
    }),


    // Image perceptual near-dup: dHash over the real ImageIO decode,
    // hamming<=3 pairing via 16-bit chunk buckets (pigeonhole-
    // complete), aHash distance as the second opinion.
    "q117_image_neardup" -> ((s, dir) => {
      Multimodal.perceptualNearDupPairs(s, Tables.documents(s, dir))
        .orderBy("doc_a", "doc_b")
    }),


    // Video frame sampling under the oracle gate: every video-kind
    // payload through the real 64-byte chunker (stride 2), per-frame
    // integer stats the oracle derives from the source bytes.
    "q120_video_frames" -> ((s, dir) => {
      Multimodal.videoFrameStats(s, Tables.documents(s, dir))
    }),
  )

  /** DuckDB oracle SQL for every query above (same keys). */
  val oracleSql: Map[String, String] = Map(
    "q24_media_features" -> OracleHashSql.q24MediaStats,


    // q114: the analytic side of the codec round-trip — width is the
    // layout constant, height the ceil division over the UTF-8 BYTE
    // length, pixel_sum the UTF-8 byte sum (computed from the encoded
    // blob's hex dump, so the oracle holds for non-ASCII text too; PNG
    // zero padding adds nothing). The Spark side reads these from
    // DECODED pixels; matching hashes prove the codec is real and
    // lossless.
    "q114_image_roundtrip" ->
      s"""WITH b AS (
        |  SELECT doc_id, octet_length(encode(text))::BIGINT AS nb,
        |         lower(hex(encode(text))) AS hx
        |  FROM documents)
        |SELECT doc_id, ${Multimodal.ImageWidth}::BIGINT AS width,
        |       greatest(1, CAST(ceil(nb / ${Multimodal.ImageWidth}.0) AS BIGINT)) AS height,
        |       coalesce(list_sum(list_transform(range(nb),
        |         i -> ('0x' || substr(hx, (2 * i + 1)::INT, 2))::BIGINT)),
        |         0)::BIGINT AS pixel_sum,
        |       1::BIGINT AS is_decoded
        |FROM b ORDER BY doc_id""".stripMargin,


    // q115: WAV frames are the text's UTF-8 BYTES themselves (8-bit
    // unsigned PCM mono, frame size 1); empty text is one zero frame.
    // Byte-based like q114, so non-ASCII fixtures stay correct.
    "q115_audio_roundtrip" ->
      """WITH b AS (
        |  SELECT doc_id, octet_length(encode(text))::BIGINT AS nb,
        |         lower(hex(encode(text))) AS hx
        |  FROM documents)
        |SELECT doc_id,
        |       greatest(1, nb)::BIGINT AS n_frames,
        |       8000::BIGINT AS sample_rate,
        |       1::BIGINT AS channels,
        |       coalesce(list_sum(list_transform(range(nb),
        |         i -> ('0x' || substr(hx, (2 * i + 1)::INT, 2))::BIGINT)),
        |         0)::BIGINT AS sample_sum,
        |       1::BIGINT AS is_decoded
        |FROM b ORDER BY doc_id""".stripMargin,


    // q117: hashes derived analytically from the text bytes; the
    // engine reads them from DECODED PNG pixels (q114 pattern) — see
    // OracleHashSql.q117ImageNearDup for the exactness notes.
    "q117_image_neardup" -> OracleHashSql.q117ImageNearDup,


    // q120: video kind = doc_id % 3 == 2 (the syntheticMedia
    // round-robin); frame j covers bytes [64j, min(64(j+1), nb)),
    // kept when j % 2 = 0; byte sums from the hex dump (q114 pattern).
    "q120_video_frames" ->
      s"""WITH b AS (
        |  SELECT doc_id, octet_length(encode(text))::BIGINT AS nb,
        |         lower(hex(encode(text))) AS hx
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (
        |  SELECT doc_id, nb, hx,
        |         unnest(list_filter(range((nb + 63) // 64), j -> j % ${Multimodal.FrameStride} = 0)) AS j
        |  FROM b WHERE nb > 0)
        |SELECT doc_id, j::BIGINT AS frame_no,
        |       least(64, nb - 64 * j)::BIGINT AS n_bytes,
        |       list_sum(list_transform(range(least(64, nb - 64 * j)),
        |         k -> ('0x' || substr(hx, (2 * (64 * j + k) + 1)::INT, 2))::BIGINT)
        |         )::BIGINT AS byte_sum
        |FROM f ORDER BY doc_id, frame_no""".stripMargin,
  )
}
