package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TimerValues}

import graft.functions.{GraftFunctions, HashFunctions, TextFunctions}
import graft.operators.Dedup

/** Streaming deduplication for the ingest path of a training-data
  * pipeline: exact and fingerprint dedup with watermark-bounded state.
  *
  * `dropDuplicates` keeps ALL keys in state forever without a watermark
  * — unusable at 100 TB/day. With the watermark, state is bounded to
  * the delay horizon; `dropDuplicatesWithinWatermark` additionally
  * dedups keys whose duplicates may straddle the watermark boundary.
  */
object StreamingDedup {

  /** Exact streaming dedup on arbitrary key columns, state bounded by
    * the event-time watermark on `tsCol`.
    */
  def exact(stream: DataFrame, tsCol: String, delay: String,
            keyCols: String*): DataFrame =
    stream.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Content-fingerprint streaming dedup for documents: dedup on
    * md5(normalized text) — the 16-byte digest, not the document body,
    * is what the state store keys on.
    */
  private[graft] def byFingerprint(docStream: DataFrame, tsCol: String,
                                   delay: String): DataFrame =
    exact(
      docStream.withColumn("fp", TextFunctions.fingerprintMd5(col("text"))),
      tsCol, delay, "fp")

  /** Ingest-time IMAGE near-dup guard: decode each binary `payload`,
    * drop records whose decoded-domain dHash
    * ([[graft.operators.Multimodal.dHash64]]) collides exactly within
    * the watermark horizon (state keys on one long per image).
    * Non-decodable payloads pass through untouched (a corrupt image
    * must not dedup against every other corrupt image via a shared
    * null key). The full hamming ≤ k image neighborhood is the batch
    * pass (q117, `Multimodal.perceptualNearDupPairs`). The decode sits
    * in a Scala UDF: this is the sanctioned codec seam (same rationale as the batch
    * side's mapPartitions — no expression can wrap ImageIO), and the
    * hash is one long per row on the wire.
    */
  def byImageDHash(mediaStream: DataFrame, tsCol: String,
                   delay: String): DataFrame = {
    val dhashUdf = udf((payload: Array[Byte]) =>
      graft.operators.Multimodal.tryDecodeImage(payload)
        .map(graft.operators.Multimodal.dHash64))
    // ONE decode per payload: the previous union-of-filters shape ran
    // the ImageIO UDF once per union leg (streaming plans don't share
    // subexpressions across legs), doubling the dominant codec cost.
    // Non-decodable rows key on their unique `doc_id`, so they
    // never dedup against each other and cannot collide with a real
    // hash (disjoint string prefixes). CONTRACT: non-decodable rows
    // now share the decodable rows' watermark semantics — one arriving
    // later than `delay` past the watermark is dropped like any other
    // late row (the pre-r12 union leg passed late corrupt rows
    // through, an inconsistency: a late DECODABLE row was dropped but
    // a late corrupt one survived, so corpus lateness policy depended
    // on payload integrity).
    val keyed = mediaStream.withColumn("dh", dhashUdf(col("payload")))
      .withColumn("__ik",
        when(col("dh").isNotNull, concat(lit("h:"), col("dh")))
          .otherwise(concat(lit("u:"), col("doc_id"))))
    exact(keyed, tsCol, delay, "__ik").drop("__ik")
  }

  /** One doc exploded to one of its four 16-bit simhash chunk buckets. */
  case class ChunkDoc(band: Int, bucket: Long, doc_id: Long, sh: Long,
                      ts: Timestamp, text: String)
  /** Per-bucket verdict: did this doc near-collide in this bucket? */
  case class BucketVerdict(doc_id: Long, ts: Timestamp, text: String, dup: Boolean)
  /** ListState element for [[NearDupProcessor]]. NOT `private`: Janino
    * compiles the state encoder's UnsafeProjection in a different
    * package, so a private case class makes every accessor call fail
    * compilation and Spark silently falls back to interpreted serde on
    * every state row (8× `WARN UnsafeProjection: Expr codegen error` in
    * a full suite run before this was public). CodegenFallbackSpec pins
    * the class-visibility requirement.
    */
  case class SeenEntry(sh: Long, tsMs: Long)

  /** Per-(chunk, bucket) state: the simhashes seen within the watermark
    * horizon. A doc is flagged when any prior hash in the bucket is
    * within `Dedup.SimhashMaxHamming` bits. Every doc's hash enters state (flagged
    * or not) — same candidate-universe semantics as the batch
    * [[graft.operators.Dedup.simhashPairs]]. State is evicted lazily:
    * entries whose event time has fallen behind the watermark can never
    * match a non-late future row, so they are dropped on the next visit
    * to the bucket (the exact bound `dropDuplicatesWithinWatermark`
    * uses for its keys).
    */
  class NearDupProcessor
      extends StatefulProcessor[(Int, Long), ChunkDoc, BucketVerdict] {
    @transient private var seen: ListState[SeenEntry] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      seen = getHandle.getListState[SeenEntry]("seen", Encoders.product[SeenEntry],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: (Int, Long), rows: Iterator[ChunkDoc],
                                 timerValues: TimerValues): Iterator[BucketVerdict] = {
      val wm = timerValues.getCurrentWatermarkInMs()
      var live = {
        val it = seen.get()
        val buf = scala.collection.mutable.ArrayBuffer.empty[SeenEntry]
        while (it.hasNext) { val e = it.next(); if (e.tsMs >= wm) buf += e }
        buf
      }
      // deterministic within-batch order: earliest (ts, doc_id) first
      val out = rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id)).map { r =>
        val dup = live.exists(e => java.lang.Long.bitCount(e.sh ^ r.sh) <= Dedup.SimhashMaxHamming)
        live += SeenEntry(r.sh, r.ts.getTime)
        BucketVerdict(r.doc_id, r.ts, r.text, dup)
      }
      seen.put(live.toArray)
      out.iterator
    }
  }

  /** Streaming near-dup simhash dedup, hamming ≤ `Dedup.SimhashMaxHamming`
    * (pigeonhole-complete over the four 16-bit chunks): the streaming
    * twin of [[graft.operators.Dedup.simhashPairs]]. Topology: explode
    * each doc to its 4 chunk buckets (the shuffle key is the bucket —
    * state shards by bucket exactly like the batch self-join), per-
    * bucket [[NearDupProcessor]] emits 4 verdicts per doc, and a
    * windowed per-doc reconciliation keeps docs no bucket flagged.
    * Emission is append-on-window-close (the reconciliation window
    * closes with the watermark), matching the batch operator's
    * candidate semantics within the horizon.
    */
  def bySimhashNearDup(docStream: DataFrame, tsCol: String, delay: String,
                       reconcileWindow: String = "1 minute"): DataFrame = {
    val spark = docStream.sparkSession
    GraftFunctions.register(spark)
    import spark.implicits._
    val hashed = docStream
      .withColumn("sh", GraftFunctions.simhash64(TextFunctions.wsTokens(col("text"))))
      .withWatermark(tsCol, delay)
    val chunks = hashed
      .select(explode(HashFunctions.simhashBands(col("sh"))).as("bh"),
        col("doc_id"), col("sh"), col(tsCol).as("ts"), col("text"))
      .select(col("bh.band").as("band"), col("bh.bucket").as("bucket"),
        col("doc_id"), col("sh"), col("ts"), col("text"))
      .as[ChunkDoc]
    val verdicts = chunks
      .groupByKey(c => (c.band, c.bucket))
      .transformWithState(new NearDupProcessor, "ts", OutputMode.Append())
    // no second withWatermark: transformWithState's eventTimeColumnName
    // already re-declares `ts` as the output's event time, and the
    // upstream watermark propagates to the reconciliation aggregate
    verdicts.toDF()
      .groupBy(col("doc_id"), window(col("ts"), reconcileWindow))
      .agg(max(col("dup")).as("dup"), first(col("text")).as("text"))
      .filter(!col("dup"))
      .select(col("doc_id"), col("window.start").as("window_start"), col("text"))
  }
}
