package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.PriceAlerts

/** Structured-Streaming twins of the price-alerts pipeline — the part
  * that gives the engine true reference parity (SURVEY.md §2.8).
  *
  * Two emission semantics, matching the reference's two variants:
  *
  *  - [[dslAlertsUpdate]] — the DSL variant (W3): every qualifying
  *    update flows to the sink; no watermark, state retained
  *    indefinitely (mirrors KS 2.8's default 24 h grace). Run with
  *    `outputMode("update")`.
  *  - [[processorAlertsAppend]] — the Processor variant (W4): emit ONCE
  *    per closed window, then drop the state. Spark's
  *    watermark+append mode is exactly this semantics with event-time
  *    (not wall-clock) window close — strictly saner than the
  *    reference's punctuator, whose late-data state leak (W6) we
  *    deliberately do not reproduce.
  *
  * The reference's hand-written processor (keyed store + punctuator)
  * has one imperative twin, [[ProcessorAlerts]]: a single
  * transformWithState processor closing windows on the watermark
  * (`alerts`) or on the wall clock (`alertsWallClock`, exact W7). It
  * needs the RocksDB state store; [[processorAlertsAppend]] stays the
  * fast path for the event-time semantics.
  *
  * Emission-granularity caveat (SURVEY.md §7.5.1): KS update-emits per
  * record, Spark per micro-batch; final per-window values agree, which
  * is what the golden tests assert.
  *
  * Scale notes: the dimension side of the join is static and broadcast
  * (the GlobalKTable analogue). An inline dimension is turned into an
  * RDD-backed frame once per query, so the per-trigger re-planning does
  * not walk its rows; a source-backed one (parquet, Kafka snapshot) is
  * still re-read each micro-batch. Streaming state is hash-partitioned by
  * (window, product_id) across executors, and append mode bounds state
  * size by the watermark horizon.
  */
object PriceAlertsStream {

  /** DSL variant: update-mode windowed aggregation over a stream-static
    * join. `purchasesStream` must have the role-cast purchase schema
    * (id, quantity, productid, ts); `products` is a static dimension.
    */
  def dslAlertsUpdate(purchasesStream: DataFrame, products: DataFrame,
                      threshold: Double = PriceAlerts.DslThreshold,
                      windowSize: String = "1 minute"): DataFrame =
    PriceAlerts.dslPipeline(purchasesStream, products, threshold, windowSize)

  /** Processor variant: append-mode with watermark — one emission per
    * closed window, state cleaned up behind the watermark.
    */
  def processorAlertsAppend(purchasesStream: DataFrame, products: DataFrame,
                            threshold: Double = PriceAlerts.ProcessorThreshold,
                            windowSize: String = "1 minute",
                            watermarkDelay: String = "1 minute"): DataFrame =
    PriceAlerts.dslPipeline(purchasesStream.withWatermark("ts", watermarkDelay),
      products, threshold, windowSize)

  /** Streaming latest-per-key dimension compaction (A3): when the
    * products dimension arrives as a changelog stream, reduce it to
    * last-write-wins per key. Update-mode output is the current
    * snapshot's changed rows — the KTable semantics.
    */
  def latestPerKeyUpdate(changelog: DataFrame, keyCol: String, tsCol: String): DataFrame =
    changelog
      .groupBy(col(keyCol))
      // equal timestamps tie-break on the full row (lexicographic
      // struct order): max_by on ts alone picks a partitioning- and
      // merge-order-dependent row for same-ts changelog updates (a
      // common same-millisecond CDC pattern), so the snapshot could
      // differ between a live run and a checkpoint replay. A changelog
      // carrying a monotone sequence/offset column should order by
      // that column instead.
      .agg(max_by(struct(col("*")),
        struct(col(tsCol), struct(col("*")))).as("latest"))
      .select(col("latest.*"))
}
