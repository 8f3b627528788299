package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor,
  TimeMode, TimerValues, TTLConfig, ValueState}

/** The Processor-API escape hatch (SURVEY.md §2.11): the reference's
  * hand-rolled stateful processor (PurchaseQuantityAlertTrasformer.java:21-122)
  * on Spark 4's `transformWithState` — typed per-key state handles plus
  * first-class timers, the closest Spark analogue of the Kafka Streams
  * Processor API surface:
  *
  *   KV store get/put/delete (ST1/ST4) → ValueState[Map[window, sum]]
  *   punctuator (W4/W7)                → one timer per open window end
  *   emit-once + state delete (W4)     → handleExpiredTimer emits and
  *                                       clears the closed windows
  *
  * One [[AlertProcessor]] serves both clocks; `transformWithState`'s
  * TimeMode picks which one closes a window:
  *
  *  - [[alerts]] — EVENT time: windows close on the watermark
  *    (deterministic, replayable); late data behind the watermark is
  *    dropped instead of leaking state forever (the reference's W6 bug).
  *  - [[alertsWallClock]] — PROCESSING time: windows close on the wall
  *    clock, exactly like the reference's
  *    `context.schedule(1m, WALL_CLOCK_TIME, this::sendAlerts)`
  *    (PurchaseQuantityAlertTrasformer.java:33); non-deterministic on
  *    replay by construction, same as the reference.
  *
  * State store: `transformWithState` keeps its state and timers in
  * separate column families, so it needs the RocksDB provider
  * (`spark.sql.streaming.stateStore.providerClass` =
  * RocksDBStateStoreProvider); the default HDFS provider is rejected with
  * UNSUPPORTED_FEATURE.STATE_STORE_MULTIPLE_COLUMN_FAMILIES. State is
  * hash-partitioned by product — the layout the reference gets from its
  * repartition topic. The declarative twin,
  * [[PriceAlertsStream.processorAlertsAppend]], is the fast path.
  */
object ProcessorAlerts {

  case class PurchaseAmount(product_id: String, ts: Timestamp, amount: Double)
  case class Alert(product_id: String, window_start: Timestamp,
                   total_sum_per_minute: Double)

  private val WindowMillis = 60000L

  /** Build the typed purchase-amount stream from the joined projection
    * (purchasesWithProducts output).
    */
  def amounts(spark: SparkSession, joined: DataFrame): Dataset[PurchaseAmount] = {
    import spark.implicits._
    joined.select(
        col("product_id").cast("string").as("product_id"),
        col("ts").cast("timestamp").as("ts"),
        (col("purchase_quantity") * col("product_price")).cast("double").as("amount"))
      .as[PurchaseAmount]
  }

  /** Accumulate per-window sums per product; when the clock passes a
    * window end, emit its alert (if over threshold) and delete the
    * window's state. The clock is the watermark in event-time mode and
    * the batch's processing time in processing-time mode.
    */
  class AlertProcessor(threshold: Double)
      extends StatefulProcessor[String, PurchaseAmount, Alert] {
    @transient private var windows: ValueState[Map[Long, Double]] = _
    @transient private var clock: TimerValues => Long = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      windows = getHandle.getValueState[Map[Long, Double]](
        "windows", Encoders.kryo[Map[Long, Double]], TTLConfig.NONE)
      clock =
        if (timeMode == TimeMode.ProcessingTime()) _.getCurrentProcessingTimeInMs()
        else _.getCurrentWatermarkInMs()
    }

    override def handleInputRows(key: String, rows: Iterator[PurchaseAmount],
                                 timerValues: TimerValues): Iterator[Alert] = {
      val prior = Option(windows.get()).getOrElse(Map.empty[Long, Double])
      val updated = rows.foldLeft(prior) { (acc, p) =>
        val w = p.ts.getTime - p.ts.getTime % WindowMillis
        acc.updated(w, acc.getOrElse(w, 0.0) + p.amount)
      }
      windows.update(updated)
      // punctuator: wake when the earliest open window can close
      if (updated.nonEmpty) {
        getHandle.registerTimer(updated.keys.min + WindowMillis)
      }
      Iterator.empty
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[Alert] = {
      val now = clock(timerValues)
      val all = Option(windows.get()).getOrElse(Map.empty[Long, Double])
      val (closed, open) = all.partition { case (w, _) => w + WindowMillis <= now }
      if (open.isEmpty) windows.clear()
      else {
        windows.update(open)
        getHandle.registerTimer(open.keys.min + WindowMillis)
      }
      closed.toSeq.sortBy(_._1).collect {
        case (w, sum) if sum > threshold => Alert(key, new Timestamp(w), sum)
      }.iterator
    }
  }

  private def run(spark: SparkSession, amounts: Dataset[PurchaseAmount],
                  threshold: Double, timeMode: TimeMode): Dataset[Alert] = {
    import spark.implicits._
    amounts.groupByKey(_.product_id)
      .transformWithState(new AlertProcessor(threshold), timeMode, OutputMode.Append())
  }

  /** Event-time alerts over the joined purchase projection: emit once
    * per window after the watermark passes its end.
    */
  def alerts(spark: SparkSession, joined: DataFrame, threshold: Double,
             watermarkDelay: String = "1 minute"): Dataset[Alert] =
    run(spark, amounts(spark, joined).withWatermark("ts", watermarkDelay),
      threshold, TimeMode.EventTime())

  /** Wall-clock alerts (W7 fidelity): emit once per window after the
    * processing-time clock passes its end, with or without new input
    * for the key.
    */
  def alertsWallClock(spark: SparkSession, joined: DataFrame,
                      threshold: Double): Dataset[Alert] =
    run(spark, amounts(spark, joined), threshold, TimeMode.ProcessingTime())
}
