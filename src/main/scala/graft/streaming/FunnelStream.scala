package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor,
  TimeMode, TimerValues, TTLConfig}
import org.apache.spark.sql.streaming.ValueState

/** Streaming twin of `Relational.funnel` (q78): a per-user stage
  * machine advancing through an ordered stage list IN-STREAM, emitting
  * an advance record the moment a user reaches a new stage — the
  * real-time conversion tracker whose batch answer q78 computes after
  * the fact.
  *
  * Semantics: same first-touch rule — stage i+1 requires an event
  * strictly later than the stage-i advance. Rows within a micro-batch
  * are folded in event-time order; ACROSS batches arrival order is
  * trusted (an event that arrives after the state already advanced
  * past its stage cannot retro-advance — the watermark-buffered
  * variant that holds events until the watermark would close that gap
  * at the cost of one watermark delay per stage, same trade as
  * W4 emit-once).
  *
  * State per user: (reached stage, its event time) — O(1), TTL-able;
  * the processor never buffers events.
  */
object FunnelStream {

  case class FunnelEvent(user_id: Long, event_type: String, ts: Timestamp)
  case class Advance(user_id: Long, stage_idx: Int, stage: String,
                     ts: Timestamp)
  case class StageState(stage: Int, tMillis: Long)

  class FunnelProcessor(stages: Seq[String])
      extends StatefulProcessor[Long, FunnelEvent, Advance] {
    @transient private var st: ValueState[StageState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[StageState](
        "stage", Encoders.product[StageState], TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[FunnelEvent],
                                 timerValues: TimerValues): Iterator[Advance] = {
      var cur = Option(st.get()).getOrElse(StageState(0, Long.MinValue))
      val out = scala.collection.mutable.ArrayBuffer.empty[Advance]
      rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
        if (cur.stage < stages.length &&
            e.event_type == stages(cur.stage) &&
            e.ts.getTime > cur.tMillis) {
          cur = StageState(cur.stage + 1, e.ts.getTime)
          out += Advance(key, cur.stage, e.event_type, e.ts)
        }
      }
      st.update(cur)
      out.iterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[Advance] =
      Iterator.empty
  }

  /** events(user_id, event_type, ts) -> stream of stage advances. */
  private[graft] def advances(events: DataFrame, stages: Seq[String]): Dataset[Advance] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long").as("user_id"),
        col("event_type"), col("ts"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor(stages),
        TimeMode.None(), OutputMode.Append())
  }
}
