package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TTLConfig}
import org.apache.spark.sql.streaming.ValueState

import graft.operators.TimeSeries.{CusumSlack, CusumThreshold}

/** Per-key streaming CUSUM change-point detection — the in-stream
  * twin of q151 (`TimeSeries.cusum`): Page's two-sided accumulators
  *   s⁺ = max(0, s⁺ + (x − μ − k)),  s⁻ = max(0, s⁻ + (μ − x − k))
  * ride in `transformWithState` ValueState; an alarm fires when a
  * side crosses the threshold and that side resets (restart-after-
  * detection). μ is the key's CALIBRATED mean, carried on the row —
  * in production a stream-static join against an offline calibration
  * table (the q151 batch job is exactly that trainer); here the spec
  * feeds the same mean to both forms and asserts alarm-for-alarm
  * equality with the batch fold, kill/resume included.
  *
  * Determinism: within a batch, events fold in event-time order (ties
  * by event_id) — the [[StreamingAnomaly]] replay contract. State is
  * two doubles per key; one shuffle on the key.
  */
object StreamingCusum {

  case class CPt(key: String, ts: Timestamp, event_id: Long,
                 value: Double, mean: Double)
  case class CVerdict(key: String, ts: Timestamp, event_id: Long,
                      value: Double, s_pos: Double, s_neg: Double,
                      alarm: Boolean)
  case class CState(sPos: Double, sNeg: Double)

  class CusumProcessor
      extends StatefulProcessor[String, CPt, CVerdict] {
    @transient private var st: ValueState[CState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[CState](
        "cusum", Encoders.product[CState], TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[CPt],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[CVerdict] = {
      val sorted = rows.toSeq.sortBy(p => (p.ts.getTime, p.event_id))
      var s = Option(st.get()).getOrElse(CState(0.0, 0.0))
      val out = sorted.map { p =>
        // identical op order to TimeSeries.cusum's fold — max, add,
        // subtract on doubles, so batch and stream agree bit-for-bit
        val sp = math.max(0.0, s.sPos + (p.value - p.mean - CusumSlack))
        val sn = math.max(0.0, s.sNeg + (p.mean - p.value - CusumSlack))
        val alarm = sp > CusumThreshold || sn > CusumThreshold
        s = CState(if (sp > CusumThreshold) 0.0 else sp,
          if (sn > CusumThreshold) 0.0 else sn)
        CVerdict(p.key, p.ts, p.event_id, p.value, sp, sn, alarm)
      }
      st.update(s)
      out.iterator
    }
  }

  /** Emit one verdict per event: the post-update s± (pre-reset, so a
    * consumer sees the breaching value) and the alarm flag.
    */
  def detect(spark: SparkSession, events: DataFrame): Dataset[CVerdict] = {
    import spark.implicits._
    events.selectExpr("key", "ts", "event_id", "value", "mean").as[CPt]
      .withWatermark("ts", "1 minute")
      .groupByKey(_.key)
      .transformWithState(new CusumProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }
}
