package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TTLConfig}
import org.apache.spark.sql.streaming.ValueState

/** Per-key streaming anomaly detection — the in-stream form of q72's
  * batch 2-sigma outlier scan: each key carries Welford running stats
  * (count, mean, M2 — the numerically stable recurrence, same math as
  * `Aggregators.WelfordVariance`) in `transformWithState` ValueState,
  * and every event is judged against the state BEFORE it is folded in,
  * so a wild value cannot dilute the very statistics that should flag
  * it. Events during warm-up (fewer than `MinSamples` prior points) are
  * never flagged — a z-score against 2 points is noise.
  *
  * Determinism: within a batch, events fold in event-time order (ties
  * by event_id), so replays and checkpoint resumes reproduce decisions
  * — the same contract as [[RateLimiter]]'s event-time refill.
  *
  * Scale: state is three numbers per key; the stream shuffles once on
  * the key. RocksDB holds idle keys; a TTL would bound churn-heavy key
  * spaces (NONE here — specs assert exact decisions).
  */
object StreamingAnomaly {

  private val Z = 3.0          // flag |x − mean| > Z·sigma ...
  private val MinSamples = 8   // ... once a key has MinSamples prior points

  case class Pt(key: String, ts: Timestamp, event_id: Long, value: Double)
  case class Verdict(key: String, ts: Timestamp, event_id: Long,
                     value: Double, mean: Double, sigma: Double,
                     is_anomaly: Boolean)
  case class Stats(n: Long, mean: Double, m2: Double)

  class WelfordProcessor
      extends StatefulProcessor[String, Pt, Verdict] {
    @transient private var stats: ValueState[Stats] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      stats = getHandle.getValueState[Stats](
        "welford", Encoders.product[Stats], TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[Pt],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[Verdict] = {
      val sorted = rows.toSeq.sortBy(p => (p.ts.getTime, p.event_id))
      var s = Option(stats.get()).getOrElse(Stats(0L, 0.0, 0.0))
      val out = sorted.map { p =>
        // judge against the PRE-update state; emit mean/sigma from that
        // same epoch so a consumer can reproduce the judgment from the row
        val mean0 = s.mean
        val sigma = if (s.n >= 2) math.sqrt(s.m2 / s.n) else 0.0
        val anomalous =
          s.n >= MinSamples && sigma > 0.0 && math.abs(p.value - mean0) > Z * sigma
        // Welford fold
        val n1 = s.n + 1
        val d = p.value - mean0
        val mean1 = mean0 + d / n1
        s = Stats(n1, mean1, s.m2 + d * (p.value - mean1))
        Verdict(p.key, p.ts, p.event_id, p.value, mean0, sigma, anomalous)
      }
      stats.update(s)
      out.iterator
    }
  }

  /** Flag |x − mean| > Z·sigma per key, in-stream, judged pre-update. */
  def detect(spark: SparkSession, events: DataFrame): Dataset[Verdict] = {
    import spark.implicits._
    events.selectExpr("key", "ts", "event_id", "value").as[Pt]
      .withWatermark("ts", "1 minute")
      .groupByKey(_.key)
      .transformWithState(new WelfordProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }
}
