package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor,
  TimeMode, TimerValues, TTLConfig}
import org.apache.spark.sql.streaming.ValueState

/** Streaming FORWARD as-of join with tolerance — the in-stream twin of
  * q180 (`AsOfJoin.asofForward`): for every 'purchase', the earliest
  * 'error' by the same user with p_ts ≤ e_ts ≤ p_ts + tol, both sides
  * arriving on ONE keyed event stream in any order.
  *
  * Event-time protocol (exactness, not best-effort):
  *   - a purchase is RESOLVABLE only once the watermark passes
  *     p_ts + tol — every error that could match has then arrived —
  *     so each purchase registers an event-time timer at p_ts+tol+1
  *     and is answered in handleExpiredTimer, never eagerly;
  *   - errors buffer until BOTH the watermark and every pending
  *     purchase have passed them: a future purchase has
  *     p_ts ≥ watermark and a match needs p_ts ≤ e_ts, so an error
  *     below the watermark AND below the oldest pending purchase can
  *     never match anything — the eviction is lossless by the same
  *     inequalities that make the join correct;
  *   - within handleExpiredTimer, purchases resolve in (p_ts, p_id)
  *     order and pick min (e_ts, e_id) — the batch tie rule.
  *
  * State per user: the unresolved purchases (bounded by tol × arrival
  * rate) and the errors inside the watermark horizon (bounded the same
  * way). Inner semantics: unmatched purchases emit nothing, mirroring
  * q180's default. Alarm-for-alarm equality with the batch operator —
  * including kill/resume under RocksDB — is spec'd
  * (StreamingAsofSpec).
  */
object StreamingAsof {

  case class Ev(user_id: Long, event_id: Long, ts: Timestamp,
                event_type: String)
  case class FwdMatch(user_id: Long, p_id: Long, p_ts: Timestamp,
                      next_error_id: Long, delta_s: Long)
  case class Buf(purchases: List[(Long, Long)], // (p_id, p_ts_ms)
                 errors: List[(Long, Long)]) // (e_id, e_ts_ms)

  class FwdAsofProcessor(tolMs: Long)
      extends StatefulProcessor[Long, Ev, FwdMatch] {
    @transient private var buf: ValueState[Buf] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getValueState[Buf](
        "fwdasof", Encoders.kryo[Buf], TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Ev],
                                 timerValues: TimerValues): Iterator[FwdMatch] = {
      val prior = Option(buf.get()).getOrElse(Buf(Nil, Nil))
      var ps = prior.purchases
      var es = prior.errors
      rows.foreach { ev =>
        val t = ev.ts.getTime
        ev.event_type match {
          case "purchase" =>
            ps = (ev.event_id, t) :: ps
            getHandle.registerTimer(t + tolMs + 1L)
          case "error" =>
            es = (ev.event_id, t) :: es
            // eviction runs ONLY in handleExpiredTimer — without a
            // timer of its own, a key that sees errors but never a
            // purchase would accumulate an unbounded error list. The
            // handler's kept-condition already evicts correctly; this
            // just guarantees it RUNS once the watermark passes the
            // error (same bound as the purchase timers; an extra
            // firing is harmless — ripe purchases leave the state, so
            // re-evaluation cannot re-emit)
            getHandle.registerTimer(t + tolMs + 1L)
          case _ => ()
        }
      }
      buf.update(Buf(ps, es))
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[FwdMatch] = {
      val wm = timerValues.getCurrentWatermarkInMs()
      val prior = Option(buf.get()).getOrElse(Buf(Nil, Nil))
      val (ripe, pending) = prior.purchases.partition(_._2 + tolMs < wm)
      val out = ripe.sortBy(p => (p._2, p._1)).flatMap { case (pId, pTs) =>
        val cand = prior.errors
          .filter(e => e._2 >= pTs && e._2 <= pTs + tolMs)
        if (cand.isEmpty) None
        else {
          val (eId, eTs) = cand.minBy(e => (e._2, e._1))
          Some(FwdMatch(key, pId, new Timestamp(pTs), eId,
            (eTs - pTs) / 1000L))
        }
      }
      // an error is dead only when BOTH no future purchase can reach
      // it (future p_ts >= wm > e_ts, matches need p_ts <= e_ts) AND
      // no still-pending purchase precedes it (e_ts < min pending
      // p_ts) — evicting on the watermark alone would drop errors a
      // pending-but-unripe purchase still needs
      val minPending =
        if (pending.isEmpty) Long.MaxValue else pending.map(_._2).min
      val keptErrors =
        prior.errors.filter(e => e._2 >= wm || e._2 >= minPending)
      if (pending.isEmpty && keptErrors.isEmpty) buf.clear()
      else buf.update(Buf(pending, keptErrors))
      out.iterator
    }
  }

  /** events needs (user_id, event_id, ts, event_type); only
    * 'purchase'/'error' rows carry semantics, the rest pass through
    * state untouched (pre-filter upstream for wire efficiency).
    */
  def matches(spark: SparkSession, events: DataFrame, tolMs: Long,
              watermarkDelay: String = "1 minute"): Dataset[FwdMatch] = {
    import spark.implicits._
    events.selectExpr("user_id", "event_id", "ts", "event_type").as[Ev]
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .transformWithState(new FwdAsofProcessor(tolMs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
