package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.streaming.state.GraftStateStoreBridge
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.Tables
import graft.streaming.{PriceAlertsStream, StreamJoins, StreamingHeavyHitters}

/** Batch≡stream equivalence on fixture data: each stateful streaming
  * shape runs over the sf0.001 events table, fed through a MemoryStream
  * in three time-ordered chunks (RocksDB state store), and must return
  * what its batch twin computes on the same frame — the Structured
  * Streaming promise that a query's streaming answer equals its batch
  * answer on the same prefix.
  *
  * Window-closing protocol: after the real data, two far-future
  * sentinel events (each in its own trigger, excluded from every
  * comparison) advance the watermark, so every real window closes and
  * append-mode emission is complete; the batch twin then needs no
  * watermark truncation. Double-valued sums compare under 1e-6 (the
  * stream's partial-aggregate fold order is not the batch fold order);
  * keys, counts and discrete quantiles compare exactly. The sf0.001
  * table holds 1,000 events over 30 days, so windows, gaps and join
  * intervals are sized in hours and days: a group then folds several
  * events, across trigger boundaries.
  *
  * Funnel, CUSUM and forward as-of have their batch-twin checks in
  * PriceAlertsStreamingSpec, StreamingAnomalySpec and StreamingAsofSpec.
  */
class StreamEquivSpec extends SparkSpec {
  import StreamEquivSpec.Ev
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private lazy val events: DataFrame = Tables.events(spark, sf001)
    .select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"))
  private lazy val rows: Array[Ev] =
    events.orderBy("ts", "event_id").as[Ev].collect()
  private val sentinels = Seq(
    Ev(-1L, Timestamp.valueOf("2030-01-01 00:00:00"), -1L, "zz_sentinel", 0.0),
    Ev(-2L, Timestamp.valueOf("2030-01-01 01:00:00"), -1L, "zz_sentinel", 0.0))

  /** Runs `df` into a memory sink under the RocksDB provider, lets
    * `feed` drive it, and returns the sink's rows. The query's state
    * stores are unloaded here, quiesced, before the next shape starts.
    */
  private def run(name: String, df: DataFrame, mode: String = "append")
      (feed: StreamingQuery => Unit): Array[Row] = {
    withRocksDb {
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode(mode).start()
      try feed(q)
      finally try q.stop() finally GraftStateStoreBridge.unloadAllStateStores()
    }
    spark.table(name).collect()
  }

  /** The fixture rows in three time-ordered triggers, then (when
    * `closeWindows`) each sentinel in a trigger of its own.
    */
  private def feed(in: MemoryStream[Ev], q: StreamingQuery,
                   closeWindows: Boolean = true): Unit = {
    rows.grouped(math.max(1, rows.length / 3)).foreach { c =>
      in.addData(c.toIndexedSeq); q.processAllAvailable()
    }
    if (closeWindows) sentinels.foreach { s =>
      in.addData(s); q.processAllAvailable()
    }
  }

  /** Same keys; per key, equal counts and sums within 1e-6. */
  private def assertSums[K](got: Map[K, (Long, Double)],
                            want: Map[K, (Long, Double)]): Unit = {
    assert(want.nonEmpty, "the batch twin must not be empty on fixture data")
    assert(got.keySet == want.keySet,
      s"keys differ: ${(got.keySet diff want.keySet).take(5)} only in stream, " +
        s"${(want.keySet diff got.keySet).take(5)} only in batch")
    got.foreach { case (k, (n, sv)) =>
      assert(want(k)._1 == n && math.abs(want(k)._2 - sv) < 1e-6,
        s"$k: stream ($n, $sv) vs batch ${want(k)}")
    }
  }

  private def assertSame[T](got: T, want: T): Unit =
    assert(got == want, s"stream $got\nbatch $want")

  test("windowed aggregate (append, 1-day windows x event_type) equals batch") {
    val in = MemoryStream[Ev]
    val agg = in.toDF().withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
      .select(col("window.start"), col("event_type"), col("n"), col("sv"))
    val got = run("eq_wagg", agg)(feed(in, _))
      .filter(_.getString(1) != "zz_sentinel")
      .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val want = events
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
      .select(col("window.start"), col("event_type"), col("n"), col("sv"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assertSums(got, want)
  }

  test("latest-per-key compaction (complete mode) equals batch max_by") {
    val in = MemoryStream[Ev]
    val compact = PriceAlertsStream.latestPerKeyUpdate(
      in.toDF().withColumn("ord", struct(col("ts"), col("event_id"))),
      "user_id", "ord")
    val got = run("eq_latest", compact.select(col("user_id"), col("event_id")),
        mode = "complete")(feed(in, _, closeWindows = false))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = events
      .withColumn("ord", struct(col("ts"), col("event_id")))
      .groupBy(col("user_id"))
      .agg(max_by(col("event_id"), col("ord")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(want.nonEmpty)
    assertSame(got, want)
  }

  test("stream-stream inner interval join (12-hour lookback) equals the batch join") {
    val purchases = MemoryStream[Ev]
    val clicks = MemoryStream[Ev]
    val joined = StreamJoins.intervalJoin(
        purchases.toDF(), clicks.toDF(), key = "user_id", tsCol = "ts",
        watermarkDelay = "5 minutes", within = "12 HOURS")
      .select(col("event_id"), col("r_event_id"))
    // one trigger with both sides: every inner match emits without
    // waiting on the watermark (state eviction never precedes the data)
    val got = run("eq_ssj", joined) { q =>
      purchases.addData(rows.filter(_.event_type == "purchase").toIndexedSeq)
      clicks.addData(rows.filter(_.event_type == "click").toIndexedSeq)
      q.processAllAvailable()
    }.map(r => (r.getLong(0), r.getLong(1))).toSet
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"), col("event_id").as("l_id"))
    val c = events.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"), col("event_id").as("r_id"))
    val want = p.join(c, col("pu") === col("cu") &&
        col("cts") >= col("pts") - expr("INTERVAL 12 HOURS") &&
        col("cts") <= col("pts"))
      .select(col("l_id"), col("r_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty)
    assertSame(got, want)
  }

  test("per-(1-day window, event_type) percentiles (MRL, exact regime) equal batch quantile_disc") {
    val in = MemoryStream[Ev]
    val pct = StreamingHeavyHitters.windowPercentiles(
      in.toDF().select(col("event_type").as("grp"), col("ts"), col("value").as("v")),
      "ts", "1 day", "5 minutes", "grp", "v")
    val got = run("eq_pct", pct)(feed(in, _))
      .filter(_.getString(1) != "zz_sentinel")
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    // quantile_disc: element max(0, ceil(q·n) − 1) of the sorted values
    def qd(q: Double) =
      element_at(col("vs"), greatest(lit(0), ceil(lit(q) * size(col("vs"))).cast("int") - 1) + 1)
    val want = events
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(sort_array(collect_list(col("value"))).as("vs"))
      .select(col("w.start"), col("event_type"), size(col("vs")).cast("long"),
        qd(0.5), qd(0.95), qd(0.99))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    assert(want.nonEmpty)
    assertSame(got, want)
  }

  test("session windows (12-hour gap, append) equal the batch session_window") {
    val in = MemoryStream[Ev]
    val sess = in.toDF().withWatermark("ts", "5 minutes")
      .groupBy(session_window(col("ts"), "12 hours"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
      .select(col("session_window.start"), col("user_id"), col("n"), col("sv"))
    val got = run("eq_sess", sess)(feed(in, _))
      .filter(_.getLong(1) != -1L)
      .map(r => (r.getTimestamp(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val want = events
      .groupBy(session_window(col("ts"), "12 hours"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
      .select(col("session_window.start"), col("user_id"), col("n"), col("sv"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assertSums(got, want)
  }

  test("7-day windowed heavy hitters in the exact regime (5 types < capacity 64) equal count + rank") {
    val in = MemoryStream[Ev]
    val hh = StreamingHeavyHitters.topTokens(
      in.toDF().select(col("user_id").as("grp"), col("ts"), col("event_type").as("tok")),
      "ts", "7 days", "5 minutes", "grp", "tok")
    val got = run("eq_hh", hh)(feed(in, _))
      .filter(_.getLong(1) != -1L)
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)) ->
        (r.getString(3), r.getLong(4), r.getLong(5)))
      .toMap
    val w = Window.partitionBy(col("ws"), col("grp"))
      .orderBy(col("cnt").desc, col("tok").asc)
    val want = events
      .select(window(col("ts"), "7 days").getField("start").as("ws"),
        col("user_id").as("grp"), col("event_type").as("tok"))
      .groupBy("ws", "grp", "tok").agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= graft.operators.Sketches.SpaceSavingTopK)
      .collect()
      // exact regime: every count is exact, so the error bound is 0
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getAs[Long]("rank")) ->
        (r.getString(2), r.getLong(3), 0L))
      .toMap
    assert(want.nonEmpty)
    assertSame(got, want)
  }
}

object StreamEquivSpec {
  // top level, not inside the suite: decoding the fixture rows into an
  // inner case class would need the suite instance as its outer scope
  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                event_type: String, value: Double)
}
