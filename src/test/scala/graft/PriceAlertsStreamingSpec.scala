package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.{PriceAlertsStream, ProcessorAlerts}

/** Streaming twins of the golden scenarios: W3 (update-mode eager
  * emission) and W4 (append-mode emit-once-on-close), plus the
  * transformWithState processor escape hatch on both clocks and the
  * streaming latest-per-key compaction.
  */
class PriceAlertsStreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  case class P(id: Long, quantity: Long, productid: Long, ts: Timestamp)
  case class Prod(id: Long, name: String, price: Double, ts: Timestamp)
  case class Doc(doc_id: Long, text: String, ts: Timestamp)
  case class Ev(user_id: Long, event_type: String, ts: Timestamp)

  private val t0230 = Timestamp.valueOf("2024-01-01 00:02:30")
  private val w0200 = Timestamp.valueOf("2024-01-01 00:02:00")

  private def products(price: Double): DataFrame =
    Seq((1L, "prod", "desc", price)).toDF("id", "name", "description", "price")

  private def runQuery(df: DataFrame, mode: String, name: String)
      (drive: StreamingQuery => Unit): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try drive(q) finally q.stop()
    spark.table(name)
  }

  private def joined(in: MemoryStream[P]): DataFrame =
    graft.operators.PriceAlerts.purchasesWithProducts(in.toDF(), products(300.0))

  /** Physical plan of the query's last micro-batch. */
  private def lastPlan(q: StreamingQuery): SparkPlan =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan

  /** Plan walks that descend into adaptive query stages. */
  private object Aqe extends AdaptiveSparkPlanHelper

  /** Processing-time timers keep the engine running a batch per
    * trigger (processAllAvailable never settles), so wall-clock tests
    * start on a fixed trigger and poll the sink instead.
    */
  private def startPolled(df: DataFrame, name: String): StreamingQuery =
    df.writeStream.format("memory").queryName(name).outputMode("append")
      .trigger(Trigger.ProcessingTime("500 milliseconds")).start()

  /** Product-1 rows in sink `name`, polled until non-empty or `waitMs`. */
  private def pollAlerts(name: String, waitMs: Long): Array[org.apache.spark.sql.Row] = {
    def rows() = spark.table(name).collect()
      .filter(_.getAs[String]("product_id") == "1")
    val deadline = System.currentTimeMillis() + waitMs
    while (rows().isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(500)
    rows()
  }

  test("W3 DSL update mode: alert emitted eagerly, without window close") {
    val in = MemoryStream[P]
    val alerts = PriceAlertsStream.dslAlertsUpdate(in.toDF(), products(300.0))
    val out = runQuery(alerts, "update", "w3_out") { q =>
      in.addData((1L to 6L).map(i => P(i, 2L, 1L, t0230)))
      q.processAllAvailable() // no later event ever arrives: window never closes
    }
    val rows = out.collect()
    assert(rows.nonEmpty, "update mode must emit without the window closing")
    val last = rows.last
    assert(last.getAs[String]("product_id") == "1")
    assert(last.getAs[Timestamp]("window_start") == w0200)
    assert(last.getAs[Double]("total_sum_per_minute") == 3600.0)
  }

  test("W3 continuous refinement: a second batch re-emits the updated sum") {
    val in = MemoryStream[P]
    val alerts = PriceAlertsStream.dslAlertsUpdate(in.toDF(), products(300.0))
    val out = runQuery(alerts, "update", "w3b_out") { q =>
      in.addData((1L to 6L).map(i => P(i, 2L, 1L, t0230)))
      q.processAllAvailable()
      in.addData(P(7L, 1L, 1L, t0230))
      q.processAllAvailable()
    }
    val totals = out.collect().map(_.getAs[Double]("total_sum_per_minute")).toSeq
    assert(totals.contains(3600.0) && totals.contains(3900.0))
  }

  test("W4 append mode: nothing until watermark passes, exactly one emission after") {
    val in = MemoryStream[P]
    val alerts = PriceAlertsStream.processorAlertsAppend(
      in.toDF(), products(300.0), threshold = 10.0)
    val out = runQuery(alerts, "append", "w4_out") { q =>
      in.addData((1L to 6L).map(i => P(i, 2L, 1L, t0230)))
      q.processAllAvailable()
      assert(spark.table("w4_out").isEmpty,
        "append mode must not emit while the window is open")
      // advance event time 2 min past the window => watermark closes it
      in.addData(P(100L, 1L, 1L, Timestamp.valueOf("2024-01-01 00:05:00")))
      q.processAllAvailable()
    }
    val rows = out.collect().filter(_.getAs[Timestamp]("window_start") == w0200)
    assert(rows.length == 1, "exactly one emission per closed window")
    assert(rows.head.getAs[Double]("total_sum_per_minute") == 3600.0)
  }

  test("transformWithState processor: golden 3600, emit-once via timers") {
    withRocksDb {
      val in = MemoryStream[P]
      val alerts = ProcessorAlerts.alerts(spark, joined(in), threshold = 10.0)
      val out = runQuery(alerts.toDF(), "append", "tws_out") { q =>
        in.addData((1L to 6L).map(i => P(i, 2L, 1L, t0230)))
        q.processAllAvailable()
        in.addData(P(100L, 1L, 1L, Timestamp.valueOf("2024-01-01 00:05:00")))
        q.processAllAvailable()
        // third batch: nothing new for window 02:00 => no duplicate emission
        in.addData(P(101L, 1L, 1L, Timestamp.valueOf("2024-01-01 00:07:00")))
        q.processAllAvailable()
      }
      val rows = out.collect().filter(_.getAs[Timestamp]("window_start") == w0200)
      assert(rows.length == 1, "window 02:00 must be emitted exactly once")
      assert(rows.head.getAs[Double]("total_sum_per_minute") == 3600.0)
      assert(rows.head.getAs[String]("product_id") == "1")
    }
  }

  test("W7 wall-clock punctuator variant: emits after processing-time period") {
    // 2024 windows ended long ago in processing time: the timer
    // registered on the data path fires in the same batch
    withRocksDb {
      val in = MemoryStream[P]
      val alerts = ProcessorAlerts.alertsWallClock(spark, joined(in), threshold = 10.0)
      val q = startPolled(alerts.toDF(), "wallclock_out")
      try {
        in.addData((1L to 6L).map(i => P(i, 2L, 1L, t0230)))
        val rows = pollAlerts("wallclock_out", 60000)
        assert(rows.length == 1, "one emission after the punctuator fires")
        assert(rows.head.getAs[Double]("total_sum_per_minute") == 3600.0)
        assert(rows.head.getAs[Timestamp]("window_start") == w0200)
        Thread.sleep(3000) // further timer batches must not re-emit
        assert(pollAlerts("wallclock_out", 0).length == 1,
          "state deleted after emission (no re-emit)")
      } finally q.stop()
    }
  }

  test("W7 wall-clock: an idle key's open window closes on its timer, exactly once") {
    withRocksDb {
      val in = MemoryStream[P]
      val alerts = ProcessorAlerts.alertsWallClock(spark, joined(in), threshold = 10.0)
      val q = startPolled(alerts.toDF(), "idle_out")
      try {
        // keep >= 5 s of the current minute so the data batch lands
        // while its window is still open
        if (60000 - System.currentTimeMillis() % 60000 < 5000)
          Thread.sleep(60000 - System.currentTimeMillis() % 60000 + 100)
        val now = System.currentTimeMillis()
        val windowStart = now - now % 60000
        in.addData((1L to 6L).map(i => P(i, 2L, 1L, new Timestamp(now))))
        // no further input for the key: only its timer can close the window
        val rows = pollAlerts("idle_out", 90000)
        val seenAt = System.currentTimeMillis()
        assert(rows.length == 1, "one emission once the window has ended")
        assert(seenAt >= windowStart + 60000, "no emission while the window is open")
        assert(rows.head.getAs[Timestamp]("window_start") == new Timestamp(windowStart))
        assert(rows.head.getAs[Double]("total_sum_per_minute") == 3600.0)
        Thread.sleep(3000)
        assert(pollAlerts("idle_out", 0).length == 1, "no re-emit")
      } finally q.stop()
    }
  }

  test("W4 append mode runs on the RocksDB state store provider") {
    withRocksDb {
      val in = MemoryStream[P]
      val alerts = PriceAlertsStream.processorAlertsAppend(
        in.toDF(), products(300.0), threshold = 10.0)
      val out = runQuery(alerts, "append", "rocks_out") { q =>
        in.addData((1L to 6L).map(i => P(i, 2L, 1L, t0230)))
        q.processAllAvailable()
        in.addData(P(100L, 1L, 1L, Timestamp.valueOf("2024-01-01 00:05:00")))
        q.processAllAvailable()
      }
      val rows = out.collect().filter(_.getAs[Timestamp]("window_start") == w0200)
      assert(rows.length == 1)
      assert(rows.head.getAs[Double]("total_sum_per_minute") == 3600.0)
    }
  }

  test("streaming join: an inline products dimension leaves no LocalRelation, still broadcast") {
    val in = MemoryStream[P]
    val j = joined(in)
    assert(j.queryExecution.analyzed.collect { case l: LocalRelation => l }.isEmpty,
      "the inline rows must not be re-planned at every trigger")
    var plan: SparkPlan = null
    val out = runQuery(j, "append", "dim_inline_out") { q =>
      in.addData(P(1L, 2L, 1L, t0230), P(2L, 3L, 9L, t0230))
      q.processAllAvailable()
      plan = lastPlan(q)
    }
    assert(Aqe.collect(plan) { case b: BroadcastHashJoinExec => b }.nonEmpty,
      s"the dimension must stay broadcast:\n$plan")
    val rows = out.collect()
    assert(rows.length == 1, "product 9 has no dimension row: inner join drops it")
    assert(rows.head.getAs[String]("product_name") == "prod")
    assert(rows.head.getAs[Double]("product_price") == 300.0)
  }

  test("streaming join: a parquet products dimension keeps its file scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dim").toFile.getAbsolutePath + "/products"
    products(300.0).write.parquet(dir)
    val in = MemoryStream[P]
    val j = graft.operators.PriceAlerts.purchasesWithProducts(in.toDF(), spark.read.parquet(dir))
    assert(j.queryExecution.analyzed.collect { case l: LogicalRelation => l }.nonEmpty,
      "a source-backed dimension must stay a source, re-read each micro-batch")
    var plan: SparkPlan = null
    val out = runQuery(j, "append", "dim_parquet_out") { q =>
      in.addData(P(1L, 2L, 1L, t0230))
      q.processAllAvailable()
      plan = lastPlan(q)
    }
    assert(Aqe.collect(plan) { case f: FileSourceScanExec => f }.nonEmpty,
      s"the micro-batch must scan the parquet files:\n$plan")
    assert(Aqe.collect(plan) { case b: BroadcastHashJoinExec => b }.nonEmpty)
    assert(out.collect().map(_.getAs[Double]("product_price")).toSeq == Seq(300.0))
  }

  test("A3 streaming latest-per-key: last write per product wins") {
    val in = MemoryStream[Prod]
    val compacted = PriceAlertsStream.latestPerKeyUpdate(in.toDF(), "id", "ts")
    val out = runQuery(compacted, "complete", "a3_out") { q =>
      in.addData(
        Prod(1L, "v1", 100.0, Timestamp.valueOf("2024-01-01 00:00:01")),
        Prod(1L, "v2", 200.0, Timestamp.valueOf("2024-01-01 00:00:02")),
        Prod(2L, "x1", 50.0, Timestamp.valueOf("2024-01-01 00:00:01")))
      q.processAllAvailable()
    }
    val byId = out.collect().map(r => r.getAs[Long]("id") ->
      (r.getAs[String]("name"), r.getAs[Double]("price"))).toMap
    assert(byId(1L) == ("v2", 200.0))
    assert(byId(2L) == ("x1", 50.0))
  }

  test("stream-stream interval join: correlates events within the window, not outside") {
    val clicks = MemoryStream[Doc]    // (doc_id=user, text=label, ts)
    val buys = MemoryStream[Doc]
    val joined = graft.streaming.StreamJoins.intervalJoin(
      clicks.toDF(), buys.toDF(), key = "doc_id", tsCol = "ts",
      watermarkDelay = "1 minute", within = "10 MINUTES")
    val out = runQuery(joined, "append", "ssj_out") { q =>
      clicks.addData(Doc(1L, "click", Timestamp.valueOf("2024-01-01 00:20:00")))
      buys.addData(
        Doc(1L, "buy-recent", Timestamp.valueOf("2024-01-01 00:15:00")),
        Doc(1L, "buy-stale", Timestamp.valueOf("2024-01-01 00:05:00")),
        Doc(2L, "buy-other-user", Timestamp.valueOf("2024-01-01 00:18:00")))
      q.processAllAvailable()
    }
    val labels = out.collect().map(_.getAs[String]("r_text")).toSet
    assert(labels == Set("buy-recent"),
      "only the same-user purchase within 10 minutes must match")
  }

  test("interval join: r_-prefix collisions fail fast on BOTH sides") {
    import org.apache.spark.sql.functions.col
    val clicks = MemoryStream[Doc]
    val buys = MemoryStream[Doc]
    // right side already carrying an r_ column (e.g. a previous
    // interval-join output chained back in)
    val exR = intercept[IllegalArgumentException] {
      graft.streaming.StreamJoins.intervalJoin(
        clicks.toDF(), buys.toDF().withColumnRenamed("text", "r_text"),
        key = "doc_id", tsCol = "ts",
        watermarkDelay = "1 minute", within = "10 MINUTES")
    }
    assert(exR.getMessage.contains("right side already has r_-prefixed"))
    // left side carrying a column that collides with a renamed right
    // column AFTER prefixing (the r13 symmetric guard)
    val exL = intercept[IllegalArgumentException] {
      graft.streaming.StreamJoins.intervalJoin(
        clicks.toDF().withColumn("r_text", col("text")), buys.toDF(),
        key = "doc_id", tsCol = "ts",
        watermarkDelay = "1 minute", within = "10 MINUTES")
    }
    assert(exL.getMessage.contains("collide with the r_-prefixed"))
  }

  test("streaming heavy hitters: per-window SpaceSaving top-k matches an exact recount") {
    import org.apache.spark.sql.functions.{col, explode, split}
    val in = MemoryStream[Doc]
    // token stream: doc_id is the group, words of text are the tokens
    val toks = in.toDF()
      .select(col("doc_id").as("grp"), col("ts"),
        explode(split(col("text"), " ")).as("tok"))
    val hh = graft.streaming.StreamingHeavyHitters.topTokens(
      toks, "ts", "1 minute", "30 seconds", "grp", "tok")
    val out = runQuery(hh, "append", "hh_out") { q =>
      in.addData(
        Doc(1L, "a a a b b c", Timestamp.valueOf("2024-01-01 00:00:10")),
        Doc(1L, "a b d", Timestamp.valueOf("2024-01-01 00:00:40")),
        Doc(2L, "x y y", Timestamp.valueOf("2024-01-01 00:00:20")))
      q.processAllAvailable()
      // close the 00:00 window
      in.addData(Doc(9L, "z", Timestamp.valueOf("2024-01-01 00:10:00")))
      q.processAllAvailable()
    }
    val rows = out.collect()
      .filter(_.getAs[Timestamp]("window_start") ==
        Timestamp.valueOf("2024-01-01 00:00:00"))
      .map(r => (r.getAs[Long]("grp"), r.getAs[Long]("rank"),
        r.getAs[String]("token"), r.getAs[Long]("cnt"), r.getAs[Long]("err")))
    // capacity 64 > distinct tokens → exact regime: counts are true;
    // the top 5 hold every token, ties in token order
    val g1 = rows.filter(_._1 == 1L).sortBy(_._2)
    assert(g1.map(t => (t._3, t._4, t._5)).toSeq ==
      Seq(("a", 4L, 0L), ("b", 3L, 0L), ("c", 1L, 0L), ("d", 1L, 0L)),
      s"group-1 top-5 wrong: ${g1.toSeq}")
    val g2 = rows.filter(_._1 == 2L).sortBy(_._2)
    assert(g2.map(t => (t._3, t._4)).toSeq == Seq(("y", 2L), ("x", 1L)))
  }

  test("streaming window percentiles: closed window emits exact quantile_disc values") {
    import org.apache.spark.sql.functions.col
    val in = MemoryStream[P]
    val vals = in.toDF()
      .select(col("productid").as("grp"), col("ts"),
        col("quantity").cast("double").as("v"))
    val pct = graft.streaming.StreamingHeavyHitters.windowPercentiles(
      vals, "ts", "1 minute", "30 seconds", "grp", "v")
    val out = runQuery(pct, "append", "pct_out") { q =>
      // group 1: values 1..10 in one window → p50=5, p95=10, p99=10
      in.addData((1 to 10).map(i =>
        P(i.toLong, i.toLong, 1L, Timestamp.valueOf("2024-01-01 00:00:30"))): _*)
      q.processAllAvailable()
      in.addData(P(99L, 1L, 9L, Timestamp.valueOf("2024-01-01 00:10:00")))
      q.processAllAvailable()
    }
    val rows = out.collect().filter(_.getAs[Long]("grp") == 1L)
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("n") == 10L)
    // quantile_disc rule: idx = max(0, ceil(q*n)-1) of sorted values
    assert(r.getAs[Double]("p50") == 5.0 && r.getAs[Double]("p95") == 10.0 &&
      r.getAs[Double]("p99") == 10.0, s"percentiles wrong: $r")
  }

  test("stream-stream LEFT OUTER interval join: unmatched left emits nulls after watermark proof") {
    val clicks = MemoryStream[Doc]
    val buys = MemoryStream[Doc]
    val joined = graft.streaming.StreamJoins.intervalJoinLeftOuter(
      clicks.toDF(), buys.toDF(), key = "doc_id", tsCol = "ts",
      watermarkDelay = "1 minute", within = "10 MINUTES")
    val out = runQuery(joined, "append", "ssloj_out") { q =>
      clicks.addData(
        Doc(1L, "click-matched", Timestamp.valueOf("2024-01-01 00:20:00")),
        Doc(2L, "click-alone", Timestamp.valueOf("2024-01-01 00:20:00")))
      buys.addData(Doc(1L, "buy", Timestamp.valueOf("2024-01-01 00:15:00")))
      q.processAllAvailable()
      // advance BOTH watermarks far past 00:20 + within + delay so the
      // engine can PROVE click-2 will never match and emit its null row
      clicks.addData(Doc(9L, "wm", Timestamp.valueOf("2024-01-01 02:00:00")))
      buys.addData(Doc(9L, "wm", Timestamp.valueOf("2024-01-01 02:00:00")))
      q.processAllAvailable()
    }
    val rows = out.collect()
      .map(r => r.getAs[String]("text") -> Option(r.getAs[String]("r_text")))
      .toMap
    assert(rows("click-matched") == Some("buy"),
      "matched pair must carry the right side")
    assert(rows.contains("click-alone") && rows("click-alone").isEmpty,
      s"unmatched left must emit with nulls once provably unmatched: $rows")
  }

  test("streaming session window: gap merge + watermark close") {
    import org.apache.spark.sql.functions.{col, session_window}
    val in = MemoryStream[Doc]
    val sessions = in.toDF()
      .withWatermark("ts", "1 minute")
      .groupBy(session_window(col("ts"), "10 minutes"), col("doc_id"))
      .count()
      .select(col("doc_id"), col("session_window.start").as("session_start"),
        col("count"))
    val out = runQuery(sessions, "append", "sess_out") { q =>
      in.addData(
        Doc(1L, "a", Timestamp.valueOf("2024-01-01 00:00:00")),
        Doc(1L, "b", Timestamp.valueOf("2024-01-01 00:05:00")), // same session
        Doc(1L, "c", Timestamp.valueOf("2024-01-01 00:30:00"))) // new session
      q.processAllAvailable()
      in.addData(Doc(2L, "d", Timestamp.valueOf("2024-01-01 02:00:00"))) // advance wm
      q.processAllAvailable()
    }
    val rows = out.collect().filter(_.getAs[Long]("doc_id") == 1L)
      .map(r => r.getAs[Timestamp]("session_start") -> r.getAs[Long]("count")).toMap
    assert(rows == Map(
      Timestamp.valueOf("2024-01-01 00:00:00") -> 2L,
      Timestamp.valueOf("2024-01-01 00:30:00") -> 1L))
  }

  test("streaming funnel: stage advances in-stream, first-touch order") {
    withRocksDb(testFunnel())
  }

  private def testFunnel(): Unit = {
    val in = MemoryStream[Ev]
    val adv = graft.streaming.FunnelStream.advances(
      in.toDF(), Seq("view", "click", "purchase"))
    val out = runQuery(adv.toDF(), "append", "funnel_out") { q =>
      in.addData(
        Ev(1L, "view", Timestamp.valueOf("2024-01-01 00:00:10")),
        Ev(1L, "click", Timestamp.valueOf("2024-01-01 00:00:20")),
        Ev(2L, "click", Timestamp.valueOf("2024-01-01 00:00:05")), // pre-view
        Ev(2L, "view", Timestamp.valueOf("2024-01-01 00:00:10")))
      q.processAllAvailable()
      // purchase arrives in a LATER batch — state carries across
      in.addData(Ev(1L, "purchase", Timestamp.valueOf("2024-01-01 00:00:30")))
      q.processAllAvailable()
    }
    val rows = out.collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("stage_idx"),
        r.getAs[String]("stage"))).toSet
    assert(rows == Set((1L, 1, "view"), (1L, 2, "click"),
      (1L, 3, "purchase"), (2L, 1, "view")))
  }

  test("streaming funnel == batch funnel on time-ordered fixture events") {
    withRocksDb(testFunnelEquivalence())
  }

  private def testFunnelEquivalence(): Unit = {
    val stages = Seq("view", "click", "purchase")
    val events = graft.sources.Tables.events(spark, sf001)
      .select("user_id", "event_type", "ts")
    // batch answer: users per stage
    val batch = graft.operators.Relational.funnel(events, stages)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // streaming answer: same events fed in 3 time-ordered chunks
    val rows = events.orderBy("ts")
      .collect()
      .map(r => Ev(r.getLong(0), r.getString(1), r.getTimestamp(2)))
    val in = MemoryStream[Ev]
    val adv = graft.streaming.FunnelStream.advances(in.toDF(), stages)
    val out = runQuery(adv.toDF(), "append", "funnel_eq_out") { q =>
      rows.grouped(math.max(1, rows.length / 3)).foreach { chunk =>
        in.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
    }
    val streaming = out.collect()
      .groupBy(_.getAs[Int]("stage_idx"))
      .map { case (i, rs) => i.toLong -> rs.map(_.getAs[Long]("user_id")).distinct.length.toLong }
    assert(streaming == batch.filter(_._2 > 0),
      s"streaming $streaming vs batch $batch")
  }

  test("streaming fingerprint dedup: duplicate text dropped within watermark") {
    val in = MemoryStream[Doc]
    val deduped = graft.streaming.StreamingDedup.byFingerprint(
      in.toDF(), "ts", "10 minutes")
    val out = runQuery(deduped, "append", "dedup_out") { q =>
      in.addData(
        Doc(1L, "Hello  World", Timestamp.valueOf("2024-01-01 00:00:01")),
        Doc(2L, "hello world", Timestamp.valueOf("2024-01-01 00:00:02")),
        Doc(3L, "different", Timestamp.valueOf("2024-01-01 00:00:03")))
      q.processAllAvailable()
    }
    // doc 1 and 2 normalize to the same fingerprint -> one survives
    assert(out.collect().map(_.getAs[Long]("doc_id")).toSet.size == 2)
  }

  test("streaming simhash dedup: token-reordered near-dup dropped, distinct kept") {
    withRocksDb {
      val in = MemoryStream[Doc]
      // a reordered token multiset collides exactly (hamming 0)
      val deduped = graft.streaming.StreamingDedup.bySimhashNearDup(
        in.toDF(), "ts", "10 minutes")
      val out = runQuery(deduped, "append", "simdedup_out") { q =>
        in.addData(
          Doc(1L, "the quick brown fox jumps high", Timestamp.valueOf("2024-01-01 00:00:01")),
          // same token multiset, different order -> identical simhash
          Doc(2L, "jumps high the quick brown fox", Timestamp.valueOf("2024-01-01 00:00:02")),
          Doc(3L, "completely unrelated content here", Timestamp.valueOf("2024-01-01 00:00:03")))
        q.processAllAvailable()
        // move the watermark past the reconciliation window so the
        // per-doc verdicts emit
        in.addData(Doc(4L, "watermark mover row arriving much later",
          Timestamp.valueOf("2024-01-01 00:30:00")))
        q.processAllAvailable()
      }
      val ids = out.collect().map(_.getAs[Long]("doc_id")).toSet
      assert(ids == Set(1L, 3L), s"reordered near-dup must be dropped, got $ids")
    }
  }

  case class Media(doc_id: Long, payload: Array[Byte], ts: Timestamp)

  test("streaming image dHash dedup: identical decoded image dropped, corrupt passes through") {
    def png(text: String): Array[Byte] = {
      import spark.implicits._
      graft.operators.Multimodal.syntheticImages(spark,
          Seq((0L, text)).toDF("doc_id", "text"))
        .head().payload
    }
    val a = png("the very same image content rendered twice " * 4)
    val b = png("an entirely different picture with other bytes " * 4)
    val junk = "not an image at all".getBytes("UTF-8")
    val in = MemoryStream[Media]
    val deduped = graft.streaming.StreamingDedup.byImageDHash(
      in.toDF(), "ts", "10 minutes")
    val out = runQuery(deduped, "append", "imgdedup_out") { q =>
      in.addData(
        Media(1L, a, Timestamp.valueOf("2024-01-01 00:00:01")),
        Media(2L, a.clone(), Timestamp.valueOf("2024-01-01 00:00:02")),
        Media(3L, b, Timestamp.valueOf("2024-01-01 00:00:03")),
        Media(4L, junk, Timestamp.valueOf("2024-01-01 00:00:04")),
        Media(5L, junk.clone(), Timestamp.valueOf("2024-01-01 00:00:05")))
      q.processAllAvailable()
    }
    val ids = out.collect().map(_.getAs[Long]("doc_id")).toSet
    // one of {1,2} survives; 3 survives; BOTH corrupt records survive
    // (no shared-null-key dedup)
    assert(ids.intersect(Set(1L, 2L)).size == 1, s"dup image must drop, got $ids")
    assert(Set(3L, 4L, 5L).subsetOf(ids), s"distinct + corrupt must pass, got $ids")
  }

  test("streaming Avro corrupt-frame policy: PERMISSIVE mid-stream surfaces raw bytes") {
    import graft.sources.KafkaIO
    graft.functions.GraftFunctions.register(spark)
    val schema = new org.apache.avro.Schema.Parser().parse(KafkaIO.purchaseAvroSchema)
    def enc(id: Long): Array[Byte] = {
      val rec = new org.apache.avro.generic.GenericData.Record(schema)
      rec.put("id", id); rec.put("quantity", 2L); rec.put("productid", 3L)
      val bos = new java.io.ByteArrayOutputStream()
      val e = org.apache.avro.io.EncoderFactory.get().binaryEncoder(bos, null)
      new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](schema)
        .write(rec, e)
      e.flush()
      Array[Byte](0, 0, 0, 0, 1) ++ bos.toByteArray
    }
    val torn = Array[Byte](0, 0)
    val in = MemoryStream[Array[Byte]]
    val decoded = KafkaIO.decodeAvroFrames(in.toDF().toDF("value"),
      KafkaIO.purchaseAvroSchema, mode = "PERMISSIVE")
    val out = runQuery(decoded, "append", "avro_stream_out") { q =>
      in.addData(enc(1L), torn, enc(2L))
      q.processAllAvailable()
    }
    val rows = out.collect()
    assert(rows.length == 3, "PERMISSIVE keeps every record")
    val good = rows.filter(!_.isNullAt(rows.head.fieldIndex("decoded")))
    assert(good.map(_.getStruct(rows.head.fieldIndex("decoded")).getLong(0)).toSet
      == Set(1L, 2L))
    val bad = rows.filter(_.isNullAt(rows.head.fieldIndex("decoded")))
    assert(bad.length == 1 &&
      bad.head.getAs[Array[Byte]]("_corrupt_record").toSeq == torn.toSeq,
      "the torn frame's raw bytes must surface in _corrupt_record")
  }

  test("streaming near-dup simhash dedup: NON-identical hamming<=3 pair dropped in-stream") {
    withRocksDb(testNearDup())
  }

  private def testNearDup(): Unit = {
    graft.functions.GraftFunctions.register(spark)
    // find a variant whose simhash is NEAR (hamming 1..3) but not equal —
    // the case an exact-collision (hamming 0) guard cannot catch
    val base = "the quick brown fox jumps over the lazy dog while birds sing in the morning sun"
    val subs = Seq("sings", "evening", "bright", "red", "grey", "walks", "cold",
      "warm", "runs", "barks", "noon", "night", "field", "creek", "stone")
    val candidates = base +: subs.flatMap { w =>
      Seq(base.replace("morning", w), base.replace("sing", w), base.replace("lazy", w))
    }
    val hashes = {
      import org.apache.spark.sql.functions.col
      candidates.toDF("text")
        .select(col("text"), graft.functions.GraftFunctions.simhash64(
          graft.functions.TextFunctions.wsTokens(col("text"))).as("sh"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val baseSh = hashes(base)
    val near = candidates.tail.find { t =>
      val d = java.lang.Long.bitCount(hashes(t) ^ baseSh); d >= 1 && d <= 3
    }
    assert(near.isDefined, "fixture search must find a hamming 1..3 variant")

    val in = MemoryStream[Doc]
    val deduped = graft.streaming.StreamingDedup.bySimhashNearDup(
      in.toDF(), "ts", "10 minutes")
    val out = runQuery(deduped, "append", "neardup_out") { q =>
      in.addData(
        Doc(1L, base, Timestamp.valueOf("2024-01-01 00:00:01")),
        Doc(2L, near.get, Timestamp.valueOf("2024-01-01 00:00:05")),
        Doc(3L, "completely unrelated content about databases and distributed systems",
          Timestamp.valueOf("2024-01-01 00:00:10")))
      q.processAllAvailable()
      // advance the watermark past the reconciliation window so the
      // per-doc verdicts emit (append-on-window-close)
      in.addData(Doc(4L, "watermark mover row arriving much later",
        Timestamp.valueOf("2024-01-01 00:30:00")))
      q.processAllAvailable()
    }
    val ids = out.collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ids == Set(1L, 3L),
      s"near-dup 2 dropped, survivors 1 and 3 emitted on window close; got $ids")
  }

  case class SE(user_id: Long, value: Double, ts: Timestamp)

  test("streaming session window: gap-merged sessions emit once on close") {
    val in = MemoryStream[SE]
    // 30-minute session gap, 2-minute watermark
    val sessions = graft.streaming.SessionStream.sessions(in.toDF())
    val out = runQuery(sessions, "append", "sess_close_out") { q =>
      in.addData(
        SE(1L, 10.0, Timestamp.valueOf("2024-01-01 00:00:00")),
        SE(1L, 5.0, Timestamp.valueOf("2024-01-01 00:10:00"))) // same session
      q.processAllAvailable()
      // watermark 00:08 < session close 00:40: nothing may emit yet
      assert(spark.table("sess_close_out").isEmpty,
        "append mode must hold sessions until the watermark closes them")
      // 01:30 opens user 1's second session; 03:00 -> watermark 02:58
      // closes both of user 1's sessions
      in.addData(
        SE(1L, 7.0, Timestamp.valueOf("2024-01-01 01:30:00")),
        SE(9L, 0.0, Timestamp.valueOf("2024-01-01 03:00:00")))
      q.processAllAvailable()
    }
    val rows = out.collect().filter(_.getAs[Long]("user_id") == 1L)
      .sortBy(_.getAs[Timestamp]("session_start").getTime)
    assert(rows.length == 2, s"two closed sessions expected: ${rows.toSeq}")
    val first = rows(0)
    // session extends 30 min past its LAST event (00:10 -> 00:40 close)
    assert(first.getAs[Timestamp]("session_start") ==
      Timestamp.valueOf("2024-01-01 00:00:00"))
    assert(first.getAs[Timestamp]("session_end") ==
      Timestamp.valueOf("2024-01-01 00:40:00"))
    assert(first.getAs[Long]("n_events") == 2L)
    assert(first.getAs[Double]("sum_value") == 15.0)
    assert(rows(1).getAs[Long]("n_events") == 1L)
    assert(rows(1).getAs[Double]("sum_value") == 7.0)
  }
}
