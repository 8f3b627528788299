package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Batch≡stream equivalence artifact (`STREAMEQUIV.json`): runs the
  * stateful streaming shapes over the FIXTURE events table (driven
  * through MemoryStream in time-ordered chunks, RocksDB state store),
  * computes the same answer with the batch operator on the same frame,
  * and reports per-shape (rows compared, match). One JSON line on
  * stdout + file, the equivalence sibling of `STREAMBENCH.json` — the
  * assertions CheckpointRecoverySpec/PriceAlertsStreamingSpec make
  * in-process become a round-over-round diffable artifact.
  *
  * Window-closing protocol: two far-future sentinel events (excluded
  * from every comparison) advance the watermark after the real data,
  * so every real window closes and append-mode emission is complete —
  * the batch twin then needs no watermark truncation. Double-valued
  * aggregates compare under 1e-6 (stream partial-agg fold order is not
  * the batch fold order); keys, counts and discrete quantiles compare
  * exactly.
  */
object StreamEquiv {

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                event_type: String, value: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark: SparkSession = Harness.session(4, "ERROR",
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val events = graft.sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val rows = events.orderBy("ts", "event_id").as[Ev].collect()
    val sent1 = Ev(-1L, Timestamp.valueOf("2030-01-01 00:00:00"), -1L, "zz_sentinel", 0.0)
    val sent2 = Ev(-2L, Timestamp.valueOf("2030-01-01 01:00:00"), -1L, "zz_sentinel", 0.0)

    def tmp(p: String): String =
      Files.createTempDirectory(p).toFile.getAbsolutePath

    val results = scala.collection.mutable.LinkedHashMap[String, (Long, Boolean)]()

    def record(name: String, nRows: Long, ok: Boolean): Unit = {
      results(name) = (nRows, ok)
      System.err.println(s"[streamequiv] $name: rows=$nRows match=$ok")
    }

    // ── shape 1: windowed agg (10-min windows × event_type) ────────────
    locally {
      val outDir = tmp("se-wagg-out")
      val in = MemoryStream[Ev]
      val agg = in.toDF().withWatermark("ts", "5 minutes")
        .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
        .select(col("window.start").as("ws"), col("event_type"),
          col("n"), col("sv"))
      val q = agg.writeStream.format("parquet")
        .option("checkpointLocation", tmp("se-wagg-cp"))
        .option("path", outDir).outputMode("append").start()
      try {
        rows.grouped(math.max(1, rows.length / 3)).foreach { c =>
          in.addData(c.toIndexedSeq); q.processAllAvailable()
        }
        in.addData(sent1); q.processAllAvailable()
        in.addData(sent2); q.processAllAvailable()
      } finally {
        // r15: close this shape's RocksDB providers here, quiesced, on
        // this thread -- not on the maintenance tick under the next
        // shape's load (the LoggerJniCallback teardown race; see
        // GraftStateStoreBridge). stop() nested so a throwing stop
        // cannot skip the unload (r15 ADVICE).
        try q.stop()
        finally org.apache.spark.sql.execution.streaming.state
          .GraftStateStoreBridge.unloadAllStateStores()
      }
      val got = spark.read.parquet(outDir)
        .filter(col("event_type") =!= "zz_sentinel")
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) ->
          (r.getLong(2), r.getDouble(3))).toMap
      val want = events
        .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
        .select(col("window.start"), col("event_type"), col("n"), col("sv"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) ->
          (r.getLong(2), r.getDouble(3))).toMap
      val ok = got.keySet == want.keySet && got.forall { case (k, (n, sv)) =>
        want(k)._1 == n && math.abs(want(k)._2 - sv) < 1e-6
      }
      record("windowed_agg_append", got.size.toLong, ok)
    }

    // ── shape 2: latest-per-key compaction (update/complete duality) ───
    locally {
      val in = MemoryStream[Ev]
      val keyed = in.toDF().withColumn("ord", struct(col("ts"), col("event_id")))
      val compact = graft.streaming.PriceAlertsStream
        .latestPerKeyUpdate(keyed, "user_id", "ord")
      val q = compact.writeStream.format("memory")
        .queryName("se_latest").outputMode("complete").start()
      try {
        rows.grouped(math.max(1, rows.length / 3)).foreach { c =>
          in.addData(c.toIndexedSeq); q.processAllAvailable()
        }
      } finally {
        // r15: close this shape's RocksDB providers here, quiesced, on
        // this thread -- not on the maintenance tick under the next
        // shape's load (the LoggerJniCallback teardown race; see
        // GraftStateStoreBridge). stop() nested so a throwing stop
        // cannot skip the unload (r15 ADVICE).
        try q.stop()
        finally org.apache.spark.sql.execution.streaming.state
          .GraftStateStoreBridge.unloadAllStateStores()
      }
      val got = spark.table("se_latest")
        .select(col("user_id"), col("event_id")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = events
        .withColumn("ord", struct(col("ts"), col("event_id")))
        .groupBy(col("user_id"))
        .agg(max_by(col("event_id"), col("ord")).as("event_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      record("latest_per_key", got.size.toLong, got == want)
    }

    // ── shape 3: stream-stream inner interval join ─────────────────────
    locally {
      val outDir = tmp("se-ssj-out")
      val purchases = MemoryStream[Ev]
      val clicks = MemoryStream[Ev]
      val joined = graft.streaming.StreamJoins.intervalJoin(
        purchases.toDF(), clicks.toDF(), key = "user_id", tsCol = "ts",
        watermarkDelay = "5 minutes", within = "30 MINUTES")
        .select(col("event_id").as("l_id"), col("r_event_id").as("r_id"))
      val q = joined.writeStream.format("parquet")
        .option("checkpointLocation", tmp("se-ssj-cp"))
        .option("path", outDir).outputMode("append").start()
      val pRows = rows.filter(_.event_type == "purchase")
      val cRows = rows.filter(_.event_type == "click")
      try {
        // one batch per side: every inner match emits without waiting
        // on the watermark (state eviction never precedes the data)
        purchases.addData(pRows.toIndexedSeq)
        clicks.addData(cRows.toIndexedSeq)
        q.processAllAvailable()
      } finally {
        // r15: close this shape's RocksDB providers here, quiesced, on
        // this thread -- not on the maintenance tick under the next
        // shape's load (the LoggerJniCallback teardown race; see
        // GraftStateStoreBridge). stop() nested so a throwing stop
        // cannot skip the unload (r15 ADVICE).
        try q.stop()
        finally org.apache.spark.sql.execution.streaming.state
          .GraftStateStoreBridge.unloadAllStateStores()
      }
      val got = spark.read.parquet(outDir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val p = events.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("ts").as("pts"),
          col("event_id").as("l_id"))
      val c = events.filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("ts").as("cts"),
          col("event_id").as("r_id"))
      val want = p.join(c, col("pu") === col("cu") &&
          col("cts") >= col("pts") - expr("INTERVAL 30 MINUTES") &&
          col("cts") <= col("pts"))
        .select(col("l_id"), col("r_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      record("interval_join_inner", got.size.toLong, got == want)
    }

    // ── shape 4: funnel (per-user staged first-touch) ──────────────────
    locally {
      val stages = Seq("view", "click", "purchase")
      val in = MemoryStream[Ev]
      val adv = graft.streaming.FunnelStream.advances(in.toDF(), stages)
      val outDir = tmp("se-funnel-out")
      val q = adv.toDF().writeStream.format("parquet")
        .option("checkpointLocation", tmp("se-funnel-cp"))
        .option("path", outDir).outputMode("append").start()
      try {
        rows.grouped(math.max(1, rows.length / 3)).foreach { c =>
          in.addData(c.toIndexedSeq); q.processAllAvailable()
        }
      } finally {
        // r15: close this shape's RocksDB providers here, quiesced, on
        // this thread -- not on the maintenance tick under the next
        // shape's load (the LoggerJniCallback teardown race; see
        // GraftStateStoreBridge). stop() nested so a throwing stop
        // cannot skip the unload (r15 ADVICE).
        try q.stop()
        finally org.apache.spark.sql.execution.streaming.state
          .GraftStateStoreBridge.unloadAllStateStores()
      }
      val got = spark.read.parquet(outDir).collect()
        .groupBy(_.getAs[Int]("stage_idx"))
        .map { case (i, rs) =>
          i.toLong -> rs.map(_.getAs[Long]("user_id")).distinct.length.toLong }
      val want = graft.operators.Relational.funnel(
          events.select("user_id", "event_type", "ts"), stages)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
        .filter(_._2 > 0)
      record("funnel", got.values.sum, got == want)
    }

    // ── shape 5: per-(window, user) discrete percentiles (MRL exact) ───
    locally {
      val outDir = tmp("se-pct-out")
      val in = MemoryStream[Ev]
      val vals = in.toDF()
        .select(col("user_id").as("grp"), col("ts"), col("value").as("v"))
      val pct = graft.streaming.StreamingHeavyHitters.windowPercentiles(
        vals, "ts", "10 minutes", "5 minutes", "grp", "v", k = 64)
      val q = pct.writeStream.format("parquet")
        .option("checkpointLocation", tmp("se-pct-cp"))
        .option("path", outDir).outputMode("append").start()
      try {
        rows.grouped(math.max(1, rows.length / 3)).foreach { c =>
          in.addData(c.toIndexedSeq); q.processAllAvailable()
        }
        in.addData(sent1); q.processAllAvailable()
        in.addData(sent2); q.processAllAvailable()
      } finally {
        // r15: close this shape's RocksDB providers here, quiesced, on
        // this thread -- not on the maintenance tick under the next
        // shape's load (the LoggerJniCallback teardown race; see
        // GraftStateStoreBridge). stop() nested so a throwing stop
        // cannot skip the unload (r15 ADVICE).
        try q.stop()
        finally org.apache.spark.sql.execution.streaming.state
          .GraftStateStoreBridge.unloadAllStateStores()
      }
      val got = spark.read.parquet(outDir)
        .filter(col("grp") =!= -1L)
        .collect()
        .map(r => (r.getTimestamp(0), r.getLong(1)) ->
          (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
        .toMap
      // batch quantile_disc twin: idx = max(0, ceil(q*n)-1) of sorted
      def qd(q: Double) = {
        val idx = greatest(lit(0),
          ceil(lit(q) * size(col("vs"))).cast("int") - 1)
        element_at(col("vs"), idx + 1)
      }
      val want = events
        .groupBy(window(col("ts"), "10 minutes").as("w"), col("user_id"))
        .agg(sort_array(collect_list(col("value"))).as("vs"))
        .select(col("w.start"), col("user_id"),
          size(col("vs")).cast("long").as("n"),
          qd(0.5).as("p50"), qd(0.95).as("p95"), qd(0.99).as("p99"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getLong(1)) ->
          (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
        .toMap
      record("window_percentiles", got.size.toLong, got == want)
    }

    // ── shape 6: session windows (30-min gap) — q28's batch operator
    // IS the twin: Spark's session_window works identically in batch
    locally {
      val outDir = tmp("se-sess-out")
      val in = MemoryStream[Ev]
      val sess = in.toDF().withWatermark("ts", "5 minutes")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
        .select(col("session_window.start").as("ss"), col("user_id"),
          col("n"), col("sv"))
      val q = sess.writeStream.format("parquet")
        .option("checkpointLocation", tmp("se-sess-cp"))
        .option("path", outDir).outputMode("append").start()
      try {
        rows.grouped(math.max(1, rows.length / 3)).foreach { c =>
          in.addData(c.toIndexedSeq); q.processAllAvailable()
        }
        in.addData(sent1); q.processAllAvailable()
        in.addData(sent2); q.processAllAvailable()
      } finally {
        // r15: close this shape's RocksDB providers here, quiesced, on
        // this thread -- not on the maintenance tick under the next
        // shape's load (the LoggerJniCallback teardown race; see
        // GraftStateStoreBridge). stop() nested so a throwing stop
        // cannot skip the unload (r15 ADVICE).
        try q.stop()
        finally org.apache.spark.sql.execution.streaming.state
          .GraftStateStoreBridge.unloadAllStateStores()
      }
      val got = spark.read.parquet(outDir)
        .filter(col("user_id") =!= -1L)
        .collect()
        .map(r => (r.getTimestamp(0), r.getLong(1)) ->
          (r.getLong(2), r.getDouble(3))).toMap
      val want = events
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
        .select(col("session_window.start"), col("user_id"),
          col("n"), col("sv"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getLong(1)) ->
          (r.getLong(2), r.getDouble(3))).toMap
      val ok = got.keySet == want.keySet && got.forall { case (k, (n, sv)) =>
        want(k)._1 == n && math.abs(want(k)._2 - sv) < 1e-6
      }
      record("session_windows", got.size.toLong, ok)
    }

    // ── shape 7: windowed heavy hitters in the EXACT regime (5 event
    // types ≪ capacity 16) — batch twin is a plain count + rank
    locally {
      val outDir = tmp("se-hh-out")
      val in = MemoryStream[Ev]
      val toks = in.toDF()
        .select(col("user_id").as("grp"), col("ts"),
          col("event_type").as("tok"))
      val hh = graft.streaming.StreamingHeavyHitters.topTokens(
        toks, "ts", "60 minutes", "5 minutes", "grp", "tok",
        capacity = 16, k = 3)
      val q = hh.writeStream.format("parquet")
        .option("checkpointLocation", tmp("se-hh-cp"))
        .option("path", outDir).outputMode("append").start()
      try {
        rows.grouped(math.max(1, rows.length / 3)).foreach { c =>
          in.addData(c.toIndexedSeq); q.processAllAvailable()
        }
        in.addData(sent1); q.processAllAvailable()
        in.addData(sent2); q.processAllAvailable()
      } finally {
        // r15: close this shape's RocksDB providers here, quiesced, on
        // this thread -- not on the maintenance tick under the next
        // shape's load (the LoggerJniCallback teardown race; see
        // GraftStateStoreBridge). stop() nested so a throwing stop
        // cannot skip the unload (r15 ADVICE).
        try q.stop()
        finally org.apache.spark.sql.execution.streaming.state
          .GraftStateStoreBridge.unloadAllStateStores()
      }
      val got = spark.read.parquet(outDir)
        .filter(col("grp") =!= -1L)
        .collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)) ->
          (r.getString(3), r.getLong(4), r.getLong(5))).toMap
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("ws"), col("grp"))
        .orderBy(col("cnt").desc, col("tok").asc)
      val want = events
        .select(window(col("ts"), "60 minutes").getField("start").as("ws"),
          col("user_id").as("grp"), col("event_type").as("tok"))
        .groupBy("ws", "grp", "tok").agg(count(lit(1)).as("cnt"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getAs[Long]("rank")) ->
          (r.getString(2), r.getLong(3), 0L)).toMap
      val ok = got.keySet == want.keySet && got.forall { case (k, (t, c, e)) =>
        want(k)._1 == t && want(k)._2 == c && e == 0L
      }
      record("windowed_heavy_hitters", got.size.toLong, ok)
    }

    // ── shape 8: CUSUM change-point alarms (q151's streaming twin) ─────
    locally {
      import graft.streaming.StreamingCusum.CPt
      val outDir = tmp("se-cusum-out")
      // calibration: the per-key mean q151's batch job derives — fed
      // identically to both forms (stream-static join in production)
      val means = events.filter(col("value").isNotNull)
        .groupBy(col("user_id"))
        .agg((sum(col("value")) / count(lit(1))).as("mean"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val in = MemoryStream[CPt]
      val det = graft.streaming.StreamingCusum.detect(spark, in.toDF())
      val q = det.toDF().writeStream.format("parquet")
        .option("checkpointLocation", tmp("se-cusum-cp"))
        .option("path", outDir).outputMode("append").start()
      val pts = rows.filter(r => means.contains(r.user_id)).map(r =>
        CPt(r.user_id.toString, r.ts, r.event_id, r.value,
          means(r.user_id)))
      try {
        pts.grouped(math.max(1, pts.length / 3)).foreach { c =>
          in.addData(c.toIndexedSeq); q.processAllAvailable()
        }
      } finally {
        // r15: close this shape's RocksDB providers here, quiesced, on
        // this thread -- not on the maintenance tick under the next
        // shape's load (the LoggerJniCallback teardown race; see
        // GraftStateStoreBridge). stop() nested so a throwing stop
        // cannot skip the unload (r15 ADVICE).
        try q.stop()
        finally org.apache.spark.sql.execution.streaming.state
          .GraftStateStoreBridge.unloadAllStateStores()
      }
      val got = spark.read.parquet(outDir)
        .filter(col("alarm")).groupBy(col("key"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0).toLong -> r.getLong(1)).toMap
      val want = graft.operators.TimeSeries.cusum(events)
        .select(col("user_id"), col("n_alarms")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
        .filter(_._2 > 0)
      record("cusum_alarms", got.values.sum, got == want)
    }

    // ── shape 9: forward as-of with tolerance (q180's streaming twin) ──
    locally {
      import graft.streaming.StreamingAsof
      import graft.streaming.StreamingAsof.{Ev => FEv}
      val tolMs = 30L * 60L * 1000L
      val outDir = tmp("se-fasof-out")
      val in = MemoryStream[FEv]
      val det = StreamingAsof.matches(spark, in.toDF(), tolMs,
        watermarkDelay = "10 minutes")
      val q = det.toDF().writeStream.format("parquet")
        .option("checkpointLocation", tmp("se-fasof-cp"))
        .option("path", outDir).outputMode("append").start()
      val pe = rows.filter(r =>
        r.event_type == "purchase" || r.event_type == "error")
        .map(r => FEv(r.user_id, r.event_id, r.ts, r.event_type))
      try {
        pe.grouped(math.max(1, pe.length / 3)).foreach { c =>
          in.addData(c.toIndexedSeq); q.processAllAvailable()
        }
        // sentinels: fire every pending purchase timer
        in.addData(FEv(-1L, -1L, sent1.ts, "view")); q.processAllAvailable()
        in.addData(FEv(-1L, -2L, sent2.ts, "view")); q.processAllAvailable()
      } finally {
        // r15: close this shape's RocksDB providers here, quiesced, on
        // this thread -- not on the maintenance tick under the next
        // shape's load (the LoggerJniCallback teardown race; see
        // GraftStateStoreBridge). stop() nested so a throwing stop
        // cannot skip the unload (r15 ADVICE).
        try q.stop()
        finally org.apache.spark.sql.execution.streaming.state
          .GraftStateStoreBridge.unloadAllStateStores()
      }
      val got = spark.read.parquet(outDir).collect()
        .map(r => (r.getAs[Long]("p_id"), r.getAs[Long]("next_error_id"),
          r.getAs[Long]("delta_s"))).toSet
      val purchases = events.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"),
          col("ts").as("p_ts"))
      val errors = events.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("e_id"),
          col("ts").as("e_ts"))
      val want = graft.operators.AsOfJoin.asofForward(purchases, errors,
          "user_id", "user_id", "p_ts", "e_ts", "e_id", tolMs * 1000L)
        .select(col("p_id"), col("asof_e_id"),
          ((unix_micros(col("asof_e_ts")) - unix_micros(col("p_ts")))
            / 1000000L).cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      record("forward_asof_tolerance", got.size.toLong, got == want)
    }

    val shapes = Harness.obj(results.map { case (n, (r, ok)) =>
      n -> s"""{"rows":$r,"match":$ok}""" })
    val allOk = results.values.forall(_._2)
    val line =
      s"""{"metric":"stream_batch_equivalence","all_match":$allOk,"shapes":$shapes,"sf":"$sfDir"}"""
    Harness.finish(spark, sys.env.getOrElse("SPARK_GRAFT_STREAMEQUIV_OUT", "STREAMEQUIV.json"),
      line, line)
    if (!allOk) sys.exit(1)
  }
}
