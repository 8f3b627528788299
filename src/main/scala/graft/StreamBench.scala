package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{PriceAlertsStream, ProcessorAlerts, StreamJoins, StreamingDedup}

/** Streaming throughput benchmark battery: drives every stateful
  * streaming SHAPE the library ships (update-mode windowed agg,
  * append-mode watermark agg, transformWithState processor, watermark
  * dedup, stream-stream interval join) from the built-in `rate` source
  * into a noop sink and reports steady-state processedRowsPerSecond
  * per shape — one JSON line on stdout AND `STREAMBENCH.json` (or
  * `SPARK_GRAFT_STREAMBENCH_OUT`), the streaming sibling of
  * [[Bench]]'s artifact, so streaming-path regressions are visible
  * round-over-round.
  *
  * Context (BASELINE.md): the reference processes record-at-a-time
  * interpreted Java over Avro GenericRecord with a RocksDB get/put per
  * record, one stream thread. This measures the Spark pipeline's
  * micro-batch throughput on the same logical queries (RocksDB state
  * store provider on, matching the production/recovery configuration).
  *
  * Method notes: `processedRowsPerSecond` counts INPUT rows per
  * wall-second, so shapes that emit little (append windows that
  * haven't closed inside the run) still measure real work; the first
  * third of each run is dropped as micro-batch/codegen warmup; the
  * offered rate sits above each shape's ceiling so the engine, not the
  * source, is measured.
  *
  * Usage: tools/run.sh graft.StreamBench [secondsPerShape [shape-prefix...]]
  * — prefixes restrict the battery (dev loop); the artifact run passes
  * none.
  */
object StreamBench {

  def main(args: Array[String]): Unit = {
    val runSecs = if (args.length > 0) args(0).toInt else 20
    val spark = Harness.session(4, "ERROR",
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      // production RocksDB posture: changelog checkpointing uploads the
      // per-batch delta instead of a full snapshot per commit — the
      // recommended at-scale setting, and it directly relieves the
      // two-store interval-join shape whose per-batch commit cost is
      // snapshot-bound (state grows with the watermark gap)
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
    import spark.implicits._
    val cpus = spark.sparkContext.defaultParallelism

    // rate source cast to the purchase shape: 200 products, qty 1-10
    def purchases(rate: Long): DataFrame =
      spark.readStream.format("rate")
        .option("rowsPerSecond", rate)
        .option("numPartitions", cpus)
        .load()
        .select(
          col("value").as("id"),
          (col("value") % 10 + 1).as("quantity"),
          (col("value") % 200).as("productid"),
          col("timestamp").as("ts"))
    val products = (0L until 200L)
      .map(i => (i, s"p$i", "d", (i % 40 + 1) * 10.0))
      .toDF("id", "name", "description", "price")

    /** Run one shape until ≥ 6 micro-batches completed (or a 3×runSecs
      * deadline — a huge first batch must not zero the measurement),
      * minimum `runSecs`; return (avg, peak) steady-state
      * processedRowsPerSecond with the first third dropped as warmup.
      * Throws when no steady trigger processed rows: a zero there
      * measures a run too short for the shape, not the shape.
      */
    def measure(df: DataFrame, outputMode: String): (Double, Double, Double) = {
      val q = df.writeStream
        .format("noop")
        .outputMode(outputMode)
        .trigger(Trigger.ProcessingTime("1 second"))
        .start()
      val t0 = System.nanoTime()
      def secs = (System.nanoTime() - t0) / 1e9
      try {
        while (secs < runSecs ||
               (q.recentProgress.length < 6 && secs < 3.0 * runSecs)) {
          Thread.sleep(500L)
        }
      } finally {
        // Quiesced, serialized store teardown (r15): the two r14 JVM
        // SIGSEGVs (rocksdb LoggerJniCallback::Logv use-after-free)
        // both fired when the 60 s maintenance tick closed earlier
        // shapes' RocksDB providers CONCURRENTLY with the running
        // shape's load. q.stop() has returned → no commits in flight →
        // close every provider here on the driver thread while the
        // RocksDB env pool is idle, so maintenance never tears stores
        // down under churn. In the FINALLY so a failed shape cannot
        // leak its providers into the next shape's run either — and
        // NESTED so a throwing stop() cannot skip the unload (r15
        // ADVICE).
        try q.stop()
        finally org.apache.spark.sql.execution.streaming.state
          .GraftStateStoreBridge.unloadAllStateStores()
      }
      val progress = q.recentProgress.toSeq
      val steadyP = progress.drop(progress.length / 3)
      val steady = steadyP
        .map(_.processedRowsPerSecond).filter(d => !d.isNaN && d > 0)
      if (steady.isEmpty)
        throw new IllegalStateException(s"no steady trigger processed rows: " +
          s"${progress.length} triggers, ${steadyP.length} after the warm-up third")
      // OUTPUT rows/s: join shapes do more row-work than their input
      // rate shows (match multiplicity), and append-mode aggs emit in
      // BURSTS (a window closes in one trigger, the rest emit zero) —
      // so the rate is total output rows over total trigger time
      // across the steady window, not a per-trigger average that
      // idle triggers would deflate.
      val outPairs = steadyP.flatMap { p =>
        val ms = Option(p.durationMs.get("triggerExecution"))
          .map(_.longValue).getOrElse(0L)
        val n = Option(p.sink).map(_.numOutputRows).getOrElse(-1L)
        if (ms > 0 && n >= 0) Some((n, ms)) else None
      }
      val outRate =
        if (outPairs.isEmpty || outPairs.map(_._2).sum == 0) 0.0
        else outPairs.map(_._1).sum.toDouble * 1000.0 / outPairs.map(_._2).sum
      (steady.sum / steady.length, steady.max, outRate)
    }

    // offered rates sit above each shape's measured ceiling (agg
    // ~17M/s; the processor/dedup/join shapes are state-store-bound)
    val shapes: Seq[(String, () => (DataFrame, String))] = Seq(
      "update_agg" -> (() =>
        (PriceAlertsStream.dslAlertsUpdate(purchases(20000000L), products,
          threshold = 500.0), "update")),
      "append_agg" -> (() =>
        (PriceAlertsStream.processorAlertsAppend(purchases(20000000L), products,
          threshold = 500.0, watermarkDelay = "5 seconds"), "append")),
      "tws_processor" -> (() =>
        (ProcessorAlerts.alerts(spark,
          graft.operators.PriceAlerts.purchasesWithProducts(
            purchases(2000000L), products),
          threshold = 500.0, watermarkDelay = "5 seconds").toDF(), "append")),
      "dedup_watermark" -> (() => {
        // 50% duplicate keys: value % (rate/2) collides once on average
        val s = purchases(1000000L)
          .withColumn("k", col("id") % 500000L)
        (StreamingDedup.exact(s, "ts", "5 seconds", "k"), "append")
      }),
      "image_dhash_dedup" -> (() => {
        // the one stateful streaming path with a REAL codec in the
        // loop (ImageIO decode per row) feeding a codegen'd ListState
        // serde — the regression surface for the r14 SeenEntry fix.
        // Traffic mix (r15, the simhash_neardup_dedup recipe): 3/4 of
        // rows cycle 64 pre-rendered PNGs (all dups after the first
        // batch — the state-scan load), 1/4 carry a PNG rendered
        // in-stream from the row's sha2 digest (avalanche pixels → a
        // novel dHash per row). Exact dedup emits survivors in the
        // SAME batch, so steady-state out_rows/s > 0 is an emission
        // witness — a permanent 0 could not distinguish "dedup
        // correctly drops everything" from a dead sink. rows_per_sec
        // stays the decode + state-store admission ceiling (uniques
        // additionally pay one PNG ENCODE — still the same codec
        // seam).
        val payloads = graft.operators.Multimodal.syntheticImages(spark,
          (0L until 64L).map(i => (i, s"stream image payload $i " * 8))
            .toDF("doc_id", "text")).collect().map(_.payload).toSeq
        val mkPng = udf((s: String) =>
          graft.operators.Multimodal.pngOf(s))
        val s = purchases(200000L).select(
          col("id").as("doc_id"),
          // two salted sha2-512 digests → 256 hex chars → an 8-pixel-row
          // PNG: the 9×8 dHash grid needs ≥8 distinct pixel rows for 64
          // independent gradient bits (a 2-row image carries ~16 bits →
          // birthday collisions silently re-dup'd most uniques)
          when(col("id") % 4L === 0L,
            mkPng(concat(
              sha2(concat(lit("u"), col("id").cast("string")), 512),
              sha2(concat(lit("v"), col("id").cast("string")), 512))))
            .otherwise(element_at(typedlit(payloads),
              (col("id") % 64L).cast("int") + 1)).as("payload"),
          col("ts"))
        (StreamingDedup.byImageDHash(s, "ts", "5 seconds"), "append")
      }),
      "simhash_neardup_dedup" -> (() => {
        // bySimhashNearDup is the custom ListState processor whose
        // SeenEntry serde silently ran interpreted until r14 — this
        // shape is its throughput regression surface. Topology per
        // input row: simhash + explode to 4 chunk buckets (4× state
        // rows), NearDupProcessor scan/append, windowed reconcile.
        // Traffic: 3/4 of rows cycle 1000 shared variants (all near-dup
        // after warmup — the state-scan load), 1/4 carry fully unique
        // token sets (the survivors: out_rows/s > 0 proves end-to-end
        // emission, not just admission). Short watermark + reconcile
        // window (2 s), and the offered rate sits only slightly above
        // the measured ~95 k rows/s ceiling: deeply overloaded, event
        // time advances at (admitted/offered) of wall speed, windows
        // never close inside the run, and out_rows/s reads a
        // misleading zero even though emission works.
        val s = purchases(120000L).select(
          col("id").as("doc_id"), col("ts"),
          when(col("id") % 4L === 0L,
            concat(lit("u"), col("id"), lit(" v"), col("id") * 31L,
              lit(" w"), col("id") * 131L, lit(" x"), col("id") * 8191L))
            .otherwise(concat(lit("document text variant number "),
              (col("id") % 1000L), lit(" with shared boilerplate tail")))
            .as("text"))
        (StreamingDedup.bySimhashNearDup(s, "ts", "2 seconds",
          reconcileWindow = "2 seconds"), "append")
      }),
      "interval_join" -> (() => {
        // moderate correlation density: 200 k keys at an offered
        // 300 k rows/s over a 10 s interval. MEASURED (not offered)
        // behavior: the engine admits ~120 k rows/s and emits ~1.9
        // output pairs per input row — in the overloaded regime the
        // catch-up micro-batches span far more event time than the
        // join interval, so realized match multiplicity sits well
        // below the offered-rate fan-out; read rows_per_sec together
        // with out_rows_per_sec for the work actually done.
        val l = purchases(300000L).select(col("id"),
          (col("id") % 200000L).as("k"), col("ts"))
        val r = purchases(300000L).select(
          (col("id") % 200000L).as("k"), col("ts"), col("quantity"))
        (StreamJoins.intervalJoin(l, r, "k", "ts",
          watermarkDelay = "5 seconds", within = "10 seconds"), "append")
      }),
      "interval_join_wide" -> (() => {
        // same key density as interval_join but a 3x wider join
        // interval (30 s): triples the state-store buffer per key
        // WITHOUT changing the emit rate per admitted row much. If
        // input-side rows/s holds near interval_join's, the ~100 k
        // rows/s ceiling is emission/commit-bound, not buffer-bound;
        // if it drops toward 1/3, buffering dominates. (r8 ADVICE:
        // separate the two costs with a wider-gap datapoint.)
        val l = purchases(300000L).select(col("id"),
          (col("id") % 200000L).as("k"), col("ts"))
        val r = purchases(300000L).select(
          (col("id") % 200000L).as("k"), col("ts"), col("quantity"))
        (StreamJoins.intervalJoin(l, r, "k", "ts",
          watermarkDelay = "5 seconds", within = "30 seconds"), "append")
      }),
      "interval_join_dense" -> (() => {
        // the r5 config kept for continuity: 10 k keys → much denser
        // key collisions (measured ~6 output pairs per input row:
        // ~70 k in + ~410 k out rows/s)
        val l = purchases(300000L).select(col("id"),
          (col("id") % 10000L).as("k"), col("ts"))
        val r = purchases(300000L).select(
          (col("id") % 10000L).as("k"), col("ts"), col("quantity"))
        (StreamJoins.intervalJoin(l, r, "k", "ts",
          watermarkDelay = "5 seconds", within = "10 seconds"), "append")
      }),
      "rate_limiter" -> (() => {
        // 10k tenant keys, event-time token buckets (2-value state/key)
        val s = purchases(2000000L).select(
          concat(lit("t"), col("id") % 10000L).as("key"),
          col("ts"), col("id").cast("string").as("payload"))
        (graft.streaming.RateLimiter.admit(spark, s,
          ratePerSec = 5.0, burst = 10.0, watermarkDelay = "5 seconds").toDF(),
          "append")
      }),
      "windowed_topk" -> (() => {
        // 20 groups × 200 token values; SpaceSaving buffer (≤64
        // entries) per (window, group) key in the state store
        val s = purchases(2000000L).select(
          (col("id") % 20L).as("grp"),
          concat(lit("p"), col("productid")).as("tok"), col("ts"))
        (graft.streaming.StreamingHeavyHitters.topTokens(
          s, "ts", "10 seconds", "5 seconds", "grp", "tok"), "append")
      }),
      "windowed_pct" -> (() => {
        // latency-dashboard shape: MRL level buffers as window state
        val s = purchases(2000000L).select(
          (col("id") % 20L).as("grp"),
          (col("id") % 997L).cast("double").as("v"), col("ts"))
        (graft.streaming.StreamingHeavyHitters.windowPercentiles(
          s, "ts", "10 seconds", "5 seconds", "grp", "v"), "append")
      }),
      "anomaly_welford" -> (() => {
        // per-key running stats, one verdict row per input row
        val s = purchases(2000000L).select(
          concat(lit("k"), col("id") % 10000L).as("key"), col("ts"),
          col("id").as("event_id"),
          (col("id") % 1013L).cast("double").as("value"))
        (graft.streaming.StreamingAnomaly.detect(spark, s).toDF(), "append")
      }),
      "cusum_changepoint" -> (() => {
        // q151's streaming twin: two doubles of state per key
        val s = purchases(2000000L).select(
          concat(lit("k"), col("id") % 10000L).as("key"), col("ts"),
          col("id").as("event_id"),
          (col("id") % 1013L).cast("double").as("value"),
          lit(506.0).as("mean"))
        (graft.streaming.StreamingCusum.detect(spark, s).toDF(), "append")
      }),

      "wallclock_hotkey" -> (() => {
        // the wall-clock processor (W7) on 8 continuously hot product
        // keys. Event time rides 2 minutes behind the wall clock, so
        // every window a batch touches has already ended in processing
        // time: its timer fires in the same batch and the alert leaves
        // on the data path. out_rows_per_sec is the hot-key emission
        // throughput; it reads ZERO if a busy key stops closing windows.
        val s = purchases(2000000L).select(
          col("id"), col("quantity"),
          (col("id") % 8L).as("productid"),
          (col("ts") - expr("INTERVAL 2 minutes")).as("ts"))
        (ProcessorAlerts.alertsWallClock(spark,
          graft.operators.PriceAlerts.purchasesWithProducts(s, products),
          threshold = 0.0).toDF(), "append")
      }),
      "forward_asof" -> (() => {
        // q180's streaming twin: timer-resolved purchase→next-error
        // matching; ~1/8 purchases, ~1/8 errors, rest pass-through.
        // State is tolerance-bounded per key; emission waits on the
        // watermark, so out-rows lag the 1 s tolerance.
        // user modulus COPRIME to the type modulus (8 | 10000 would
        // hand every user a single event type and zero matches)
        val s = purchases(500000L).select(
          (col("id") % 9973L).as("user_id"),
          col("id").as("event_id"), col("ts"),
          when(col("id") % 8 === 0, "purchase")
            .when(col("id") % 8 === 1, "error")
            .otherwise("view").as("event_type"))
        (graft.streaming.StreamingAsof
          .matches(spark, s, tolMs = 1000L, watermarkDelay = "1 second")
          .toDF(), "append")
      }))

    val results = scala.collection.mutable.LinkedHashMap[String, (Double, Double, Double)]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    Harness.select(shapes, args.toSeq.drop(1)).foreach { case (name, build) =>
      try {
        val (df, mode) = build()
        results(name) = measure(df, mode)
      } catch {
        case e: Throwable => errors(name) = Harness.errorText(e)
      }
    }

    val qs = Harness.obj(results.map { case (k, (avg, peak, out)) =>
      k -> f"""{"rows_per_sec":$avg%.0f,"peak":$peak%.0f,"out_rows_per_sec":$out%.0f}""" })
    val errJson = Harness.obj(errors.map { case (k, v) => k -> ("\"" + v + "\"") })
    val total = results.values.map(_._1).sum
    val line =
      s"""{"metric":"stream_rows_per_sec_total","value":${total.round},"unit":"rows/sec","shapes":$qs,"errors":$errJson,"secs_per_shape":$runSecs}"""
    Harness.finish(spark, sys.env.getOrElse("SPARK_GRAFT_STREAMBENCH_OUT", "STREAMBENCH.json"),
      line, line)
  }
}
