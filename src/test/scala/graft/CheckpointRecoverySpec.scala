package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.{PriceAlertsStream, ProcessorAlerts, StreamingDedup}

/** Checkpoint recovery: the Spark analogue of the reference runtime's
  * restart story (consumer offsets + changelog topics,
  * dsl/PriceAlertsApp.java:45-64). Each test runs a checkpointed
  * stateful pipeline, STOPS the query mid-stream with windows still
  * open (live state), restarts from the same checkpoint, feeds the
  * rest of the data, and asserts the final output set is identical to
  * an uninterrupted run of the same batches — exactly-once resume.
  *
  * Append-mode pipelines prove it through the parquet file sink (the
  * sink's metadata log is what de-duplicates replayed batches);
  * update-mode proves it through an idempotent keyed upsert
  * (foreachBatch), the production pattern for update-mode sinks.
  */
class CheckpointRecoverySpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  case class P(id: Long, quantity: Long, productid: Long, ts: Timestamp)
  case class Doc(doc_id: Long, text: String, ts: Timestamp)
  case class L(k: Long, ts: Timestamp)
  case class R(k: Long, amount: Double, ts: Timestamp)

  private val t0230 = Timestamp.valueOf("2024-01-01 00:02:30")
  private val t0310 = Timestamp.valueOf("2024-01-01 00:03:10")
  private val t0500 = Timestamp.valueOf("2024-01-01 00:05:00")
  private val w0200 = Timestamp.valueOf("2024-01-01 00:02:00")

  private def products(price: Double): DataFrame =
    Seq((1L, "prod", "desc", price)).toDF("id", "name", "description", "price")

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def withRocksDb(body: => Unit): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally spark.conf.unset(key)
  }

  /** Drive an append-mode pipeline to a parquet sink in `phases`:
    * each phase is a list of batches (addData + processAllAvailable
    * per batch). When `interrupt`, the query is stopped and restarted
    * from the same checkpoint between phases; otherwise one query
    * processes everything. Returns the committed sink rows.
    */
  private def runAppendPhases[T](
      mkStream: () => (MemoryStream[T], DataFrame),
      phases: Seq[Seq[Seq[T]]], interrupt: Boolean): Seq[String] = {
    val cp = tmpDir("graft-cp")
    val out = tmpDir("graft-sink")
    val (in, df) = mkStream()
    def start() = df.writeStream.format("parquet")
      .option("checkpointLocation", cp).option("path", out)
      .outputMode("append").start()
    var q = start()
    try {
      phases.zipWithIndex.foreach { case (batches, i) =>
        if (i > 0 && interrupt) { q.stop(); q = start() } // kill + resume
        batches.foreach { b => in.addData(b); q.processAllAvailable() }
      }
    } finally q.stop()
    spark.read.parquet(out).collect().map(_.mkString("|")).sorted.toSeq
  }

  // ---- TWS (transformWithState + timers, RocksDB) ----------------------

  private def twsPhases: Seq[Seq[Seq[P]]] = Seq(
    // phase 1 ends with window 02:00 still OPEN (sum=3600 in state only)
    Seq((1L to 4L).map(i => P(i, 2L, 1L, t0230)),
        Seq(P(5L, 2L, 1L, t0230), P(6L, 2L, 1L, t0230))),
    // phase 2 (after the kill): advance watermark → closed-window emit
    // must come out of RECOVERED state, then open+close one more window
    Seq(Seq(P(100L, 1L, 1L, t0310)),
        Seq(P(101L, 1L, 1L, Timestamp.valueOf("2024-01-01 00:07:00")))))

  test("TWS alerts recover from checkpoint: kill mid-window, resume, identical output") {
    withRocksDb {
      def mk() = {
        val in = MemoryStream[P]
        val joined = graft.operators.PriceAlerts.purchasesWithProducts(
          in.toDF(), products(300.0))
        (in, ProcessorAlerts.alerts(spark, joined, threshold = 10.0).toDF())
      }
      val resumed = runAppendPhases(mk _, twsPhases, interrupt = true)
      val straight = runAppendPhases(mk _, twsPhases, interrupt = false)
      assert(resumed.nonEmpty, "closed windows must be emitted after resume")
      assert(resumed == straight,
        s"resumed run must equal uninterrupted run:\n$resumed\nvs\n$straight")
      assert(resumed.exists(_.contains("3600.0")),
        "the 3600 golden sum must be rebuilt from checkpointed state")
    }
  }

  // ---- DSL append mode (built-in windowed agg state) -------------------

  test("append-mode windowed agg recovers from checkpoint") {
    def mk() = {
      val in = MemoryStream[P]
      (in, PriceAlertsStream.processorAlertsAppend(
        in.toDF(), products(300.0), threshold = 10.0))
    }
    val resumed = runAppendPhases(mk _, twsPhases, interrupt = true)
    val straight = runAppendPhases(mk _, twsPhases, interrupt = false)
    assert(resumed.nonEmpty && resumed == straight)
  }

  // ---- update mode: idempotent keyed upsert through foreachBatch -------

  private def runUpdatePhases(phases: Seq[Seq[Seq[P]]], interrupt: Boolean)
      : Map[(String, Timestamp), Double] = {
    val cp = tmpDir("graft-cp-upd")
    val results = new java.util.concurrent.ConcurrentHashMap[(String, Timestamp), Double]
    val in = MemoryStream[P]
    val alerts = PriceAlertsStream.dslAlertsUpdate(in.toDF(), products(300.0))
    def start() = alerts.writeStream.outputMode("update")
      .option("checkpointLocation", cp)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // replay-safe: upsert keyed on (product, window) — a replayed
        // micro-batch rewrites the same keys with the same values
        batch.collect().foreach { r =>
          results.put((r.getAs[String]("product_id"), r.getAs[Timestamp]("window_start")),
            r.getAs[Double]("total_sum_per_minute"))
        }
      }.start()
    var q = start()
    try {
      phases.zipWithIndex.foreach { case (batches, i) =>
        if (i > 0 && interrupt) { q.stop(); q = start() }
        batches.foreach { b => in.addData(b); q.processAllAvailable() }
      }
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    results.asScala.toMap
  }

  test("update-mode alerts recover from checkpoint: refinement continues across restart") {
    val phases: Seq[Seq[Seq[P]]] = Seq(
      Seq((1L to 6L).map(i => P(i, 2L, 1L, t0230))),          // 3600 emitted
      Seq(Seq(P(7L, 1L, 1L, t0230)),                          // refine → 3900
          Seq(P(8L, 2L, 1L, t0500))))                         // new window 1200... <10*300? no: 600
    val resumed = runUpdatePhases(phases, interrupt = true)
    val straight = runUpdatePhases(phases, interrupt = false)
    assert(resumed == straight, s"final upserted state must match:\n$resumed\nvs\n$straight")
    // the post-restart refinement must build on pre-restart state: 3600+300
    assert(resumed(("1", w0200)) == 3900.0,
      "restarted query must refine the checkpointed window sum, not restart it")
  }

  // ---- funnel stage machine (transformWithState, TimeMode.None) --------

  case class E(user_id: Long, event_type: String, ts: Timestamp)

  test("funnel recovers from checkpoint: stage state survives, later stages advance") {
    withRocksDb {
      val stages = Seq("view", "cart", "buy")
      def mk() = {
        val in = MemoryStream[E]
        (in, graft.streaming.FunnelStream.advances(in.toDF(), stages).toDF())
      }
      val phases: Seq[Seq[Seq[E]]] = Seq(
        // phase 1: user 1 reaches stage 1; user 2 stays at stage 0
        Seq(Seq(E(1L, "view", Timestamp.valueOf("2024-01-01 00:00:10")),
                E(2L, "cart", Timestamp.valueOf("2024-01-01 00:00:11")))),
        // phase 2 (after kill): "cart" can only advance user 1 if the
        // RECOVERED state says stage 1 — with lost state it would be
        // ignored (stage 0 requires "view")
        Seq(Seq(E(1L, "cart", Timestamp.valueOf("2024-01-01 00:00:20"))),
            Seq(E(1L, "buy", Timestamp.valueOf("2024-01-01 00:00:30")),
                E(2L, "view", Timestamp.valueOf("2024-01-01 00:00:31")))))
      val resumed = runAppendPhases(mk _, phases, interrupt = true)
      val straight = runAppendPhases(mk _, phases, interrupt = false)
      assert(resumed == straight,
        s"advance streams must match:\n$resumed\nvs\n$straight")
      // user 1 must have advanced through stages 1, 2 AND 3 (2 and 3
      // emitted after the restart, off recovered stage state)
      assert((1 to 3).forall(i => resumed.exists(r =>
        r.startsWith("1|") && r.contains(s"|$i|"))),
        s"user 1 must reach stage 3 across the restart: $resumed")
    }
  }

  // ---- native session windows (merging session state + watermark) ------

  case class V(user_id: Long, value: Double, ts: Timestamp)

  test("session windows recover from checkpoint: open session merges across restart") {
    def mk() = {
      val in = MemoryStream[V]
      (in, graft.streaming.SessionStream.sessions(
        in.toDF(), gap = "30 seconds", watermark = "10 seconds"))
    }
    val phases: Seq[Seq[Seq[V]]] = Seq(
      // phase 1: two events 10 s apart — ONE open session in state
      Seq(Seq(V(1L, 1.0, Timestamp.valueOf("2024-01-01 00:00:10")),
              V(1L, 2.0, Timestamp.valueOf("2024-01-01 00:00:20")))),
      // phase 2 (after kill): a third event extends the RECOVERED
      // session; then a late sentinel advances the watermark past the
      // gap so the merged session closes and is emitted
      Seq(Seq(V(1L, 4.0, Timestamp.valueOf("2024-01-01 00:00:25"))),
          Seq(V(9L, 0.0, Timestamp.valueOf("2024-01-01 00:10:00")))))
    val resumed = runAppendPhases(mk _, phases, interrupt = true)
    val straight = runAppendPhases(mk _, phases, interrupt = false)
    assert(resumed == straight,
      s"session sets must match:\n$resumed\nvs\n$straight")
    // the user-1 session must be ONE merged window of 3 events / 7.0 —
    // a lost-state restart would emit two fragments instead
    assert(resumed.exists(r => r.startsWith("1|") && r.contains("|3|7.0")),
      s"one merged 3-event session expected: $resumed")
  }

  // ---- stream-stream interval join (two buffered sides) ----------------

  test("stream-stream interval join recovers from checkpoint: buffered side matches after restart") {
    def run(interrupt: Boolean): Seq[String] = {
      val cp = tmpDir("graft-cp-ssj")
      val out = tmpDir("graft-sink-ssj")
      val lIn = MemoryStream[L]
      val rIn = MemoryStream[R]
      val joined = graft.streaming.StreamJoins.intervalJoin(
        lIn.toDF(), rIn.toDF(), key = "k", tsCol = "ts",
        watermarkDelay = "10 seconds", within = "30 seconds")
      def start() = joined.writeStream.format("parquet")
        .option("checkpointLocation", cp).option("path", out)
        .outputMode("append").start()
      var q = start()
      try {
        // phase 1: LEFT event arrives and is buffered — no match yet
        lIn.addData(Seq(L(1L, Timestamp.valueOf("2024-01-01 00:00:20"))))
        rIn.addData(Seq.empty[R])
        q.processAllAvailable()
        if (interrupt) { q.stop(); q = start() } // kill with buffered state
        // phase 2: the matching RIGHT event must join against the
        // RECOVERED left buffer; then watermark advances to flush
        rIn.addData(Seq(R(1L, 42.0, Timestamp.valueOf("2024-01-01 00:00:10"))))
        q.processAllAvailable()
        lIn.addData(Seq(L(9L, Timestamp.valueOf("2024-01-01 00:10:00"))))
        rIn.addData(Seq(R(9L, 0.0, Timestamp.valueOf("2024-01-01 00:10:00"))))
        q.processAllAvailable()
      } finally q.stop()
      spark.read.parquet(out).collect().map(_.mkString("|")).sorted.toSeq
    }
    val resumed = run(interrupt = true)
    val straight = run(interrupt = false)
    assert(resumed == straight,
      s"joined sets must match:\n$resumed\nvs\n$straight")
    assert(resumed.exists(r => r.startsWith("1|") && r.contains("42.0")),
      "the post-restart right event must match the RECOVERED left buffer")
  }

  test("stream-stream LEFT OUTER interval join recovers: null-side emission survives restart") {
    def run(interrupt: Boolean): Seq[String] = {
      val cp = tmpDir("graft-cp-ssloj")
      val out = tmpDir("graft-sink-ssloj")
      val lIn = MemoryStream[L]
      val rIn = MemoryStream[R]
      val joined = graft.streaming.StreamJoins.intervalJoinLeftOuter(
        lIn.toDF(), rIn.toDF(), key = "k", tsCol = "ts",
        watermarkDelay = "10 seconds", within = "30 seconds")
      def start() = joined.writeStream.format("parquet")
        .option("checkpointLocation", cp).option("path", out)
        .outputMode("append").start()
      var q = start()
      try {
        // phase 1: two left events buffered — one will match, one won't
        lIn.addData(Seq(L(1L, Timestamp.valueOf("2024-01-01 00:00:20")),
                        L(2L, Timestamp.valueOf("2024-01-01 00:00:20"))))
        rIn.addData(Seq.empty[R])
        q.processAllAvailable()
        if (interrupt) { q.stop(); q = start() } // kill with both buffered
        // phase 2: key-1 right arrives (matches recovered buffer); then
        // watermarks advance far enough to prove key-2 never matches
        rIn.addData(Seq(R(1L, 42.0, Timestamp.valueOf("2024-01-01 00:00:10"))))
        q.processAllAvailable()
        lIn.addData(Seq(L(9L, Timestamp.valueOf("2024-01-01 00:10:00"))))
        rIn.addData(Seq(R(9L, 0.0, Timestamp.valueOf("2024-01-01 00:10:00"))))
        q.processAllAvailable()
      } finally q.stop()
      spark.read.parquet(out).collect().map(_.mkString("|")).sorted.toSeq
    }
    val resumed = run(interrupt = true)
    val straight = run(interrupt = false)
    assert(resumed == straight,
      s"joined sets must match:\n$resumed\nvs\n$straight")
    assert(resumed.exists(r => r.startsWith("1|") && r.contains("42.0")),
      "matched row must join against the RECOVERED left buffer")
    assert(resumed.exists(r => r.startsWith("2|") && r.contains("null")),
      s"unmatched recovered left row must emit its null-side row: $resumed")
  }

  // ---- streaming near-dup dedup (MapState-heavy TWS pipeline) ----------

  test("streaming hamming<=3 dedup recovers from checkpoint: same survivor set") {
    withRocksDb {
      val base = "the quick brown fox jumps over the lazy dog token %d"
      def doc(id: Long, s: String, t: String) = Doc(id, s, Timestamp.valueOf(t))
      val phases: Seq[Seq[Seq[Doc]]] = Seq(
        // phase 1: seed docs enter bucket state; window still open
        Seq(Seq(doc(1, base.format(1), "2024-01-01 00:00:10"),
                doc(2, "completely different text about spark streaming state",
                    "2024-01-01 00:00:20"))),
        // phase 2 (after kill): near-dup of doc 1 must be caught by
        // RECOVERED bucket state; then advance watermark to close windows
        Seq(Seq(doc(3, base.format(1) + " ", "2024-01-01 00:00:40"),
                doc(4, "yet another unrelated document body entirely",
                    "2024-01-01 00:00:50")),
            Seq(doc(99, "watermark advancer sentinel document",
                    "2024-01-01 00:10:00"))))
      def run(interrupt: Boolean): Seq[String] = {
        val cp = tmpDir("graft-cp-dd")
        val out = tmpDir("graft-sink-dd")
        val in = MemoryStream[Doc]
        val survivors = StreamingDedup.bySimhashNearDup(
          in.toDF(), "ts", "30 seconds")
        def start() = survivors.writeStream.format("parquet")
          .option("checkpointLocation", cp).option("path", out)
          .outputMode("append").start()
        var q = start()
        try {
          phases.zipWithIndex.foreach { case (batches, i) =>
            if (i > 0 && interrupt) { q.stop(); q = start() }
            batches.foreach { b => in.addData(b); q.processAllAvailable() }
          }
        } finally q.stop()
        spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
          .map(_.toString).toSeq
      }
      val resumed = run(interrupt = true)
      val straight = run(interrupt = false)
      assert(resumed == straight,
        s"survivor sets must match:\n$resumed\nvs\n$straight")
      assert(!resumed.contains("3"),
        "near-dup doc 3 must be dropped by state recovered from the checkpoint")
      assert(resumed.contains("1") && resumed.contains("2") && resumed.contains("4"))
    }
  }
}
