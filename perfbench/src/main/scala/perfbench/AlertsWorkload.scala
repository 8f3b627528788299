package perfbench

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.functions.GraftFunctions
import graft.operators.PriceAlerts
import graft.sources.KafkaIO
import graft.streaming.PriceAlertsStream

/** alerts_update / alerts_append: the paper's price-alerts query on bytes.
  *
  * Confluent-framed Avro purchases, pre-encoded during set-up, are fed
  * as Kafka-shaped `(value, timestamp)` rows through a MemoryStream (the
  * stand-in for `format("kafka")`, which needs a broker), decoded with
  * `KafkaIO.decodeAvroFrames`, run through `PriceAlertsStream`, encoded
  * by the `KafkaIO.alertsSink` writer and received by a foreachBatch sink
  * that stamps each alert's arrival.
  *
  * The run has two timed phases:
  *  - saturation, a closed loop: a chunk of frames is added each time the
  *    previous one has been processed; `events_per_s` is the frames of the
  *    steady chunks over their time;
  *  - latency, an open loop: one generator thread adds frames at a fixed
  *    rate; each alert's latency runs from the due time of the event that
  *    made it true to the sink's receipt, and `pass_s` is the median
  *    trigger time.
  *
  * The generator keeps the exact tally per (product, window). Prices and
  * quantities are integers, so every double sum is exact, and the tally
  * decides whether each received alert is right.
  */
object AlertsWorkload {
  /** Frame header: magic byte 0 and a 4-byte schema id. */
  private val Header = Array[Byte](0, 0, 0, 0, 1)

  /** What differs between the two workloads. `zipf` is the popularity
    * exponent over the products, 0 for uniform.
    */
  final case class Shape(products: Int, zipf: Double, windowMs: Long, watermarkMs: Long,
                         append: Boolean, threshold: Double)

  // The purchases follow the repository's fixture mapping of the stream
  // (FIXTURES.md: purchases -> lineitem, products -> part): quantities
  // uniform in 1..50 as l_quantity, and each product's price is its
  // p_retailprice, 900 + (id % 1000) / 10, truncated to whole units so
  // that every sum is exact in a double.
  private val MaxQuantity = 50
  private def priceOf(id: Int): Double = (900 + (id % 1000) / 10).toDouble

  val shapes: Map[String, Shape] = Map(
    // large key space (the part table at sf0.1: 20,000 products) with the
    // Zipf popularity of YCSB's default constant 0.99; 1-minute windows, no
    // watermark: state only grows and every update above the threshold is
    // emitted (a single purchase of 4 or more units crosses it)
    "alerts_update" -> Shape(products = 20000, zipf = 0.99, windowMs = 60000L, watermarkMs = -1L,
      append = false, threshold = PriceAlerts.DslThreshold),
    // small hot key space (the part table at sf0.001: 200 products), drawn
    // uniformly as the fixtures draw l_partkey. Windows of 100 ms, several
    // per trigger: state is put and evicted, alerts leave in bursts as
    // windows close, and the open loop closes dozens of windows. Each
    // window's alerts share one closing event, so with windows as long as
    // a trigger the median latency rested on a dozen samples
    "alerts_append" -> Shape(products = 200, zipf = 0.0, windowMs = 100L, watermarkMs = 100L,
      append = true, threshold = PriceAlerts.ProcessorThreshold))

  /** Frames added per closed-loop step, the `maxOffsetsPerTrigger` analogue. */
  private val Chunk = 10000
  /** Closed-loop steps before the timed phases (set-up): chunk times keep
    * falling over the first few as the JIT compiles the trigger path.
    */
  private val WarmChunks = 4
  /** Frames pre-encoded for the saturation phase: more than it can take in
    * its share of a run's seconds.
    */
  private val SatFrames = 150000
  /** Open-loop rate, events/s: at most a fifth of the measured saturation
    * throughput (`events_per_s`) of either workload on 4 cores, so the
    * latency phase measures the pipeline, not a growing queue.
    */
  private val Rate = 2000.0

  /** One received alert: sink batch, arrival, key and encoded value. */
  final case class Received(batch: Long, atNs: Long, key: String, value: Array[Byte])

  def run(spark: SparkSession, a: Main.Args): Main.Result = {
    val shape = shapes(a.workload)
    val r = new Main.Result
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // ---- set-up: seeded inputs, all frames pre-encoded ----
    val rng = new java.util.SplittableRandom(a.seed)
    val price = Array.tabulate(shape.products)(priceOf)
    val popularity = if (shape.zipf > 0)
      Some((zipfCdf(shape.products, shape.zipf), shuffled(shape.products, rng))) else None
    val satSeconds = a.seconds * 0.5
    val openSeconds = a.seconds - satSeconds
    val warmFrames = WarmChunks * Chunk
    val openStart = warmFrames + SatFrames
    val total = openStart + (Rate * openSeconds).toInt + 1
    val productOf = new Array[Int](total)
    val qtyOf = new Array[Int](total)
    val frames = new Array[Array[Byte]](total)
    for (i <- 0 until total) {
      productOf(i) = popularity match {
        case None => rng.nextInt(shape.products)
        case Some((cdf, rankToProduct)) =>
          val rank = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
          rankToProduct(if (rank >= 0) rank else math.min(-rank - 1, shape.products - 1))
      }
      qtyOf(i) = 1 + rng.nextInt(MaxQuantity)
      frames(i) = encodePurchase(i.toLong, qtyOf(i).toLong, productOf(i).toLong)
    }
    if (a.corrupt == "frame") frames(warmFrames / 2)(0) = 1
    log(s"$total frames encoded")
    val stamps = new Array[Long](total)
    val dueNs = new Array[Long](total)
    val emitNs = new Array[Long](total)
    val added = new AtomicLong(0)
    val blockEnds = mutable.ArrayBuffer[Long]()
    var lastStamp = 0L

    val input = MemoryStream[(Array[Byte], Timestamp)](a.cores)
    /** Adds frames [from, until) as one block stamped with the current time. */
    def add(from: Int, until: Int, due: Int => Long): Unit = {
      val now = System.nanoTime()
      lastStamp = math.max(lastStamp, System.currentTimeMillis())
      val ts = new Timestamp(lastStamp)
      var i = from
      while (i < until) { stamps(i) = lastStamp; dueNs(i) = due(i); emitNs(i) = now; i += 1 }
      input.addData((from until until).map(j => (frames(j), ts)))
      blockEnds.synchronized(blockEnds += until.toLong)
      added.set(until.toLong)
    }

    val b0 = System.nanoTime()
    GraftFunctions.register(spark)
    val products = (0 until shape.products).map(i => (i.toLong, s"p$i", "d", price(i)))
      .toDF("id", "name", "description", "price")
    val purchases = KafkaIO.decodeAvroFrames(input.toDF().toDF("value", "timestamp"),
        KafkaIO.purchaseAvroSchema, "FAILFAST")
      .select(col("decoded.id").as("id"), col("decoded.quantity").as("quantity"),
        col("decoded.productid").as("productid"), col("timestamp").as("ts"))
    val alerts =
      if (shape.append) PriceAlertsStream.processorAlertsAppend(purchases, products,
        windowSize = s"${shape.windowMs} milliseconds",
        watermarkDelay = s"${shape.watermarkMs} milliseconds")
      else PriceAlertsStream.dslAlertsUpdate(purchases, products)
    val buildMs = (System.nanoTime() - b0) / 1e6

    val received = new java.util.concurrent.ConcurrentLinkedQueue[Received]()
    val sinkMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    val sink: (Dataset[Row], Long) => Unit = (df, batch) => {
      val t0 = System.nanoTime()
      val rows = df.collect()
      val at = System.nanoTime()
      rows.foreach(row => received.add(Received(batch, at, row.getString(0), row.getAs[Array[Byte]](1))))
      if (rows.nonEmpty) sinkMs.add((at - t0) / 1e6)
    }

    val tracer = if (a.trace) Some(new TraceListener) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val backlog = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    @volatile var sampleBacklog = false
    if (a.trace) spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (sampleBacklog && e.progress.numInputRows > 0) {
          val end = e.progress.sources.head.endOffset.trim.toLong
          val committed = blockEnds.synchronized(if (end >= 0 && end < blockEnds.size) blockEnds(end.toInt) else 0L)
          backlog.add(added.get() - committed)
        }
    })

    // the alertsSink writer carries the Kafka record encoding; foreachBatch
    // replaces its kafka format, so the broker address is never contacted
    val query = KafkaIO.alertsSink(alerts, "localhost:9092", "price-alerts", s"${a.work}/checkpoint")
      .foreachBatch(sink)
      .outputMode(if (shape.append) "append" else "update")
      .trigger(Trigger.ProcessingTime(0L))
      .start()

    var next = 0
    try {
      // warm-up triggers (set-up): per-trigger code keeps speeding up for
      // the first few triggers as the JIT compiles it
      while (next < warmFrames) {
        add(next, next + Chunk, _ => System.nanoTime()); next += Chunk
        query.processAllAvailable()
      }
      r.metrics("setup_s") = Main.setupSeconds()
      log("warm-up done")
      val warmEndBatch = lastBatch(query)

      // ---- saturation phase: closed loop ----
      val chunkSecs = mutable.ArrayBuffer[Double]()
      val t0 = System.nanoTime()
      while (next + Chunk <= openStart && (chunkSecs.size < 3 || (System.nanoTime() - t0) / 1e9 < satSeconds)) {
        val c0 = System.nanoTime()
        add(next, next + Chunk, _ => c0); next += Chunk
        query.processAllAvailable()
        chunkSecs += (System.nanoTime() - c0) / 1e9
      }
      val satEndBatch = lastBatch(query)
      log(s"saturation: ${chunkSecs.size} chunks, seconds ${chunkSecs.map(x => f"$x%.3f").mkString(" ")}")
      // steady chunks: the first third of the phase is dropped. The rate is
      // total over total, since chunk times alternate with the no-data
      // batches a watermark advance adds
      val steady = chunkSecs.drop(chunkSecs.size / 3).toSeq
      r.metrics("events_per_s") = steady.size * Chunk / steady.sum

      // ---- latency phase: open loop at a fixed rate ----
      val openFirst = next
      next = openStart
      val intervalNs = 1e9 / Rate
      val startNs = System.nanoTime() + 5000000L
      def due(i: Int): Long = startNs + ((i - openStart) * intervalNs).toLong
      sampleBacklog = true
      val gc0 = Trace.gcMillis()
      var i = openStart
      while (i < total) {
        val now = System.nanoTime()
        if (due(i) > now) LockSupport.parkNanos(due(i) - now)
        else {
          var j = i
          val now2 = System.nanoTime()
          while (j < total && due(j) <= now2) j += 1
          add(i, j, due); i = j
        }
        if (query.exception.isDefined) i = total
      }
      sampleBacklog = false
      val openGcMs = (Trace.gcMillis() - gc0).toDouble
      query.processAllAvailable()
      awaitIdle(query)
      query.stop()
      log("stream stopped")
      val blocksLeft = spark.sparkContext.getPersistentRDDs.size

      // ---- results, outside the timed region ----
      val progress = query.recentProgress.toSeq
      val openIdx = (openStart until total)
      val satIdx = (0 until openFirst)
      val sent = openIdx.size + satIdx.size
      val processed = progress.map(_.numInputRows).sum
      val malformed = countMalformed(spark, (satIdx ++ openIdx).map(frames), r, a.trace)
      val check = new Oracle(shape, price, productOf, qtyOf, stamps, (satIdx ++ openIdx))
      val watermarks = progress.map(p => p.batchId -> watermarkMs(p)).toMap
      if (a.corrupt == "alert_sum") corruptOne(received)
      val outcome = check.verify(received.asScala.toSeq, watermarks)
      r.attempted = sent + outcome.expected
      r.failed = math.max(0L, sent - processed) + malformed + outcome.missing + outcome.extra + outcome.wrong
      r.notes += s"frames sent $sent, processed $processed, malformed $malformed; alerts expected " +
        s"${outcome.expected}, received ${received.size}, missing ${outcome.missing}, " +
        s"extra ${outcome.extra}, wrong ${outcome.wrong}"

      // the fixed cost of a trigger at the offered rate: the median wall
      // time of the open-loop triggers that took data
      r.metrics("pass_s") = Main.median(progress.filter(p => p.batchId > satEndBatch && p.numInputRows > 0)
        .map(dur(_, "triggerExecution"))) / 1000.0
      val lat = outcome.trigger.collect { case (rec, ev) if ev >= openStart => (rec.atNs - dueNs(ev)) / 1e6 }
      r.notes += s"latency samples ${lat.size}"
      r.metrics("lat_p50_ms") = Main.median(lat)
      r.metrics("lat_p99_ms") = Main.quantile(lat, 0.99)

      tracer.foreach { t =>
        val satP = progress.filter(p => p.batchId > warmEndBatch && p.batchId <= satEndBatch)
        val openP = progress.filter(_.batchId > satEndBatch)
        layersFromProgress(r, satP, openP, chunkSecs.size)
        val units = openP.map(p => s"b${p.batchId}" -> dur(p, "triggerExecution")).toMap
        t.engine(units, a.cores).foreach { case (k, v) => r.layers(k) = Main.median(v) }
        t.writeSpans(s"${a.work}/spans.jsonl")
        r.layers("engine.gc_ms") = openGcMs / math.max(1, openP.size)
        r.layers("queries.build_ms") = buildMs
        r.layers("operators.blocks_left") = blocksLeft
        r.layers("source.backlog_events") = Main.median(backlog.asScala.map(_.toDouble).toSeq)
        r.layers("generator.late_ms") = Main.median(openIdx.map(k => (emitNs(k) - dueNs(k)) / 1e6))
        r.layers("sink.write_ms") = Main.median(sinkMs.asScala.map(_.doubleValue).toSeq)
        r.layers("sink.alerts_per_event") = received.size.toDouble / math.max(1L, processed)
        r.layers("functions.encode_alerts_per_s") = encodeRate(spark, outcome.decoded)
      }
    } finally {
      if (query.isActive) query.stop()
    }
    r
  }

  private def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${Main.setupSeconds()}%.1f s: $msg")

  /** Id of the last completed micro-batch. */
  private def lastBatch(q: StreamingQuery): Long = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)

  /** Waits until no trigger is running and no data is pending. */
  private def awaitIdle(q: StreamingQuery): Unit = {
    var quiet = 0
    val deadline = System.nanoTime() + 10000000000L
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      if (!q.status.isTriggerActive && !q.status.isDataAvailable) quiet += 1 else quiet = 0
    }
  }

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private def watermarkMs(p: StreamingQueryProgress): Long =
    Option(p.eventTime.get("watermark")).map(w => java.time.Instant.parse(w).toEpochMilli).getOrElse(Long.MinValue)

  /** Trigger values are medians over the open-loop batches. State values
    * are per saturation chunk: summed over every batch of the phase, the
    * no-data batches a watermark advance adds (where append mode evicts)
    * included, and divided by the number of chunks.
    */
  private def layersFromProgress(r: Main.Result, sat: Seq[StreamingQueryProgress],
                                 open: Seq[StreamingQueryProgress], chunks: Int): Unit = {
    for ((k, m) <- Seq("triggerExecution" -> "trigger.exec_ms", "addBatch" -> "trigger.add_batch_ms",
        "queryPlanning" -> "trigger.planning_ms", "walCommit" -> "trigger.wal_commit_ms",
        "commitOffsets" -> "trigger.commit_offsets_ms"))
      r.layers(m) = Main.median(open.map(dur(_, k)))
    val ops = sat.flatMap(_.stateOperators.headOption)
    def perChunk(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      ops.map(f).sum / math.max(1, chunks)
    def custom(k: String)(o: org.apache.spark.sql.streaming.StateOperatorProgress): Double =
      Option(o.customMetrics.get(k)).map(_.doubleValue).getOrElse(0.0)
    r.layers("state.rows_total") = ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)
    r.layers("state.memory_bytes") = ops.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0)
    r.layers("state.commit_ms") = perChunk(_.commitTimeMs.toDouble)
    r.layers("state.rows_removed") = perChunk(_.numRowsRemoved.toDouble)
    r.layers("state.removals_ms") = perChunk(_.allRemovalsTimeMs.toDouble)
    r.layers("state.rocksdb_put_ms") = perChunk(custom("rocksdbPutLatency"))
    r.layers("state.rocksdb_flush_ms") = perChunk(custom("rocksdbCommitFlushLatency"))
    r.layers("state.rocksdb_bytes_written") = perChunk(custom("rocksdbTotalBytesWritten"))
    val hits = ops.map(custom("rocksdbReadBlockCacheHitCount")).sum
    val misses = ops.map(custom("rocksdbReadBlockCacheMissCount")).sum
    r.layers("state.block_cache_hit_ratio") = if (hits + misses > 0) hits / (hits + misses) else 0.0
  }

  /** Decodes every frame sent with the PERMISSIVE policy and counts the
    * malformed ones; in a traced run the decode is also timed alone.
    */
  private def countMalformed(spark: SparkSession, sent: Seq[Array[Byte]], r: Main.Result,
                             trace: Boolean): Long = {
    import spark.implicits._
    val ts = new Timestamp(0L)
    val raw = sent.map(f => (f, ts)).toDF("value", "timestamp").persist()
    raw.count()
    val t0 = System.nanoTime()
    val row = KafkaIO.decodeAvroFrames(raw, KafkaIO.purchaseAvroSchema, "PERMISSIVE")
      .agg(count(col("decoded.id")), count(col("_corrupt_record"))).head()
    val secs = (System.nanoTime() - t0) / 1e9
    raw.unpersist()
    if (trace) {
      r.layers("sources.decode_frames_per_s") = sent.size / secs
      r.layers("sources.malformed_frames") = row.getLong(1).toDouble
    }
    row.getLong(1) + (sent.size - row.getLong(0) - row.getLong(1))
  }

  /** ToAvroGraft alone, over the decoded alerts replicated to at least
    * 200k rows so the encode and not the job launch dominates.
    */
  private def encodeRate(spark: SparkSession, alerts: Seq[(String, Long, Double)]): Double = {
    import spark.implicits._
    if (alerts.isEmpty) return 0.0
    val copies = math.max(1, 200000 / alerts.size)
    val df = alerts.toDF("product_id", "window_start_ms", "total_sum_per_minute")
      .crossJoin(spark.range(copies))
      .select(col("product_id"), timestamp_millis(col("window_start_ms")).as("window_start"),
        col("total_sum_per_minute"))
      .persist()
    val n = df.count()
    def encodeOnce(): Unit = df.select(GraftFunctions.toAvro(
        struct(col("window_start"), col("total_sum_per_minute")),
        KafkaIO.priceAlertAvroSchema, confluentFraming = true).as("value"))
      .agg(sum(length(col("value")))).head()
    encodeOnce()
    val t0 = System.nanoTime()
    for (_ <- 1 to 3) encodeOnce()
    val rate = 3 * n / ((System.nanoTime() - t0) / 1e9)
    df.unpersist()
    rate
  }

  /** The self-test's corrupted result: one alert's sum changed by 1. */
  private def corruptOne(received: java.util.Queue[Received]): Unit =
    Option(received.peek()).foreach { rec =>
      val v = rec.value
      val bits = java.lang.Double.doubleToLongBits(java.nio.ByteBuffer.wrap(v, v.length - 8, 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getDouble + 1.0)
      java.nio.ByteBuffer.wrap(v, v.length - 8, 8).order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(bits)
    }

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  private def shuffled(n: Int, rng: java.util.SplittableRandom): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    for (i <- n - 1 to 1 by -1) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a
  }

  /** Confluent frame of a Purchase {id, quantity, productid}: the header,
    * then three zig-zag varint longs (Avro binary encoding).
    */
  def encodePurchase(id: Long, quantity: Long, productId: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(20)
    out.write(Header)
    writeLong(out, id); writeLong(out, quantity); writeLong(out, productId)
    out.toByteArray
  }

  private def writeLong(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    var z = (v << 1) ^ (v >> 63)
    while ((z & ~0x7FL) != 0) { out.write(((z & 0x7F) | 0x80).toInt); z >>>= 7 }
    out.write(z.toInt)
  }

  /** Decodes a PriceAlert frame: header, zig-zag varint timestamp-millis,
    * little-endian double. None if the frame is malformed.
    */
  def decodeAlert(v: Array[Byte]): Option[(Long, Double)] = {
    if (v.length < Header.length + 9 || !v.take(Header.length).sameElements(Header)) return None
    var pos = Header.length
    var shift = 0
    var z = 0L
    var more = true
    while (more && pos < v.length) {
      val b = v(pos); pos += 1
      z |= (b & 0x7FL) << shift; shift += 7
      more = (b & 0x80) != 0
    }
    if (more || v.length - pos != 8) return None
    val ms = (z >>> 1) ^ -(z & 1)
    Some(ms -> java.nio.ByteBuffer.wrap(v, pos, 8).order(java.nio.ByteOrder.LITTLE_ENDIAN).getDouble)
  }
}

/** The streaming correctness oracle: an exact tally per (product, window)
  * built from the events the generator sent, in send order.
  */
class Oracle(shape: AlertsWorkload.Shape, price: Array[Double], productOf: Array[Int],
             qtyOf: Array[Int], stamps: Array[Long], sent: Seq[Int]) {
  /** Running sums per key, each with the index of the event that made it. */
  private val prefix = mutable.HashMap[(Long, Long), (mutable.ArrayBuffer[Double], mutable.ArrayBuffer[Int])]()
  for (i <- sent) {
    val key = (productOf(i).toLong, stamps(i) - Math.floorMod(stamps(i), shape.windowMs))
    val (sums, idx) = prefix.getOrElseUpdate(key, (mutable.ArrayBuffer(), mutable.ArrayBuffer()))
    sums += (sums.lastOption.getOrElse(0.0) + qtyOf(i) * price(productOf(i)))
    idx += i
  }

  /** Checks every received alert. In update mode each must equal a
    * running sum of its key above the threshold, emitted once, and every
    * key's final sum above the threshold must have arrived. In append
    * mode each key whose window the watermark closed must be emitted
    * exactly once with its final sum, and no open window may be. Also
    * returns, per right alert, the event that triggered it: the newest
    * contributing event (update), or the first event whose time let the
    * watermark close the window (append).
    */
  def verify(received: Seq[AlertsWorkload.Received], watermarks: Map[Long, Long]): Oracle.Outcome = {
    var wrong, extra = 0L
    val trig = mutable.ArrayBuffer[(AlertsWorkload.Received, Int)]()
    val decoded = mutable.ArrayBuffer[(String, Long, Double)]()
    val seen = mutable.HashSet[(Long, Long, Double)]()
    val sentStamps = sent.map(stamps).toArray
    val finalWm = if (watermarks.isEmpty) Long.MinValue else watermarks.maxBy(_._1)._2
    for (rec <- received) {
      val parsed = for {
        (ws, total) <- AlertsWorkload.decodeAlert(rec.value)
        p <- rec.key.toLongOption
      } yield (p, ws, total)
      parsed match {
        case None => wrong += 1
        case Some((p, ws, total)) =>
          decoded += ((rec.key, ws, total))
          val ok = prefix.get((p, ws)).flatMap { case (sums, idx) =>
            val at = java.util.Arrays.binarySearch(sums.toArray, total)
            if (at < 0 || total <= shape.threshold) None
            else if (shape.append && at != sums.size - 1) None
            else if (shape.append && ws + shape.windowMs > watermarks.getOrElse(rec.batch, Long.MinValue)) None
            else Some(if (shape.append) closer(sentStamps, ws + shape.windowMs + shape.watermarkMs) else idx(at))
          }
          ok match {
            case None => wrong += 1
            case Some(ev) =>
              if (!seen.add((p, ws, total))) extra += 1
              else if (ev >= 0) trig += ((rec, ev))
          }
      }
    }
    val due = prefix.collect { case ((p, ws), (sums, _))
      if sums.last > shape.threshold && (!shape.append || ws + shape.windowMs <= finalWm) =>
        (p, ws, sums.last) }
    val missing = due.count(k => !seen.contains(k)).toLong
    Oracle.Outcome(due.size.toLong, missing, extra, wrong, trig.toSeq, decoded.toSeq)
  }

  /** First sent event stamped at or after `t`, or -1. Stamps never
    * decrease in send order, so this is a binary search.
    */
  private def closer(sentStamps: Array[Long], t: Long): Int = {
    var lo = 0
    var hi = sentStamps.length
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (sentStamps(mid) < t) lo = mid + 1 else hi = mid }
    if (lo < sent.size) sent(lo) else -1
  }
}

object Oracle {
  final case class Outcome(expected: Long, missing: Long, extra: Long, wrong: Long,
                           trigger: Seq[(AlertsWorkload.Received, Int)],
                           decoded: Seq[(String, Long, Double)])
}
