package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.StreamingAnomaly
import graft.streaming.StreamingAnomaly.Pt

class StreamingAnomalySpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def t(s: Int) = Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
  private def tmp(p: String) = Files.createTempDirectory(p).toFile.getAbsolutePath

  // detect flags |x − mean| > 3·sigma once a key has 8 prior points
  private def run(phases: Seq[Seq[Seq[Pt]]], interrupt: Boolean): Map[Long, Boolean] = {
    withRocksDb {
      val cp = tmp("graft-an-cp"); val out = tmp("graft-an-out")
      val in = MemoryStream[Pt]
      val df = StreamingAnomaly.detect(spark, in.toDF()).toDF()
      def start() = df.writeStream.format("parquet")
        .option("checkpointLocation", cp).option("path", out)
        .outputMode("append").start()
      var q = start()
      try {
        phases.zipWithIndex.foreach { case (batches, i) =>
          if (i > 0 && interrupt) { q.stop(); q = start() }
          batches.foreach { b => in.addData(b); q.processAllAvailable() }
        }
      } finally q.stop()
      spark.read.parquet(out).collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[Boolean]("is_anomaly"))
        .toMap
    }
  }

  test("streaming anomaly: wild point flagged against pre-update stats; warm-up never flags") {
    // key A: 10 calm points around 10.0, then a wild 1000.0, then calm
    val calm = (0 until 10).map(i =>
      Pt("A", t(i), i.toLong, 10.0 + (i % 3) * 0.5))
    val wild = Pt("A", t(10), 100L, 1000.0)
    val after = Pt("A", t(11), 101L, 10.5)
    val got = run(Seq(Seq(calm, Seq(wild, after))), interrupt = false)
    assert(got(100L), "the wild point must be flagged")
    assert(calm.forall(p => !got(p.event_id)),
      "warm-up and calm points must not be flagged")
    // the point AFTER the wild one is judged against stats that now
    // include the outlier — sigma exploded, so it must NOT be flagged
    assert(!got(101L))
  }

  test("streaming anomaly: decisions survive kill/resume (Welford state recovered)") {
    val calm = (0 until 10).map(i =>
      Pt("A", t(i), i.toLong, 10.0 + (i % 3) * 0.5))
    val phase2 = Seq(Pt("A", t(10), 100L, 1000.0), Pt("A", t(11), 101L, 10.5))
    val phases = Seq(Seq(calm), Seq(phase2))
    val resumed = run(phases, interrupt = true)
    val straight = run(phases, interrupt = false)
    assert(resumed == straight,
      s"verdicts must match:\n$resumed\nvs\n$straight")
    assert(resumed(100L), "recovered stats must still flag the wild point")
  }

  test("streaming anomaly: emitted mean/sigma are the pre-update pair that reproduces the verdict") {
    withRocksDb {
      val cp = tmp("graft-an2-cp"); val out = tmp("graft-an2-out")
      val calm = (0 until 10).map(i =>
        Pt("A", t(i), i.toLong, 10.0 + (i % 3) * 0.5))
      val wild = Pt("A", t(10), 100L, 1000.0)
      val in = MemoryStream[Pt]
      val df = StreamingAnomaly.detect(spark, in.toDF()).toDF()
      val q = df.writeStream.format("parquet")
        .option("checkpointLocation", cp).option("path", out)
        .outputMode("append").start()
      try {
        in.addData(calm); q.processAllAvailable()
        in.addData(Seq(wild)); q.processAllAvailable()
      } finally q.stop()
      val rows = spark.read.parquet(out).collect()
        .map(r => r.getAs[Long]("event_id") ->
          ((r.getAs[Double]("value"), r.getAs[Double]("mean"),
            r.getAs[Double]("sigma"), r.getAs[Boolean]("is_anomaly"))))
        .toMap
      // the wild row's emitted mean is the PRE-update mean of the 10
      // calm points (104.5/10), not the post-fold mean polluted by 1000
      val (_, wMean, wSigma, wFlag) = rows(100L)
      assert(math.abs(wMean - 10.45) < 1e-9,
        s"mean must be pre-update (10.45), got $wMean")
      assert(wFlag && wSigma > 0.0)
      // every flagged row is reproducible from its own emitted fields:
      // |value - mean| > z * sigma — mean and sigma from ONE epoch
      rows.values.foreach { case (v, m, s, flag) =>
        if (flag) assert(s > 0.0 && math.abs(v - m) > 3.0 * s,
          s"verdict not reproducible from emitted fields: v=$v m=$m s=$s")
      }
    }
  }

  test("streaming anomaly: keys are independent") {
    val a = (0 until 10).map(i => Pt("A", t(i), i.toLong, 10.0 + (i % 2) * 0.5))
    // key B's scale is 100x A's — B's points are normal FOR B
    val b = (0 until 10).map(i => Pt("B", t(i), 200L + i, 1000.0 + (i % 2) * 50))
    val probe = Seq(Pt("A", t(10), 100L, 1000.0), Pt("B", t(10), 300L, 1050.0))
    val got = run(Seq(Seq(a ++ b, probe)), interrupt = false)
    assert(got(100L), "1000 is anomalous for key A")
    assert(!got(300L), "1050 is normal for key B")
  }

  private def runCusum(phases: Seq[Seq[Seq[graft.streaming.StreamingCusum.CPt]]],
                       interrupt: Boolean): Map[Long, Boolean] = {
    import graft.streaming.StreamingCusum
    withRocksDb {
      val cp = tmp("graft-cu-cp"); val out = tmp("graft-cu-out")
      val in = MemoryStream[StreamingCusum.CPt]
      val df = StreamingCusum.detect(spark, in.toDF()).toDF()
      def start() = df.writeStream.format("parquet")
        .option("checkpointLocation", cp).option("path", out)
        .outputMode("append").start()
      var q = start()
      try {
        phases.zipWithIndex.foreach { case (batches, i) =>
          if (i > 0 && interrupt) { q.stop(); q = start() }
          batches.foreach { b => in.addData(b); q.processAllAvailable() }
        }
      } finally q.stop()
      spark.read.parquet(out).collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[Boolean]("alarm"))
        .toMap
    }
  }

  test("streaming CUSUM: alarm-for-alarm equality with the q151 batch fold") {
    import graft.streaming.StreamingCusum.CPt
    import graft.operators.TimeSeries
    // the q151 spec series: user 2 = [0,0,0,0,1000] vs mean 200
    // (alarms at the 2nd, 4th and 5th points), user 1 calm at mean 100
    val pts = Seq(
      CPt("1", t(10), 1L, 100.0, 100.0), CPt("1", t(20), 2L, 100.0, 100.0),
      CPt("1", t(30), 3L, 100.0, 100.0),
      CPt("2", t(10), 4L, 0.0, 200.0), CPt("2", t(20), 5L, 0.0, 200.0),
      CPt("2", t(30), 6L, 0.0, 200.0), CPt("2", t(40), 7L, 0.0, 200.0),
      CPt("2", t(50), 8L, 1000.0, 200.0))
    val got = runCusum(Seq(Seq(pts)), interrupt = false)
    assert(got.filter(_._2).keySet == Set(5L, 7L, 8L), s"alarms: $got")
    // equality with the batch operator: same alarm COUNT per key when
    // the calibrated mean equals the full-series mean q151 derives
    val batch = TimeSeries.cusum(
      pts.map(p => (p.event_id, p.key.toLong, p.ts, p.value))
        .toDF("event_id", "user_id", "ts", "value")).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(batch(1L) == 0L &&
      batch(2L) == got.count { case (id, a) => a && id >= 4L })
  }

  test("streaming CUSUM: kill/resume mid-series reproduces the straight run") {
    import graft.streaming.StreamingCusum.CPt
    val p1 = Seq(CPt("2", t(10), 4L, 0.0, 200.0), CPt("2", t(20), 5L, 0.0, 200.0))
    val p2 = Seq(CPt("2", t(30), 6L, 0.0, 200.0), CPt("2", t(40), 7L, 0.0, 200.0),
      CPt("2", t(50), 8L, 1000.0, 200.0))
    val phases = Seq(Seq(p1), Seq(p2))
    val resumed = runCusum(phases, interrupt = true)
    val straight = runCusum(phases, interrupt = false)
    assert(resumed == straight, s"$resumed vs $straight")
    assert(resumed.filter(_._2).keySet == Set(5L, 7L, 8L))
  }
}
