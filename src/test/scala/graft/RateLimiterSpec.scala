package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.RateLimiter
import graft.streaming.RateLimiter.Ev

class RateLimiterSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def t(s: String) = Timestamp.valueOf(s)
  private def tmp(p: String) = Files.createTempDirectory(p).toFile.getAbsolutePath

  private def run(phases: Seq[Seq[Seq[Ev]]], interrupt: Boolean,
                  rate: Double, burst: Double): Seq[String] = {
    withRocksDb(runInner(phases, interrupt, rate, burst))
  }

  private def runInner(phases: Seq[Seq[Seq[Ev]]], interrupt: Boolean,
                       rate: Double, burst: Double): Seq[String] = {
    val cp = tmp("graft-rl-cp"); val out = tmp("graft-rl-out")
    val in = MemoryStream[Ev]
    val df = RateLimiter.admit(spark, in.toDF(), rate, burst).toDF()
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
    spark.read.parquet(out).collect().map(_.mkString("|")).sorted.toSeq
  }

  test("token bucket: burst admits, dry bucket rejects, refill re-admits") {
    // burst 2, rate 1/s: events at t0 (x3) -> 2 admitted, 1 rejected;
    // +5 s -> refilled (capped at burst), next two admitted
    val phases = Seq(Seq(
      Seq(Ev("k", t("2024-01-01 00:00:00"), "a"),
          Ev("k", t("2024-01-01 00:00:00"), "b"),
          Ev("k", t("2024-01-01 00:00:00"), "c")),
      Seq(Ev("k", t("2024-01-01 00:00:05"), "d"),
          Ev("k", t("2024-01-01 00:00:05"), "e"),
          Ev("k", t("2024-01-01 00:00:05"), "f"))))
    val got = run(phases, interrupt = false, rate = 1.0, burst = 2.0)
    val admits = got.map(r => r.split('|').last == "true")
    // payload-sorted: a,b admitted; c rejected; d,e admitted; f rejected
    val byPayload = got.map { r => val p = r.split('|'); p(2) -> p(3) }.toMap
    assert(byPayload == Map("a" -> "true", "b" -> "true", "c" -> "false",
      "d" -> "true", "e" -> "true", "f" -> "false"), s"got $byPayload")
    assert(admits.count(identity) == 4)
  }

  test("per-key isolation: one hot key cannot starve another") {
    val phases = Seq(Seq(Seq(
      Ev("hot", t("2024-01-01 00:00:00"), "h1"),
      Ev("hot", t("2024-01-01 00:00:00"), "h2"),
      Ev("hot", t("2024-01-01 00:00:00"), "h3"),
      Ev("cold", t("2024-01-01 00:00:00"), "c1"))))
    val got = run(phases, interrupt = false, rate = 1.0, burst = 1.0)
    val byPayload = got.map { r => val p = r.split('|'); p(2) -> p(3) }.toMap
    assert(byPayload("h1") == "true" && byPayload("h2") == "false")
    assert(byPayload("c1") == "true", "cold key must keep its own bucket")
  }

  test("rate limiter recovers from checkpoint: bucket level survives the kill") {
    // phase 1 drains the burst; phase 2 (after restart) at +1 s has
    // exactly ONE refilled token — admitted only if the bucket level
    // was recovered, and the second event must still be rejected
    val phases = Seq(
      Seq(Seq(Ev("k", t("2024-01-01 00:00:00"), "a"),
              Ev("k", t("2024-01-01 00:00:00"), "b"))),
      Seq(Seq(Ev("k", t("2024-01-01 00:00:01"), "c"),
              Ev("k", t("2024-01-01 00:00:01"), "d"))))
    val resumed = run(phases, interrupt = true, rate = 1.0, burst = 1.0)
    val straight = run(phases, interrupt = false, rate = 1.0, burst = 1.0)
    assert(resumed == straight,
      s"admission must match uninterrupted run:\n$resumed\nvs\n$straight")
    val byPayload = resumed.map { r => val p = r.split('|'); p(2) -> p(3) }.toMap
    assert(byPayload == Map("a" -> "true", "b" -> "false",
      "c" -> "true", "d" -> "false"), s"got $byPayload")
  }
}
