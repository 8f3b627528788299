package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.AsOfJoin
import graft.streaming.StreamingAsof
import graft.streaming.StreamingAsof.Ev

/** q180's streaming twin: event-time forward as-of with tolerance on
  * transformWithState — timer-resolved (never eager), watermark+
  * pending-purchase error eviction, batch tie rules, kill/resume.
  */
class StreamingAsofSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val TolMs = 30L * 60L * 1000L
  private def ts(s: String) = Timestamp.valueOf(s)
  private def tmp(p: String) = Files.createTempDirectory(p).toFile.getAbsolutePath

  private val sentinels = Seq(
    Ev(-1L, -1L, ts("2030-01-01 00:00:00"), "view"),
    Ev(-1L, -2L, ts("2030-01-01 01:00:00"), "view"))

  private def run(phases: Seq[Seq[Seq[Ev]]],
                  interrupt: Boolean): Set[(Long, Long, Long)] = {
    withRocksDb {
      val cp = tmp("graft-fa-cp"); val out = tmp("graft-fa-out")
      val in = MemoryStream[Ev]
      val df = StreamingAsof.matches(spark, in.toDF(), TolMs,
        watermarkDelay = "10 minutes").toDF()
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
        .map(r => (r.getAs[Long]("p_id"), r.getAs[Long]("next_error_id"),
          r.getAs[Long]("delta_s"))).toSet
    }
  }

  private val handCase: Seq[Seq[Ev]] = Seq(
    // batch 1: purchase then a LATER error; watermark stays behind
    Seq(Ev(1L, 1L, ts("2024-01-01 10:00:00"), "purchase"),
      Ev(1L, 2L, ts("2024-01-01 10:05:00"), "error")),
    // batch 2: an EARLIER error arrives late (within the 10-min
    // delay) — p1 must end up matching it, not the batch-1 error;
    // plus a second user with an equal-ts error tie and a shared
    // error across two purchases
    Seq(Ev(1L, 3L, ts("2024-01-01 10:03:00"), "error"),
      Ev(1L, 4L, ts("2024-01-01 10:04:00"), "purchase"),
      Ev(1L, 5L, ts("2024-01-01 11:30:00"), "purchase"),
      Ev(2L, 6L, ts("2024-01-01 10:00:00"), "purchase"),
      Ev(2L, 9L, ts("2024-01-01 10:02:00"), "purchase"),
      Ev(2L, 8L, ts("2024-01-01 10:10:00"), "error"),
      Ev(2L, 7L, ts("2024-01-01 10:10:00"), "error")),
    sentinels)

  private val handExpected = Set(
    (1L, 3L, 180L), // p1 waits for the late-arriving earlier error
    (4L, 2L, 60L), // p2's nearest forward error
    (6L, 7L, 600L), // equal-ts errors tie-break to min event_id
    (9L, 7L, 480L)) // one error serves two purchases
  // p5 (11:30) has no error within tolerance -> inner drops it

  test("forward as-of stream: late errors, ties, sharing, no-match") {
    assert(run(Seq(handCase), interrupt = false) == handExpected)
  }

  test("forward as-of stream: identical verdicts after kill/resume") {
    val phases = Seq(handCase.take(2), Seq(handCase(2)))
    assert(run(phases, interrupt = true) == handExpected)
  }

  test("forward as-of stream == AsOfJoin.asofForward on the fixture") {
    val ev = graft.sources.Tables.events(spark, sf001)
      .filter(col("event_type").isin("purchase", "error"))
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"))
    val rows = ev.orderBy("ts", "event_id").as[Ev].collect()
    val chunks = rows.grouped(math.max(1, rows.length / 3))
      .map(_.toSeq).toSeq
    val got = run(Seq(chunks :+ sentinels), interrupt = false)

    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        col("ts").as("p_ts"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("e_id"),
        col("ts").as("e_ts"))
    val want = AsOfJoin.asofForward(purchases, errors, "user_id",
        "user_id", "p_ts", "e_ts", "e_id", TolMs * 1000L)
      .select(col("p_id"), col("asof_e_id"),
        ((unix_micros(col("asof_e_ts")) - unix_micros(col("p_ts")))
          / 1000000L).cast("long").as("delta_s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(want.nonEmpty, "fixture must produce at least one match")
    assert(got == want, s"stream vs batch:\n${(got -- want).take(5)}\n${(want -- got).take(5)}")
  }
}
