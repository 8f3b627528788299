package graft

import java.sql.Timestamp

import graft.operators.AsOfJoin

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val quotes = Seq(
    // key, ts, quote_id, px
    (1L, ts("2024-01-01 00:00:00"), 10L, 100.0),
    (1L, ts("2024-01-01 00:01:00"), 11L, 101.0),
    (1L, ts("2024-01-01 00:05:00"), 12L, 105.0),
    (2L, ts("2024-01-01 00:02:00"), 20L, 200.0))
    .toDF("user_id", "ts", "event_id", "value")

  private def trades(rows: (Long, String)*) =
    rows.zipWithIndex.map { case ((k, t), i) => (100L + i, k, ts(t)) }
      .toDF("event_id", "user_id", "ts")

  private def run(left: org.apache.spark.sql.DataFrame) =
    AsOfJoin.asof(left, quotes, "user_id", "user_id", "ts", "ts", "event_id")

  test("picks the latest right row at or before left ts") {
    val out = run(trades((1L, "2024-01-01 00:03:00"))).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Double]("asof_value") == 101.0)
  }

  test("equal timestamps are inclusive (right row at same ts matches)") {
    val out = run(trades((1L, "2024-01-01 00:01:00"))).collect()
    assert(out.head.getAs[Double]("asof_value") == 101.0)
  }

  test("no earlier right row: the left row is dropped") {
    assert(run(trades((1L, "2023-12-31 23:59:00"))).collect().isEmpty)
  }

  test("keys do not leak across partitions") {
    val out = run(trades((2L, "2024-01-01 00:10:00"))).collect()
    assert(out.head.getAs[Double]("asof_value") == 200.0)
  }

  test("physical AsOfJoinExec agrees with the union+window composition") {
    import org.apache.spark.sql.functions.col
    val ev = graft.sources.Tables.events(spark, sf001)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val comp = AsOfJoin.asof(clicks, purch,
        "user_id", "user_id", "ts", "ts", "event_id")
      .select(col("event_id"), col("user_id"), col("asof_ts"), col("asof_value"))
      .collect().map(_.toString).sorted
    val phys = graft.plans.AsOfJoinPhysical.asof(clicks, purch,
        "user_id", "user_id", "ts", "ts")
      .select(col("event_id"), col("user_id"), col("asof_ts"), col("asof_value"))
      .collect().map(_.toString).sorted
    assert(phys.nonEmpty)
    assert(comp.toSeq == phys.toSeq)
  }

  test("physical exec: rightTie pins duplicate-(key, ts) rows to the max tie") {
    import org.apache.spark.sql.functions.col
    // two right rows at the SAME (key, ts) — without a tie the kept
    // one is partition-order-dependent; with rightTie the winner is
    // the max event_id, matching the composition form's contract
    // (rightTie asc + last()), whatever the partition history was
    val dupQuotes = Seq(
      (1L, ts("2024-01-01 00:01:00"), 11L, 101.0),
      (1L, ts("2024-01-01 00:01:00"), 13L, 113.0))
      .toDF("user_id", "ts", "event_id", "value")
      .repartition(5) // scramble the incoming order
    val out = graft.plans.AsOfJoinPhysical.asof(
        trades((1L, "2024-01-01 00:02:00")), dupQuotes,
        "user_id", "user_id", "ts", "ts", rightTie = Some("event_id"))
      .collect()
    assert(out.length == 1)
    assert(out.head.getAs[Double]("asof_value") == 113.0)
    assert(out.head.getAs[Long]("asof_event_id") == 13L)
    val comp = AsOfJoin.asof(trades((1L, "2024-01-01 00:02:00")), dupQuotes,
        "user_id", "user_id", "ts", "ts", "event_id").collect()
    assert(comp.head.getAs[Double]("asof_value") == 113.0)
  }

  test("physical exec plan shape: co-partitioned exchanges + in-partition sorts, no window") {
    import org.apache.spark.sql.functions.col
    val ev = graft.sources.Tables.events(spark, sf001)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val plan = graft.plans.AsOfJoinPhysical.asof(clicks, purch,
      "user_id", "user_id", "ts", "ts").queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin")) // nodeName renders without the Exec suffix
    assert(!plan.contains("Window"), "merge exec must not need a window operator")
  }

  test("left rows between right versions each get their own match") {
    val out = run(trades(
      (1L, "2024-01-01 00:00:30"),
      (1L, "2024-01-01 00:04:00"),
      (1L, "2024-01-01 00:06:00"))).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("asof_value")).toMap
    assert(out == Map(100L -> 100.0, 101L -> 101.0, 102L -> 105.0))
  }

  // ---- forward + tolerance variant (q180) ----

  private def runFwd(left: org.apache.spark.sql.DataFrame, tolUs: Long) =
    AsOfJoin.asofForward(left, quotes, "user_id", "user_id", "ts", "ts",
      "event_id", tolUs)

  test("forward: picks the earliest right row at or after left ts") {
    val out = runFwd(trades((1L, "2024-01-01 00:02:00")), 600000000L).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Double]("asof_value") == 105.0)
  }

  test("forward: equal timestamps are inclusive") {
    val out = runFwd(trades((1L, "2024-01-01 00:01:00")), 600000000L).collect()
    assert(out.head.getAs[Double]("asof_value") == 101.0)
  }

  test("forward: tolerance excludes a too-distant next match") {
    // next right after 00:02 is at 00:05 (180 s away); tol 60 s -> none
    assert(runFwd(trades((1L, "2024-01-01 00:02:00")), 60000000L).collect().isEmpty)
  }

  test("forward: equal-ts right rows break ties to the smallest tie id") {
    val right = Seq(
      (1L, ts("2024-01-01 00:01:00"), 31L, 301.0),
      (1L, ts("2024-01-01 00:01:00"), 30L, 300.0))
      .toDF("user_id", "ts", "event_id", "value")
    val out = AsOfJoin.asofForward(trades((1L, "2024-01-01 00:00:00")),
      right, "user_id", "user_id", "ts", "ts", "event_id", 600000000L)
      .collect()
    assert(out.head.getAs[Long]("asof_event_id") == 30L)
  }

  test("forward: no future right row drops (inner) even within tolerance") {
    assert(runFwd(trades((1L, "2024-01-01 00:06:00")), 600000000L)
      .collect().isEmpty)
  }
}
