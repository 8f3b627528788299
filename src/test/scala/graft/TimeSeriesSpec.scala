package graft

import java.sql.Timestamp

import graft.operators.TimeSeries

class TimeSeriesSpec extends SparkSpec {
  import spark.implicits._

  private def ev(rows: (Long, Long, Long, Double)*) =
    rows.map { case (id, u, sec, v) =>
      (id, u, new Timestamp(sec * 1000L), v)
    }.toDF("event_id", "user_id", "ts", "value")

  test("truncated EWMA matches the hand fold; rolling stats track the frame") {
    val out = TimeSeries.ewmaFeatures(ev(
      (1L, 1L, 10L, 1.0), (2L, 1L, 20L, 2.0),
      (3L, 1L, 30L, 3.0), (4L, 1L, 40L, 4.0)))
      .orderBy("event_id").collect()
    // ewma_t = sum_j vals[j] * 2^-(n-j+1), newest weight 1/2
    val expected = Seq(0.5, 1.25, 2.125, 3.0625)
    out.zip(expected).foreach { case (r, e) =>
      assert(r.getAs[Double]("ewma") == e, s"row $r")
    }
    val r3 = out(2)
    assert(r3.getAs[Double]("roll_mean") == 2.0)
    assert(r3.getAs[Double]("roll_min") == 1.0)
    assert(r3.getAs[Double]("roll_max") == 3.0)
  }

  test("window truncation drops history beyond w events; users are independent") {
    // user 1: a 100 at t1, then w events of 1.0
    val w = TimeSeries.EwmaWindow
    val user1 = (1L, 1L, 10L, 100.0) +: (2 to w + 1).map(i => (i.toLong, 1L, 10L * i, 1.0))
    val out = TimeSeries.ewmaFeatures(ev(user1 :+ (((w + 2).toLong, 2L, 10L, 7.0)): _*))
      .orderBy("event_id").collect()
    // the last user-1 frame holds only the w ones: the 100 is out of the window
    assert(out(w).getAs[Double]("ewma") == 1.0 - math.pow(0.5, w))
    assert(out(w).getAs[Double]("roll_max") == 1.0)
    // user 2 starts fresh
    assert(out(w + 1).getAs[Double]("ewma") == 3.5)
  }

  test("outlier counts: strict 2-sigma boundary is exact in decimal space") {
    // k equal values and one extreme: the extreme's deviation is
    // (n-1)d/n against 2*sigma = 2*sqrt(n-1)*d/n, so it is an outlier
    // iff sqrt(n-1) > 2. At n=5 the two sides are EQUAL for ANY
    // extreme — a structural boundary that strict > must exclude, and
    // exactly the case a float sqrt formulation cannot decide
    // reliably; at n=6 the extreme is a true outlier.
    def rows(nTens: Int, extreme: Double) =
      ((1 to nTens).map(i => (i.toLong, "t", 10.0)) :+
        ((nTens + 1).toLong, "t", extreme))
        .map { case (id, t, v) => (id, 1L, new Timestamp(id * 1000L), t, v) }
        .toDF("event_id", "user_id", "ts", "event_type", "value")
    val atBoundary = TimeSeries.outlierCounts(rows(4, 100.0)).collect()
    assert(atBoundary.head.getAs[Long]("n_outliers") == 0L)
    val pastBoundary = TimeSeries.outlierCounts(rows(5, 100.0)).collect()
    assert(pastBoundary.head.getAs[Long]("n_outliers") == 1L)
    assert(pastBoundary.head.getAs[Long]("n_events") == 6L)
  }

  test("OLS trend: exact slope on a known line, zero on constants") {
    val ev = Seq(
      (1L, 0L, 1.0), (1L, 10L, 21.0), (1L, 20L, 41.0), // slope 2.0
      (2L, 0L, 7.0), (2L, 30L, 7.0)) // constant: slope 0
      .map { case (u, sec, v) => (u, new Timestamp(sec * 1000L), v) }
      .toDF("user_id", "ts", "value")
    val out = TimeSeries.olsTrend(ev).orderBy("user_id").collect()
    assert(out(0).getAs[Double]("slope") == 2.0)
    assert(out(1).getAs[Double]("slope") == 0.0)
  }

  test("funnel: first-touch ordering, strict-after semantics") {
    val ev = Seq(
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
      (2L, "click", 5L), (2L, "view", 10L), // click BEFORE view: stage 1
      (3L, "view", 10L), (3L, "purchase", 20L), // no click: stage 1
      (4L, "view", 10L), (4L, "click", 10L)) // same instant: strict >
      .map { case (u, t, sec) => (u, t, new Timestamp(sec * 1000L)) }
      .toDF("user_id", "event_type", "ts")
    val out = graft.operators.Relational
      .funnel(ev, Seq("view", "click", "purchase"))
      .orderBy("stage_idx").collect()
    assert(out.map(r => (r.getString(1), r.getLong(2))).toSeq ==
      Seq(("view", 4L), ("click", 1L), ("purchase", 1L)))
  }

  test("funnel latency: deltas from first-touch chain, quantile_disc rule") {
    val ev = Seq(
      // user 1 converts view→click in 10 s, click→purchase in 20 s
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 40L),
      // user 2 converts view→click in 30 s, never purchases
      (2L, "view", 10L), (2L, "click", 40L),
      // user 3: click before view — never qualifies past stage 1
      (3L, "click", 5L), (3L, "view", 10L))
      .map { case (u, t, sec) => (u, t, new Timestamp(sec * 1000L)) }
      .toDF("user_id", "event_type", "ts")
    val out = graft.operators.Relational
      .funnelLatency(ev, Seq("view", "click", "purchase"))
      .orderBy("stage_idx").collect()
    val click = out(0); val purch = out(1)
    assert(click.getLong(0) == 2L && click.getString(1) == "click")
    assert(click.getLong(2) == 2L, s"2 users convert to click: $click")
    // deltas {10s, 30s}: p50 = ceil(.5·2)-1 = idx 0 → 10 s; p90 → 30 s
    assert(click.getLong(3) == 10000000L && click.getLong(4) == 30000000L,
      s"click deltas wrong: $click")
    assert(purch.getLong(2) == 1L &&
      purch.getLong(3) == 20000000L && purch.getLong(4) == 20000000L,
      s"purchase deltas wrong: $purch")
  }

  test("top journeys: session split, ordered path, length cap") {
    val m = 60L
    val ev = Seq(
      // user 1, session 1: v>c>p ; session 2 (gap > 30 min): v
      (1L, 1L, 0L, "view"), (2L, 1L, m, "click"), (3L, 1L, 2 * m, "purchase"),
      (4L, 1L, 120 * m, "view"),
      // user 2: one session v>c — same path shape as nothing else
      (5L, 2L, 0L, "view"), (6L, 2L, m, "click"),
      // user 3: 7 events, path capped at 5
      (7L, 3L, 0L, "view"), (8L, 3L, 1L, "view"), (9L, 3L, 2L, "view"),
      (10L, 3L, 3L, "view"), (11L, 3L, 4L, "view"), (12L, 3L, 5L, "view"),
      (13L, 3L, 6L, "view"))
      .map { case (id, u, sec, t) =>
        (id, u, new Timestamp(sec * 1000L), t) }
      .toDF("event_id", "user_id", "ts", "event_type")
    val out = graft.operators.Relational.topJourneys(ev)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("view" -> 1L, "view>click" -> 1L,
      "view>click>purchase" -> 1L,
      "view>view>view>view>view" -> 1L))
  }

  test("debounce: lag semantics judge each event vs its predecessor") {
    val us = 1000000L
    val ev = Seq(
      // user 1 "click" at 0s/3s/6s/11s: each judged vs its RAW
      // predecessor (kept or not) — 3-0=3s drop, 6-3=3s drop,
      // 11-6=5s keep (boundary is >=)
      (1L, 1L, "click", 0L, 1.0), (2L, 1L, "click", 3 * us, 2.0),
      (3L, 1L, "click", 6 * us, 3.0),
      (4L, 1L, "click", 11 * us, 4.0),
      // different type interleaves freely
      (5L, 1L, "view", 1L, 5.0),
      // different user independent
      (6L, 2L, "click", 1L, 6.0))
      .map { case (id, u, t, micros, v) =>
        (id, u, t, new Timestamp(micros / 1000L), v) }
      .toDF("event_id", "user_id", "event_type", "ts", "value")
    val kept = TimeSeries.debounce(ev).collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L, 5L, 6L))
  }

  test("MAD anomaly: robust to a single wild value, histogram sketch vs exact twin") {
    // values 1..9 plus one wild 1000 for type "a". Exact: median 5.5,
    // sorted adevs 0.5,0.5,1.5,1.5,2.5,2.5,3.5,3.5,4.5,994.5 → MAD 2.5,
    // outliers adev > 7.5 → only 994.5. Sketch (width 1.0, upper-edge
    // rule): bins 1..9 each cnt 1, rank ceil(5)=5 → bin 5 → med 6.0;
    // adevs |v−6| bin to 0:1,1:2,2:2,3:2,4:1,5:1,994:1 → cum hits 5 at
    // bin 2 → mad 3.0; outliers adev > 9 → only 994. Both agree the
    // wild value is the single outlier; estimates within width of exact.
    val rows = ((1 to 9).map(_.toDouble) :+ 1000.0).zipWithIndex.map {
      case (v, i) => ((i + 1).toLong, 1L, new Timestamp(i * 1000L), "a", v)
    }.toDF("event_id", "user_id", "ts", "event_type", "value")
    val out = TimeSeries.madAnomaly(rows).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Double]("med") == 6.0)
    assert(r.getAs[Double]("mad") == 3.0)
    assert(r.getAs[Long]("n_outliers") == 1L)
    assert(r.getAs[Long]("n") == 10L)

    val ex = TimeSeries.madAnomalyExact(rows).collect().head
    assert(ex.getAs[Double]("med") == 5.5)
    assert(ex.getAs[Double]("mad") == 2.5)
    assert(ex.getAs[Long]("n_outliers") == 1L)
    // sketch estimates are within one bin width of the exact statistic
    assert(math.abs(r.getAs[Double]("med") - ex.getAs[Double]("med")) <= 1.0)
    assert(math.abs(r.getAs[Double]("mad") - ex.getAs[Double]("mad")) <= 1.0)
  }

  test("cohort retention: first-day cohorts, integer day offsets") {
    val day = 86400L
    val ev = Seq(
      (1L, 0L), (1L, day + 5L), // cohort day 0, active days 0 and 1
      (2L, day), (2L, day + 10L)) // cohort day 1, active day 1 only
      .map { case (u, sec) => (u, "view", new Timestamp(sec * 1000L)) }
      .toDF("user_id", "event_type", "ts")
    val out = graft.operators.Relational.cohortRetention(ev)
      .orderBy("cohort_d", "offset_d").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((0L, 0L, 1L), (0L, 1L, 1L), (1L, 0L, 1L)))
  }

  test("gap fill: hourly LOCF grid, staleness, equal-ts winner, short span drops") {
    def t(min: Long) = new Timestamp(min * 60000L)
    val ev = Seq(
      // user 1: readings at 00:10 and 02:40 -> grid 01:00, 02:00, both
      // carrying the 00:10 reading; equal-ts duplicate at 00:10 must
      // resolve to the max-event_id writer (7.0, not 1.0)
      (1L, 1L, t(10), 1.0), (3L, 1L, t(10), 7.0), (2L, 1L, t(160), 2.0),
      // user 2: 15-minute span -> no full-hour grid point -> absent
      (4L, 2L, t(5), 9.0), (5L, 2L, t(20), 9.5))
      .toDF("event_id", "user_id", "ts", "value")
    val out = TimeSeries.gapFillHourly(ev).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, "1970-01-01 01:00:00", 7.0, 50L * 60L * 1000000L),
      (1L, "1970-01-01 02:00:00", 7.0, 110L * 60L * 1000000L)))
  }

  test("touch attribution: first vs last touch disagree; no-touch purchase is direct") {
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // user 1: view(00:05) → click(00:30) → purchase(00:40, $10):
    //   first=view, last=click (both inside the 1 h lookback)
    // user 2: purchase(00:10, $5) with no touches → direct
    // user 3: click at 02:00 AFTER its purchase(01:00, $7) → direct
    val ev = Seq(
      (1L, 1L, "view", ts(5), 0.0),
      (2L, 1L, "click", ts(30), 0.0),
      (3L, 1L, "purchase", ts(40), 10.0),
      (4L, 2L, "purchase", ts(10), 5.0),
      (5L, 3L, "purchase", Timestamp.valueOf("2024-01-01 01:00:00"), 7.0),
      (6L, 3L, "click", Timestamp.valueOf("2024-01-01 02:00:00"), 0.0)
    ).toDF("event_id", "user_id", "event_type", "ts", "value")
    val out = graft.operators.Relational.touchAttribution(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(out(("first", "view")) == ((1L, 10.0)))
    assert(out(("last", "click")) == ((1L, 10.0)))
    assert(out(("first", "direct")) == ((2L, 12.0)))
    assert(out(("last", "direct")) == ((2L, 12.0)))
    assert(!out.contains(("first", "click")) && !out.contains(("last", "view")))
  }

  test("ACF: alternating series anticorrelates at lag 1, correlates at lag 2; constants are NULL") {
    import java.sql.Timestamp
    def ts(s: Int) = Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    // user 1: +1,-1,+1,-1,… (mean 0): r1 < 0, r2 > 0
    // user 2: constant series → zero variance → NULL acf
    val rows = (0 until 8).map(i =>
      (i.toLong, 1L, ts(i), if (i % 2 == 0) 1.0 else -1.0)) ++
      (0 until 5).map(i => (100L + i, 2L, ts(i), 42.0))
    val ev = rows.toDF("event_id", "user_id", "ts", "value")
    val out = TimeSeries.acf(ev).collect()
      .map(r => r.getLong(0) -> r).toMap
    val u1 = out(1L)
    // exact: Σ d·d1 = -7, Σ d² = 8 → r1 = -0.875; r2 = 6/8 = 0.75
    assert(math.abs(u1.getDouble(2) - (-0.875)) < 1e-12, s"r1: $u1")
    assert(math.abs(u1.getDouble(3) - 0.75) < 1e-12, s"r2: $u1")
    val u2 = out(2L)
    assert(u2.isNullAt(2) && u2.isNullAt(3) && u2.isNullAt(4),
      s"constant series must yield NULL acf: $u2")
  }

  test("Holt forecast: hand-folded recurrence; linear series extrapolates exactly") {
    // series 1, 2, 3 with α=β=1/2:
    //   x=1: l=1, b=0
    //   x=2: l=.5·2+.5·1=1.5,  b=.5·.5+0=.25
    //   x=3: l=.5·3+.5·1.75=2.375, b=.5·.875+.125=.5625
    val out = TimeSeries.holtForecast(ev(
      (1L, 1L, 10L, 1.0), (2L, 1L, 20L, 2.0), (3L, 1L, 30L, 3.0)))
      .collect().map(r => r.getLong(0) -> r).toMap
    val u = out(1L)
    assert(u.getLong(1) == 3L)
    assert(u.getDouble(2) == 2.375 && u.getDouble(3) == 0.5625,
      s"level/trend wrong: $u")
    assert(u.getDouble(4) == 2.375 + 0.5625 &&
      u.getDouble(6) == 2.375 + 3 * 0.5625, s"forecasts wrong: $u")
    // the fold is order-defined, not input-order-defined: shuffled
    // input rows give the identical result
    val shuffled = TimeSeries.holtForecast(ev(
      (3L, 1L, 30L, 3.0), (1L, 1L, 10L, 1.0), (2L, 1L, 20L, 2.0))
      .repartition(3))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(shuffled(1L) == 2.375)
  }

  test("q151 CUSUM: hand-folded alarms, reset semantics, per-user independence") {
    import graft.operators.Relational
    // user 2: [0,0,0,0,1000], mean 200, k=25, h=200:
    //   sn walks 175 -> 350 (alarm, reset) -> 175 -> 350 (alarm, reset);
    //   the 1000 sends sp to 775 (alarm). 3 alarms, peak 775.
    // user 1: constant series, both sides pinned at 0.
    val out = TimeSeries.cusum(ev(
      (1L, 1L, 10L, 100.0), (2L, 1L, 20L, 100.0), (3L, 1L, 30L, 100.0),
      (4L, 2L, 10L, 0.0), (5L, 2L, 20L, 0.0), (6L, 2L, 30L, 0.0),
      (7L, 2L, 40L, 0.0), (8L, 2L, 50L, 1000.0)))
      .collect().map(r => r.getLong(0) -> r).toMap
    val flat = out(1L)
    assert(flat.getLong(3) == 0L && flat.getDouble(4) == 0.0, s"flat: $flat")
    val spiky = out(2L)
    assert(spiky.getDouble(2) == 200.0, s"mean: $spiky")
    assert(spiky.getLong(3) == 3L, s"alarms: $spiky")
    assert(spiky.getDouble(4) == 775.0, s"peak stat: $spiky")
    // fold is order-defined, not input-order-defined
    val shuffled = TimeSeries.cusum(ev(
      (8L, 2L, 50L, 1000.0), (5L, 2L, 20L, 0.0), (4L, 2L, 10L, 0.0),
      (7L, 2L, 40L, 0.0), (6L, 2L, 30L, 0.0)).repartition(3))
      .collect().head
    assert(shuffled.getLong(3) == 3L && shuffled.getDouble(4) == 775.0)
  }

  test("q154 peak concurrency: half-open tie rule, midnight carry, day partitioning") {
    import graft.operators.Relational
    // durations are event_id-derived: dur = (event_id % 7200) + 60 s.
    //   A id=240 ts=100  -> [100,400)
    //   B id=540 ts=200  -> [200,800)    overlap with A => 2
    //   C id=60  ts=400  -> [400,520)    starts AT A's end: half-open
    //                                    keeps concurrency at 2, not 3
    //   D id=7100 ts=82800 -> [82800,89960) crosses midnight => carry 1
    val out = Relational.peakConcurrency(ev(
      (240L, 1L, 100L, 0.0), (540L, 1L, 200L, 0.0),
      (60L, 1L, 400L, 0.0), (7100L, 1L, 82800L, 0.0)))
      .collect().map(r => r.getString(0) -> r).toMap
    val d1 = out("1970-01-01")
    assert(d1.getLong(1) == 0L && d1.getLong(2) == 4L &&
      d1.getLong(3) == 3L && d1.getLong(4) == 2L,
      s"day1 carry/starts/ends/peak: $d1")
    val d2 = out("1970-01-02")
    assert(d2.getLong(1) == 1L && d2.getLong(2) == 0L &&
      d2.getLong(3) == 1L && d2.getLong(4) == 1L,
      s"day2 is carry-only: $d2")
  }

  test("q160 Holt-Winters hourly: hand-folded seasonal recurrence, slot isolation") {
    // user 1: three hour-0 observations 1,2,3 (one per day):
    //   x=1: l=1, b=0, s0=0
    //   x=2: l=.5(2-0)+.5(1+0)=1.5, b=.25, s0=.5(2-1.5)+0=.25
    //   x=3: l=.5(3-.25)+.5(1.75)=2.25, b=.5, s0=.5(3-2.25)+.5(.25)=.5
    // hour-6/12/18 slots stay untouched at 0.
    val out = TimeSeries.holtWintersHourly(ev(
      (1L, 1L, 0L, 1.0), (2L, 1L, 86400L, 2.0), (3L, 1L, 172800L, 3.0),
      (4L, 2L, 6L * 3600L, 7.0)))
      .collect().map(r => r.getLong(0) -> r).toMap
    val u1 = out(1L)
    assert(u1.getLong(1) == 3L)
    assert(u1.getDouble(2) == 2.25 && u1.getDouble(3) == 0.5, s"$u1")
    assert(u1.getDouble(4) == 0.5, s"s0: $u1")
    assert(u1.getDouble(5) == 0.0 && u1.getDouble(6) == 0.0 &&
      u1.getDouble(7) == 0.0, s"untouched slots: $u1")
    // user 2: single observation initializes level only; its hour-6
    // slot stays 0 (init rule), trend 0
    val u2 = out(2L)
    assert(u2.getDouble(2) == 7.0 && u2.getDouble(3) == 0.0 &&
      u2.getDouble(5) == 0.0, s"$u2")
  }

  test("q162 incremental sessions: merge, no-merge, carry-only, and B-only all stitch to the global answer") {
    import graft.operators.Relational
    // split at t=7200s. gap 30 min (1800 s).
    //   user 1: 7000, 7300  -> one session SPANNING the split (merge)
    //   user 2: 6000, 9000  -> two sessions (gap 3000 > 1800): carry
    //                          emitted unmerged + B session separate
    //   user 3: 100         -> closed in A long before the split
    //   user 4: 9999        -> B-only
    val out = Relational.incrementalSessions(ev(
      (1L, 1L, 7000L, 1.0), (2L, 1L, 7300L, 2.0),
      (3L, 2L, 6000L, 1.0), (4L, 2L, 9000L, 1.0),
      (5L, 3L, 100L, 1.0), (6L, 4L, 9999L, 1.0)),
      "1970-01-01 02:00:00")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000L,
        r.getTimestamp(2).getTime / 1000L, r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    assert(out.toSeq == Seq(
      (1L, 7000L, 7300L, 2L),   // merged across the boundary
      (2L, 6000L, 6000L, 1L),   // carried but NOT merged (gap too big)
      (2L, 9000L, 9000L, 1L),
      (3L, 100L, 100L, 1L),     // closed-A
      (4L, 9999L, 9999L, 1L)),  // B-only
      s"stitched sessions: ${out.toSeq}")
  }

  test("q161 k-anonymity: group sizes, sensitive diversity, and both risk flags") {
    import graft.operators.Relational
    import java.sql.Timestamp
    // group (nation 1, AUTO, bucket 0): 2 members, sensitive values
    // {1-URGENT, 2-HIGH} -> at_risk_k (n<5) but diverse (l=2).
    // group (2, BUILD, 0): 1 member, no orders -> sensitive NONE,
    // n=1 and l=1 -> both flags.
    val cust = Seq(
      (10L, "a", 1, 100.0, "AUTO"), (11L, "b", 1, 200.0, "AUTO"),
      (12L, "c", 2, 300.0, "BUILD"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
    val ords = Seq(
      (100L, 10L, "O", 1.0, 1000L, "1-URGENT"),  // later date: ignored
      (101L, 10L, "O", 1.0, 500L, "3-MEDIUM"),   // first order: wins
      (102L, 11L, "O", 1.0, 2000L, "2-HIGH"))
      .map { case (ok, ck, st, tp, sec, pr) =>
        (ok, ck, st, tp, new Timestamp(sec * 1000L), pr) }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val out = Relational.kAnonymityAudit(cust, ords).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r).toMap
    val g1 = out((1L, "AUTO"))
    assert(g1.getLong(3) == 2L && g1.getLong(4) == 2L)
    assert(g1.getBoolean(5) && !g1.getBoolean(6), s"$g1")
    val g2 = out((2L, "BUILD"))
    assert(g2.getLong(3) == 1L && g2.getLong(4) == 1L)
    assert(g2.getBoolean(5) && g2.getBoolean(6), s"$g2")
  }

  test("q166 Kaplan-Meier: censored users stay in the at-risk denominator") {
    import graft.operators.Relational
    // A and C: view day0 -> purchase day2. B: view day0, never
    // purchases; a day-5 click pins the observation end, so B is
    // censored at dur 5 and must count as at-risk at t=2.
    val d = 86400L
    val evs = Seq(
      (1L, 1L, 0L, "view"), (2L, 1L, 2 * d, "purchase"),
      (3L, 2L, 0L, "view"),
      (4L, 3L, 0L, "view"), (5L, 3L, 2 * d, "purchase"),
      (6L, 2L, 5 * d, "click"))
      .map { case (id, u, sec, tp) =>
        (id, u, new Timestamp(sec * 1000L), tp, 1.0) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val out = Relational.kaplanMeier(evs).collect()
    assert(out.length == 1, s"one event day: ${out.toSeq}")
    val r = out.head
    assert(r.getLong(0) == 2L && r.getLong(1) == 3L && r.getLong(2) == 2L,
      s"t/n_risk/d: $r")
    assert(r.getDouble(3) == 0.3333, s"S(2) = 1 - 2/3 r4-floored: $r")
  }

  test("q167 CUPED: perfect covariate (y=x) collapses both arms to the global mean, theta=1") {
    import graft.operators.Relational
    // each user's pre value equals their post value -> cov(x,y)=var(x)
    // -> theta=1 and y* = xbar for EVERY user: adjusted arm means must
    // be identical even though raw means differ by arm.
    val pre = 100L    // epoch seconds: well before the split
    val post = 1800000000L
    val evs = (1L to 20L).flatMap { u =>
      val v = u.toDouble * 10.0
      Seq((u * 2, u, pre, v), (u * 2 + 1, u, post, v))
    }
    val df = evs.map { case (id, u, sec, v) =>
      (id, u, new Timestamp(sec * 1000L), v) }
      .toDF("event_id", "user_id", "ts", "value")
    val out = Relational.abCuped(df).collect()
    assert(out.length == 2, s"${out.toSeq}")
    val thetas = out.map(_.getDouble(4)).distinct
    assert(thetas.toSeq == Seq(1.0), s"theta: ${thetas.toSeq}")
    val adj = out.map(_.getDouble(3)).distinct
    assert(adj.length == 1, s"adjusted means must coincide: ${out.toSeq}")
    val raw = out.map(_.getDouble(2)).distinct
    assert(raw.length == 2, "raw means differ by arm on this fixture")
  }

  test("q178 burstiness: exact Fano bookkeeping, zero-minutes in the span") {
    // user 1: minutes 0,0,0,10 -> span 11, active 2, E=4, sum_c2=10
    //   fano = (11*10 - 16) / (11*4) = 94/44 = 2.1364 (not bursty @4)
    // user 2: 20 events in one minute, then 1 event 99 min later ->
    //   span 100, E=21, sum_c2=401: fano = (40100-441)/2100 = 18.88 -> bursty
    val rows = Seq((1L, 1L, 5L, 0.0), (2L, 1L, 30L, 0.0),
      (3L, 1L, 59L, 0.0), (4L, 1L, 605L, 0.0)) ++
      (0 until 20).map(i => (100L + i, 2L, 100L + i % 50, 0.0)) :+
      (200L, 2L, 100L + 99 * 60L, 0.0)
    val out = TimeSeries.burstinessAudit(ev(rows: _*))
      .orderBy("user_id").collect()
    val u1 = out(0)
    assert(u1.getLong(1) == 11L && u1.getLong(2) == 2L &&
      u1.getLong(3) == 4L, s"u1: $u1")
    assert(u1.getDouble(5) == math.floor(94.0 / 44.0 * 10000 + 0.5) / 10000)
    assert(!u1.getBoolean(6))
    val u2 = out(1)
    assert(u2.getLong(1) == 100L && u2.getLong(3) == 21L, s"u2: $u2")
    assert(u2.getBoolean(6), "20-in-a-minute burst must flag")
  }

  test("q181 active-user curves: trailing windows, dense day axis") {
    // user 1 active on days 0 and 9; user 2 on day 2 only
    def at(day: Long, id: Long, u: Long) = (id, u, day * 86400L, 0.0)
    val out = TimeSeries.activeUserCurves(ev(
        at(0, 1L, 1L), at(0, 2L, 1L), at(2, 3L, 2L), at(9, 4L, 1L)))
      .orderBy("epoch_day")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(out.length == 10, "dense axis: every day 0..9 present")
    assert(out(0) == ((0L, 1L, 1L, 1L)))
    assert(out(2) == ((2L, 1L, 2L, 2L)), "day 2: dau=u2, wau/mau both")
    assert(out(7) == ((7L, 0L, 1L, 2L)), "day 7: u1's day0 left the wau")
    assert(out(8) == ((8L, 0L, 1L, 2L)), "day 8: u2's day2 still in [2,8]")
    assert(out(9) == ((9L, 1L, 1L, 2L)))
  }
}
