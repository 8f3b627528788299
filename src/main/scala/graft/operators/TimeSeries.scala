package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-key time-series feature engineering over the event stream —
  * the batch form of the features a streaming scorer keeps in state
  * (trend, burstiness, recency-weighted level).
  *
  * The EWMA here is the TRUNCATED form: a window of the last `w`
  * events folded with α=1/2 weights. Exact recursive EWMA needs an
  * unbounded sequential scan per key (not window-expressible and not
  * shuffle-parallel within a key); truncating at w=32 bounds the
  * state, changes the value by at most 2⁻³² of the range — far below
  * any feature-quality signal — and makes the computation ONE window
  * pass. α=1/2 is deliberate: every weight 2⁻ʲ is an exact binary
  * double, so the fold is bit-identical on any IEEE engine (the
  * DuckDB oracle reproduces it exactly; an arbitrary α differs by
  * libm pow ulps across platforms).
  *
  * Scale: one shuffle on the key, one in-partition sorted pass; the
  * rolling frame is O(w) per row. A mega-key serializes its partition
  * — shard long histories by (key, epoch) if a key exceeds a task.
  */
object TimeSeries {

  private[graft] val CusumSlack = 25.0       // CUSUM drift allowance and alarm level,
  private[graft] val CusumThreshold = 200.0  // shared with StreamingCusum
  private[graft] val EwmaWindow = 32         // ewmaFeatures' events per rolling frame (q68)
  private val Smoothing = 0.5                // Holt level/trend/season smoothing α = β = γ
  private val MadBinWidth = 1.0              // madAnomaly's histogram bin width
  private val AcfLags = 3                    // acf's lags 1..AcfLags

  /** Exact 2-sigma outlier counts per (user, event_type), computed
    * entirely in integer/decimal space so the threshold comparison is
    * bit-identical on any engine: values go to cents via
    * floor(value·100) (floor is IEEE-exact, unlike round-vs-truncate
    * cast divergence), and |c − mean| > 2σ is algebraized to
    * (c·n − s)² > 4·(n·ssq − s²) — population variance, both sides
    * DECIMAL(38,0), no division, no sqrt, no epsilon. Magnitudes stay
    * below 10²³ for cents ≤ 10⁷ and n ≤ 10⁶ per group, far inside
    * decimal-38 (the DuckDB oracle runs the same inequality in
    * HUGEINT).
    *
    * Scale shape: a two-aggregate plan — per-group moments (one narrow
    * shuffle, map-side combined) joined back into the event scan for
    * the recount. Chosen over the window formulation because an
    * unbounded-frame window forces a per-partition sort at 100 TB.
    * NO broadcast hint on the moments side: it is (user, type)-grain —
    * entity-sized, not schema-bounded — so a forced broadcast would be
    * the hazard class the repo retired elsewhere; locally the planner
    * still broadcasts it from statistics, at scale it key-joins and
    * the recount groupBy reuses the same exchange.
    */
  def outlierCounts(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    val ev = events.filter(col("value").isNotNull)
      .select(col("user_id"), col("event_type"),
        floor(col("value") * lit(100.0)).cast(d38).as("c"))
    val stats = ev.groupBy("user_id", "event_type")
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("ssq"))
    val lhs = (col("c") * col("n") - col("s")) *
      (col("c") * col("n") - col("s"))
    val rhs = (col("n") * col("ssq") - col("s") * col("s")) * lit(4).cast(d38)
    ev.join(stats, Seq("user_id", "event_type"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(col("n")).cast("long").as("n_events"),
        sum(when(lhs > rhs, 1L).otherwise(0L)).as("n_outliers"))
  }

  /** Per-user OLS trend of value over time: slope of the least-squares
    * line through (ts, value), the per-entity drift feature. The time
    * axis is CENTERED per user (x = ts - min(ts), exact integer
    * seconds) before the moment sums — uncentered epoch-seconds put
    * Σx² near 4·10¹⁷ where double ULP is ~64 and engines disagree in
    * the cancellation nΣx² - (Σx)²; centered, the sums stay far
    * inside exact-double range. Same two-aggregate shape as
    * [[outlierCounts]]: per-user min joined back into the scan (no
    * broadcast hint — the mins frame is user-grain), no window sort.
    */
  def olsTrend(events: DataFrame): DataFrame = {
    val ev = events.filter(col("value").isNotNull)
      .select(col("user_id"), unix_timestamp(col("ts")).as("tsec"),
        col("value"))
    val mins = ev.groupBy("user_id").agg(min(col("tsec")).as("t0"))
    val centered = ev.join(mins, "user_id")
      .select(col("user_id"),
        (col("tsec") - col("t0")).cast("double").as("x"),
        col("value").as("y"))
    centered.groupBy("user_id")
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("user_id"), col("n").cast("long").as("n_events"),
        // zero time-variance (single event, or all events in one epoch
        // second): 0/0 would leak NaN — NULL like acf's identical guard
        when(col("n") * col("sxx") - col("sx") * col("sx") =!= 0.0,
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"))
  }

  /** Min-gap debounce: drop an event when the PREVIOUS event of the
    * same (user_id, event_type) is closer than 5 s —
    * the telemetry de-noise step (double-clicks, retry storms,
    * duplicate beacons). Lag-based semantics: each event is judged
    * against its immediate predecessor in event time, kept or not (a
    * chained "suppress until quiet period" instead is inherently
    * sequential — that's the STREAMING dedup family's job,
    * `StreamingDedup`; this is its order-free batch analogue).
    *
    * Timestamps compare as microsecond longs on both engines
    * (`unix_micros` here, `epoch_us` in the oracle) — integer-exact.
    *
    * Scale: one shuffle on (user_id, event_type), one in-partition
    * sort, O(1) lag state — the cheapest possible keyed-sequence scan.
    */
  def debounce(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("tus"), col("event_id"))
    events
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"), col("value"))
      .withColumn("prev", lag(col("tus"), 1).over(w))
      .filter(col("prev").isNull || col("tus") - col("prev") >= 5000000L)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("tus"), col("value"))
      .orderBy("event_id")
  }

  /** Histogram-median helper for [[madAnomalySketch]]: per
    * `event_type`, the inclusive upper bin edge at rank ceil(0.5·n)
    * over a fixed-width histogram of `valueCol` — the q63 inverse-CDF
    * rule. The shuffle carries only (types × occupied bins) counter
    * rows (map-side partial aggregation), and the per-group window
    * sorts ≤|bins| counters, never the data.
    */
  private def histMedian(df: DataFrame, valueCol: org.apache.spark.sql.Column,
                         width: Double, out: String): DataFrame = {
    val bins = df
      .groupBy(col("event_type"),
        floor(valueCol / lit(width)).cast("long").as("bin"))
      .agg(count(lit(1)).as("cnt"))
    val wAll = Window.partitionBy(col("event_type"))
    val wCum = wAll.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bins
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .groupBy(col("event_type"))
      .agg(min(when(col("cum") >= ceil(lit(0.5) * col("n")),
        (col("bin") + lit(1)) * lit(width))).as(out))
  }

  /** Robust per-type anomaly statistics at scale: histogram-sketch
    * median, MAD (median absolute deviation), and the count of
    * |value − median| > 3·MAD outliers — the robust sibling of
    * [[outlierCounts]]'s 2-sigma counts (a single wild value shifts
    * mean AND sigma; it cannot move either median).
    *
    * Both medians are the q63 mergeable fixed-width-histogram
    * estimate (upper bin edge at rank ceil(0.5·n)) rather than an
    * exact percentile: Spark's exact `percentile` buffers a
    * value→count map per group, and with a handful of event types
    * each group would hold the whole column at 100 TB — a
    * memory-unbounded aggregate. The histogram sketch is bounded by
    * (types × range/width) counters, partial-aggregated map-side and
    * merged by vector add; every estimate is within `MadBinWidth` of the
    * exact order statistic (the package-private exact twin,
    * `madAnomalyExact`, proves it at test SF). All arithmetic — floor(v/w)
    * binning, (bin+1)·w edges, the 3·MAD comparison — is the same
    * IEEE double math in DuckDB, so the oracle matches bit-for-bit.
    *
    * Scale: two histogram passes (narrow counter shuffles) + two
    * |types|-row broadcasts back onto the scan. Nothing sorts or
    * buffers the data itself.
    */
  def madAnomaly(events: DataFrame): DataFrame = {
    val ev = events.filter(col("value").isNotNull)
      .select(col("event_type"), col("value"))
    val med = histMedian(ev, col("value"), MadBinWidth, "med")
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = histMedian(dev, col("adev"), MadBinWidth, "mad")
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), max(col("med")).as("med"),
        max(col("mad")).as("mad"),
        sum(when(col("adev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .orderBy("event_type")
  }

  /** Exact-percentile twin of [[madAnomaly]] — interpolated
    * percentile(0.5) medians (same lower + (upper−lower)·0.5 IEEE
    * arithmetic as DuckDB's quantile_cont). Spec-only: the per-group
    * exact percentile buffers every value and does NOT scale (see
    * [[madAnomaly]]); kept as the fixture-scale accuracy baseline
    * the sketch is asserted against (estimates within `width`).
    */
  private[graft] def madAnomalyExact(events: DataFrame): DataFrame = {
    val ev = events.filter(col("value").isNotNull)
      .select(col("event_type"), col("value"))
    val med = ev.groupBy("event_type")
      .agg(percentile(col("value"), lit(0.5)).as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(max(col("med")).as("med"),
        percentile(col("adev"), lit(0.5)).as("mad"))
    dev.drop("med").join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), max(col("med")).as("med"),
        max(col("mad")).as("mad"),
        sum(when(col("adev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .orderBy("event_type")
  }

  /** EWMA (α=1/2, last [[EwmaWindow]] events) + rolling mean/min/max per
    * `user_id` ordered by `ts`. Emits one row per event.
    */
  def ewmaFeatures(events: DataFrame): DataFrame = {
    // event_id tie-break makes the frame order TOTAL: with ts alone,
    // equal timestamps would leave the collect_list order (and so the
    // EWMA fold) partition-order nondeterministic — every sibling
    // keyed-sequence operator here tie-breaks the same way
    val win = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-(EwmaWindow - 1), Window.currentRow)
    val vals = collect_list(col("value")).over(win)
    val n = size(col("vals"))
    // ewma = Σ_{j=1..n} vals[j] · 2^{-(n-j+1)}: newest gets weight 1/2,
    // fold runs oldest→newest — a deterministic left fold both engines
    // reproduce bit-for-bit
    val ewma = aggregate(
      transform(sequence(lit(1), n),
        j => element_at(col("vals"), j) * pow(lit(0.5), n - j + lit(1))),
      lit(0.0), (acc, x) => acc + x)
    // the mean folds the SAME list left-to-right (not the window avg:
    // engines sum sliding frames in different orders, and 2-decimal
    // inputs put many means exactly on a rounding boundary)
    val rollMean = aggregate(col("vals"), lit(0.0), (acc, x) => acc + x) / n
    events
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("vals", vals)
      .withColumn("roll_mean", rollMean)
      .withColumn("roll_min", min(col("value")).over(win))
      .withColumn("roll_max", max(col("value")).over(win))
      .withColumn("ewma", ewma)
      .drop("vals")
  }

  /** Gap-filled hourly resample with forward-fill (LOCF): one row per
    * (user, hour) on each user's own observed span, carrying the
    * latest reading at or before the grid instant plus its staleness
    * in exact integer microseconds — the "regularize irregular
    * telemetry onto a model-ready grid" primitive.
    *
    * Built by COMPOSING the custom as-of physical operator
    * ([[graft.plans.AsOfJoinPhysical]], q26's co-partitioned
    * sort-merge): grid rows probe the per-user reading history
    * backward in time. The grid starts at trunc(min ts)+1h, so every
    * grid instant has ≥1 earlier reading and the inner as-of (DuckDB
    * ASOF JOIN semantics) drops nothing; readings are pre-collapsed to
    * one row per (user, ts) with a max_by(event_id) winner so equal-µs
    * duplicates cannot make the carried value partition-order
    * dependent. Users spanning <1h produce no grid rows (guarded both
    * engines — Spark's sequence(a,b) DESCENDS when a>b).
    *
    * Scale: the grid is |users|·span-hours rows — tiny next to the
    * event stream; both sides shuffle once on user_id into the
    * sort-merge, no per-pair explosion, state O(1) per merge. A
    * mega-user serializes its partition — shard the grid by (user,
    * week) against week-bucketed readings if a key outgrows a task.
    */
  def gapFillHourly(events: DataFrame): DataFrame = {
    val readings = events.groupBy(col("user_id"), col("ts"))
      .agg(max_by(col("value"), col("event_id")).as("value"))
    val span = readings.groupBy("user_id").agg(
      (date_trunc("hour", min(col("ts"))) + expr("INTERVAL 1 HOUR")).as("h0"),
      date_trunc("hour", max(col("ts"))).as("h1"))
    val grid = span.filter(col("h1") >= col("h0"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR")))
          .as("g"))
    graft.plans.AsOfJoinPhysical.asof(grid, readings,
        leftKey = "user_id", rightKey = "user_id",
        leftTs = "g", rightTs = "ts")
      .select(col("user_id"),
        date_format(col("g"), "yyyy-MM-dd HH:mm:ss").as("hour_ts"),
        (floor(col("asof_value") * 100 + 0.5) / 100).as("value_ffill"),
        (unix_micros(col("g")) - unix_micros(col("asof_ts"))).as("age_us"))
      .orderBy("user_id", "hour_ts", "value_ffill", "age_us")
  }

  /** Per-key autocorrelation function at lags 1..AcfLags (q131): the
    * seasonality/persistence diagnostic of the series family —
    * r_k = Σ(y_t−ȳ)(y_{t−k}−ȳ) / Σ(y_t−ȳ)² over each key's series
    * in (ts, event_id) order. High r_1 → momentum (EWMA features are
    * informative, q68); r_k spiking at a period → seasonality (the
    * gap-fill grid of q109 is safe to model hourly); all-near-zero →
    * white noise (q72/q102's outlier bands are the only structure).
    * Constant series (zero variance) yield NULL, not a division blowup.
    *
    * Scale: the mean join, the lag window, and the final aggregate all
    * key on user_id — one partitioning reused across the chain; lag
    * state is O(AcfLags) per row. Same float contract as q86's OLS
    * (r4-rounded sums under the oracle).
    */
  def acf(events: DataFrame): DataFrame = {
    val ev = events.filter(col("value").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val means = ev.groupBy("user_id")
      .agg(avg(col("value")).as("mu"), count(lit(1)).as("n"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val lagCols = (1 to AcfLags).map(k =>
      (lag(col("value"), k).over(w) - col("mu")).as(s"d$k"))
    val lagged = ev.join(means, "user_id")
      .select(Seq(col("user_id"), col("n"),
        (col("value") - col("mu")).as("d")) ++ lagCols: _*)
    val den = sum(col("d") * col("d"))
    val rCols = (1 to AcfLags).map(k =>
      when(den =!= 0.0, sum(col("d") * col(s"d$k")) / den).as(s"r$k"))
    lagged.groupBy("user_id")
      .agg(max(col("n")).cast("long").as("n_events"), rCols: _*)
  }

  /** Two-sided CUSUM change-point detection per key (q151) — Page
    * (1954): against the key's own mean μ, track
    *   s⁺ₜ = max(0, s⁺ₜ₋₁ + (xₜ − μ − k)),
    *   s⁻ₜ = max(0, s⁻ₜ₋₁ + (μ − xₜ − k));
    * an ALARM fires when either side exceeds h, and the breaching
    * accumulator resets to 0 (classic restart-after-detection). Like
    * [[holtForecast]] the recurrence is inherently sequential per key,
    * so it runs as ONE codegen `aggregate` HOF over the
    * (ts, event_id)-sorted collected series; μ comes from the SAME
    * sorted fold (sum-then-divide in a fixed order), so every double
    * op — add, subtract, max, one division — is bit-identical on any
    * IEEE engine and the DuckDB oracle replays the fold verbatim.
    * k/h are exact binary constants sized to the feed (~σ/2 and ~4σ);
    * production would derive them from a trailing calibration window.
    *
    * Scale: one shuffle on the key; per-key history is collected once
    * (the fixture keyspace grows with SF, per-key counts don't — the
    * q140 contract). Output is one row per key: n, mean, the alarm
    * count, and the peak statistic.
    */
  def cusum(events: DataFrame): DataFrame = {
    val series = events.filter(col("value").isNotNull)
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(
        struct(col("ts"), col("event_id"), col("value")))).as("xs"))
      .withColumn("n", size(col("xs")).cast("long"))
      .withColumn("mu",
        aggregate(col("xs"), lit(0.0), (acc, x) => acc + x.getField("value"))
          / col("n").cast("double"))
    // fold state rides as [s_pos, s_neg, n_alarms, max_stat] — the
    // same 4-slot DOUBLE list the oracle folds
    val st = aggregate(col("xs"),
      array(lit(0.0), lit(0.0), lit(0.0), lit(0.0)),
      (acc, x) => {
        val v = x.getField("value")
        val sp = greatest(lit(0.0),
          element_at(acc, 1) + (v - col("mu") - lit(CusumSlack)))
        val sn = greatest(lit(0.0),
          element_at(acc, 2) + (col("mu") - v - lit(CusumSlack)))
        val alarm = sp > lit(CusumThreshold) || sn > lit(CusumThreshold)
        array(
          when(sp > lit(CusumThreshold), lit(0.0)).otherwise(sp),
          when(sn > lit(CusumThreshold), lit(0.0)).otherwise(sn),
          element_at(acc, 3) + when(alarm, lit(1.0)).otherwise(lit(0.0)),
          greatest(element_at(acc, 4), sp, sn))
      })
    series.select(col("user_id"), col("n"), col("mu"), st.as("st"))
      .select(col("user_id"), col("n"),
        (floor(col("mu") * 10000 + lit(0.5)) / 10000).as("mean"),
        element_at(col("st"), 3).cast("long").as("n_alarms"),
        (floor(element_at(col("st"), 4) * 10000 + lit(0.5)) / 10000)
          .as("max_stat"))
  }

  /** Holt-Winters-style seasonal smoothing per key (q160) — the
    * seasonal completion of the q68→q140 smoothing family. The
    * seasonal index is the observation's OWN hour-of-day (a 24-slot
    * additive profile), not position-mod-m: event streams have gaps,
    * and positional indexing would misalign the season after every
    * gap, while calendar-slot indexing (the ops-monitoring form of
    * HW) updates exactly the slot the observation belongs to:
    *   l' = α(x − s_h) + (1−α)(l + b)
    *   b' = β(l' − l) + (1−β)b
    *   s_h' = γ(x − l') + (1−γ)s_h        (h = hour(ts))
    * α=β=γ=1/2 exact binary; the 27-slot state [l, b, s0..s23, n]
    * folds once over the (ts, event_id)-sorted series (the
    * q140/q151 sequential-recurrence contract), with the slot update
    * expressed as a dynamic-index rebuild — `transform(sequence)`
    * here, `list_transform(range)` in the oracle — so both engines
    * run the same 27-lane CASE.
    *
    * Output: final level/trend + the learned seasonal profile at
    * 0/6/12/18h, the one-step forecast for each of those hours being
    * l + b + s_h.
    */
  def holtWintersHourly(events: DataFrame): DataFrame = {
    val series = events.filter(col("value").isNotNull)
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("ts"), col("event_id"),
        col("value"), hour(col("ts")).cast("double").as("hr")))).as("xs"))
    val init = array(Seq.fill(27)(lit(0.0)): _*)
    val st = aggregate(col("xs"), init, (acc, x) => {
      val v = x.getField("value")
      val jIdx = x.getField("hr").cast("int") + lit(3)
      val l = element_at(acc, 1)
      val b = element_at(acc, 2)
      val n = element_at(acc, 27)
      val sj = element_at(acc, jIdx)
      val l1 = lit(Smoothing) * (v - sj) + lit(1 - Smoothing) * (l + b)
      val b1 = lit(Smoothing) * (l1 - l) + lit(1 - Smoothing) * b
      val sj1 = lit(Smoothing) * (v - l1) + lit(1 - Smoothing) * sj
      val stepped = transform(sequence(lit(1), lit(27)), k =>
        when(k === 1, l1).when(k === 2, b1)
          .when(k === 27, n + lit(1.0))
          .when(k === jIdx, sj1)
          .otherwise(element_at(acc, k)))
      val first = transform(sequence(lit(1), lit(27)), k =>
        when(k === 1, v).when(k === 27, lit(1.0)).otherwise(lit(0.0)))
      when(n === 0.0, first).otherwise(stepped)
    })
    def r4c(c: org.apache.spark.sql.Column) = floor(c * 10000 + lit(0.5)) / 10000
    series.select(col("user_id"), size(col("xs")).cast("long").as("n"),
      st.as("st"))
      .select(Seq(col("user_id"), col("n"),
        r4c(element_at(col("st"), 1)).as("level"),
        r4c(element_at(col("st"), 2)).as("trend")) ++
        Seq(0, 6, 12, 18).map(h =>
          r4c(element_at(col("st"), h + 3)).as(s"s$h")): _*)
  }

  /** Holt linear-trend exponential smoothing + h-step forecast per key
    * (q140) — the level/trend recurrence (Holt 1957; Hyndman &
    * Athanasopoulos FPP §8.2):
    *   l₁ = x₁, b₁ = 0;
    *   lₜ = α·xₜ + (1−α)(lₜ₋₁ + bₜ₋₁),  bₜ = β(lₜ − lₜ₋₁) + (1−β)bₜ₋₁
    * and forecast x̂(n+h) = lₙ + h·bₙ. A per-key RECURSIVE fold is
    * inherently sequential, so it runs as ONE codegen `aggregate` HOF
    * over the (ts, event_id)-sorted collected series — the q68-EWMA
    * tradeoff taken the other way: exact recursion, bounded per-key
    * history (the fixture keyspace grows with SF, per-key counts
    * don't). α=β=1/2 default: every coefficient is an exact binary
    * double, so the fold is bit-identical on any IEEE engine and the
    * DuckDB oracle replays it with `list_reduce` verbatim (the q68
    * determinism argument).
    *
    * Output per key: n, final level/trend, forecasts for h=1..3.
    */
  def holtForecast(events: DataFrame): DataFrame = {
    val series = events.filter(col("value").isNotNull)
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(
        struct(col("ts"), col("event_id"), col("value")))).as("xs"))
    // fold state rides as [level, trend, count] — same 3-slot DOUBLE
    // list the oracle folds
    val st = aggregate(col("xs"),
      array(lit(0.0), lit(0.0), lit(0.0)),
      (acc, x) => {
        val v = x.getField("value")
        val l = element_at(acc, 1)
        val b = element_at(acc, 2)
        val n = element_at(acc, 3)
        val l1 = lit(Smoothing) * v + lit(1 - Smoothing) * (l + b)
        val b1 = lit(Smoothing) * (l1 - l) + lit(1 - Smoothing) * b
        when(n === 0.0, array(v, lit(0.0), lit(1.0)))
          .otherwise(array(l1, b1, n + lit(1.0)))
      })
    val fCols = (1 to 3).map(h =>
      (element_at(col("st"), 1) + lit(h.toDouble) * element_at(col("st"), 2))
        .as(s"f$h"))
    series.select(col("user_id"), size(col("xs")).cast("long").as("n"), st.as("st"))
      .select(Seq(col("user_id"), col("n"),
        element_at(col("st"), 1).as("level"),
        element_at(col("st"), 2).as("trend")) ++ fCols: _*)
  }

  /** Burstiness / bot-signal audit (q178): per user, the Fano factor
    * (index of dispersion, var/mean) of per-minute event counts over
    * the user's full active span — a Poisson visitor sits at ≈1,
    * schedulers and scripted bursts far above, metronome bots near 0.
    * Zero-minutes inside the span COUNT (they're where burstiness
    * lives), but never materialize: with T span minutes, E events,
    * Σc² over active minutes, Fano = (T·Σc² − E²)/(T·E) — every term
    * an exact integer from the non-zero rows alone, so the flag
    * `bursty` (Fano > 4) is an exact integer comparison with
    * no float in the decision path.
    *
    * Scale: two map-side-combined aggregations, (user, minute) then
    * user — no windows, no joins, no materialized zero rows.
    */
  def burstinessAudit(events: DataFrame): DataFrame = {
    val minuteCol = floor(unix_micros(col("ts")) / 60000000L).cast("long")
    val pm = events
      .select(col("user_id"), minuteCol.as("minute"))
      .groupBy(col("user_id"), col("minute"))
      .agg(count(lit(1)).as("c"))
    pm.groupBy(col("user_id"))
      .agg(
        (max(col("minute")) - min(col("minute")) + 1L).as("span_min"),
        count(lit(1)).as("n_active"),
        sum(col("c")).as("n_events"),
        sum(col("c") * col("c")).as("sum_c2"))
      .select(col("user_id"), col("span_min"), col("n_active"),
        col("n_events"),
        (col("n_active") * 1000L / col("span_min")).cast("long")
          .as("duty_permille"),
        (floor((col("span_min") * col("sum_c2") -
          col("n_events") * col("n_events")).cast("double") /
          (col("span_min") * col("n_events")).cast("double") * 10000
          + lit(0.5)) / 10000).as("fano"),
        (col("span_min") * col("sum_c2") -
          col("n_events") * col("n_events") >
          lit(4L) * col("span_min") * col("n_events"))
          .as("bursty"))
  }

  /** DAU / WAU / MAU active-user curves (q181): for every calendar day
    * in the observed range, distinct users active that day, in the
    * trailing 7 days, and in the trailing 28 days.
    *
    * The naive form — one countDistinct per trailing window — needs a
    * range join or a triple-distinct Expand. Instead: distinct
    * (user, day) pairs fan out to their ≤28 future target days, a
    * second keyed aggregate keeps MIN(offset) per (user, target) —
    * membership in all three windows is then a plain comparison on
    * that one row, so the final per-day counts are ordinary SUMs: no
    * distinct aggregation ever touches fanned-out data. Cost:
    * |user-days|·28 intermediate rows, three map-side-combined
    * shuffles, zero joins against event-scale frames.
    */
  def activeUserCurves(events: DataFrame): DataFrame = {
    val dayCol = floor(unix_micros(col("ts")) / 86400000000L).cast("long")
    // both the bounds and the fan-out read this frame — materialize the
    // O(user-days) result once instead of scanning events twice
    val ud = events.select(col("user_id"), dayCol.as("d")).distinct()
      .localCheckpoint(true)
    val bounds = ud.agg(max(col("d")).as("dmax"), min(col("d")).as("dmin"))
    val fanned = ud
      .select(col("user_id"), col("d"),
        explode(sequence(lit(0), lit(27))).as("o"))
      .select(col("user_id"), (col("d") + col("o")).as("epoch_day"),
        col("o"))
      .groupBy(col("user_id"), col("epoch_day"))
      .agg(min(col("o")).as("min_o"))
    val counts = fanned
      .groupBy(col("epoch_day"))
      .agg(
        sum(when(col("min_o") === 0, 1L).otherwise(0L)).as("dau"),
        sum(when(col("min_o") <= 6, 1L).otherwise(0L)).as("wau"),
        count(lit(1)).as("mau"))
    // clip the 27-day tail past the last observed day; emit zero rows
    // for fully-dead >28-day gaps so the day axis is always dense
    val days = bounds.select(
      explode(sequence(col("dmin"), col("dmax"))).as("epoch_day"))
    days.join(counts, Seq("epoch_day"), "left")
      .na.fill(0L, Seq("dau", "wau", "mau"))
  }
}
