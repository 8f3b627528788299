package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{AsOfJoin, Dedup, EntityResolution, GraphOps, Multimodal, PriceAlerts, Relational, Similarity, Sketches, TextAnalysis, TimeSeries}
import graft.QueryHelpers._

/** Time-series family: sessionization, as-of joins, EWMA/Holt-Winters, anomaly scores, funnels.
  *
  * Registry split out of SparkEntry (round 9): the maps below are
  * merged back into `SparkEntry.queries` / `SparkEntry.oracleSql`,
  * so names, semantics, and the DuckDB-oracle pairing are unchanged.
  */
object TimeSeriesQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Per-user time-series features: truncated EWMA (α=1/2 — exact
    // binary weights, bit-identical fold both engines) + rolling
    // mean/min/max over the last 32 events.
    "q68_ewma_features" -> ((s, dir) => {
      TimeSeries.ewmaFeatures(Tables.events(s, dir))
        .select(col("event_id"), col("user_id"), tsStr(col("ts")).as("ts"),
          r2(col("value")).as("value"), r4(col("ewma")).as("ewma"),
          r4(col("roll_mean")).as("roll_mean"),
          r2(col("roll_min")).as("roll_min"),
          r2(col("roll_max")).as("roll_max"))
        .orderBy("event_id")
    }),


    // Exact 2-sigma outlier counts per (user, event_type) with the
    // threshold algebraized into DECIMAL(38,0) — no float boundary on
    // the comparison, so membership is bit-identical to the oracle's
    // HUGEINT evaluation.
    "q72_outlier_counts" -> ((s, dir) => {
      TimeSeries.outlierCounts(Tables.events(s, dir))
        .orderBy("user_id", "event_type")
    }),


    // Per-user OLS value trend — slope over centered time (exact
    // integer centering keeps the moment sums inside exact-double
    // range; raw-double output, q65 precedent).
    "q86_user_trend" -> ((s, dir) => {
      TimeSeries.olsTrend(Tables.events(s, dir))
        .orderBy("user_id")
    }),


    // Telemetry debounce: drop events < 5 s after the same
    // (user, type) predecessor. Microsecond-long comparisons, one
    // keyed window pass.
    "q101_event_debounce" -> ((s, dir) => {
      TimeSeries.debounce(Tables.events(s, dir))
    }),


    // Robust anomaly stats: per-type median, MAD, 3-MAD outlier
    // count — the robust sibling of q72's 2-sigma counts.
    "q102_mad_anomaly" -> ((s, dir) => {
      TimeSeries.madAnomaly(Tables.events(s, dir))
    }),


    // Hourly LOCF gap-fill on the custom as-of physical operator —
    // grid probes per-user reading history backward in time.
    "q109_gap_fill" -> ((s, dir) => {
      TimeSeries.gapFillHourly(Tables.events(s, dir))
    }),


    // Per-user autocorrelation at lags 1..3 — the seasonality /
    // persistence diagnostic of the time-series family (q86's float
    // contract: r4-rounded double sums under the oracle).
    "q131_acf" -> ((s, dir) => {
      TimeSeries.acf(Tables.events(s, dir))
        .select(col("user_id"), col("n_events"),
          r4(col("r1")).as("r1"), r4(col("r2")).as("r2"),
          r4(col("r3")).as("r3"))
        .orderBy("user_id")
    }),


    // Holt linear-trend smoothing + 3-step forecast per user: the
    // exact per-key recurrence as ONE codegen aggregate fold over the
    // sorted series (α=β=1/2 → exact binary coefficients, oracle
    // replays the fold with list_reduce verbatim).
    "q140_holt_forecast" -> ((s, dir) => {
      val f = TimeSeries.holtForecast(Tables.events(s, dir))
      f.select(col("user_id"), col("n"),
        r4(col("level")).as("level"), r4(col("trend")).as("trend"),
        r4(col("f1")).as("f1"), r4(col("f2")).as("f2"),
        r4(col("f3")).as("f3"))
        .orderBy("user_id")
    }),


    // Holt-Winters seasonal smoothing: 24-slot hour-of-day additive
    // profile per key, seasonal index = the observation's own hour
    // (gap-immune), 27-lane fold (q140's technique, seasonally).
    "q160_holt_winters_hourly" -> ((s, dir) => {
      TimeSeries.holtWintersHourly(Tables.events(s, dir))
        .orderBy("user_id")
    }),


    // Two-sided CUSUM change-point detection per key: Page's
    // s± accumulators vs the key's own mean, alarm + reset at the
    // threshold — the exact sequential recurrence as one codegen
    // aggregate fold over the sorted series (q140's technique).
    "q151_cusum_changepoints" -> ((s, dir) => {
      TimeSeries.cusum(Tables.events(s, dir)).orderBy("user_id")
    }),


    // Fano-factor burstiness audit per user (bot signal: scripted
    // bursts >> 1, metronomes << 1, humans ≈ 1 on this Poisson-ish
    // synthetic feed).
    "q178_burstiness_audit" -> ((s, dir) => {
      TimeSeries.burstinessAudit(Tables.events(s, dir))
        .orderBy("user_id")
    }),


    // DAU/WAU/MAU stickiness curves over the full observed day range
    // (min-offset fan-out — no range join, no multi-distinct Expand).
    "q181_active_user_curves" -> ((s, dir) => {
      TimeSeries.activeUserCurves(Tables.events(s, dir))
        .orderBy("epoch_day")
    }),
  )

  /** DuckDB oracle SQL for every query above (same keys). */
  val oracleSql: Map[String, String] = Map(

    // q68: same truncated-EWMA left fold (2^-j weights are exact
    // binary doubles, so the fold matches bit-for-bit); rolling stats
    // over the identical ROWS frame.
    "q68_ewma_features" ->
      s"""WITH f AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS tsu, value,
        |         list(value) OVER win AS vals,
        |         min(value) OVER win AS rmin,
        |         max(value) OVER win AS rmax
        |  FROM events
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts
        |                 ROWS BETWEEN ${TimeSeries.EwmaWindow - 1} PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id,
        |       strftime(tsu, '%Y-%m-%d %H:%M:%S') AS ts,
        |       floor(value*100+0.5)/100 AS value,
        |       floor(list_reduce(list_prepend(0.0::DOUBLE,
        |           list_transform(range(1, len(vals)+1),
        |             j -> vals[j] * pow(0.5, len(vals) - j + 1))),
        |           (a, b) -> a + b) * 10000 + 0.5) / 10000 AS ewma,
        |       floor(list_reduce(list_prepend(0.0::DOUBLE, vals),
        |           (a, b) -> a + b) / len(vals) * 10000 + 0.5) / 10000
        |         AS roll_mean,
        |       floor(rmin*100+0.5)/100 AS roll_min,
        |       floor(rmax*100+0.5)/100 AS roll_max
        |FROM f ORDER BY event_id""".stripMargin,


    // q72: same integer-space inequality in HUGEINT.
    "q72_outlier_counts" ->
      """WITH ev AS (
        |  SELECT user_id, event_type,
        |         CAST(floor(value * 100) AS HUGEINT) AS c
        |  FROM events WHERE value IS NOT NULL),
        |stats AS (
        |  SELECT user_id, event_type, COUNT(*)::HUGEINT AS n,
        |         SUM(c) AS s, SUM(c * c) AS ssq
        |  FROM ev GROUP BY 1, 2)
        |SELECT e.user_id, e.event_type, max(n)::BIGINT AS n_events,
        |       SUM(CASE WHEN (c*n - s)*(c*n - s) > 4*(n*ssq - s*s)
        |                THEN 1 ELSE 0 END)::BIGINT AS n_outliers
        |FROM ev e JOIN stats USING (user_id, event_type)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,


    // q86: same centered closed-form moments (NOT regr_slope — its
    // internal algorithm differs; the explicit sums match to ulps).
    "q86_user_trend" ->
      """WITH ev AS (
        |  SELECT user_id, epoch(ts) AS tsec, value
        |  FROM events WHERE value IS NOT NULL),
        |mins AS (SELECT user_id, min(tsec) AS t0 FROM ev GROUP BY 1),
        |c AS (
        |  SELECT ev.user_id, (tsec - t0)::DOUBLE AS x, value AS y
        |  FROM ev JOIN mins ON ev.user_id = mins.user_id)
        |SELECT user_id, COUNT(*)::BIGINT AS n_events,
        |       (COUNT(*)::DOUBLE * SUM(x*y) - SUM(x) * SUM(y)) /
        |         (COUNT(*)::DOUBLE * SUM(x*x) - SUM(x) * SUM(x)) AS slope
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,


    // q101: epoch_us mirrors unix_micros (both truncate the nanos
    // column to integer microseconds) — the whole filter is
    // integer-exact.
    "q101_event_debounce" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tus, value
        |  FROM events),
        |l AS (
        |  SELECT *, lag(tus) OVER (PARTITION BY user_id, event_type
        |                           ORDER BY tus, event_id) AS prev
        |  FROM e)
        |SELECT event_id, user_id, event_type, tus, value
        |FROM l WHERE prev IS NULL OR tus - prev >= 5000000
        |ORDER BY event_id""".stripMargin,


    // q102: the histogram-sketch median fold (q63 inverse-CDF rule)
    // mirrored term-for-term — floor(v/w) binning, cumulative counts,
    // upper bin edge (bin+1)*w at rank ceil(0.5*n). Same IEEE double
    // arithmetic both engines, width = 1.0.
    "q102_mad_anomaly" ->
      """WITH ev AS (
        |  SELECT event_type, value FROM events WHERE value IS NOT NULL),
        |mbin AS (
        |  SELECT event_type, CAST(floor(value / 1.0) AS BIGINT) AS bin,
        |         count(*) AS cnt
        |  FROM ev GROUP BY 1, 2),
        |mcum AS (
        |  SELECT event_type, bin, cnt,
        |         sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         sum(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM mbin),
        |med AS (
        |  SELECT event_type,
        |         min(CASE WHEN cum >= ceil(0.5 * n)
        |                  THEN CAST(bin + 1 AS DOUBLE) END) AS med
        |  FROM mcum GROUP BY 1),
        |dev AS (
        |  SELECT ev.event_type, med, abs(value - med) AS adev
        |  FROM ev JOIN med USING (event_type)),
        |abin AS (
        |  SELECT event_type, CAST(floor(adev / 1.0) AS BIGINT) AS bin,
        |         count(*) AS cnt
        |  FROM dev GROUP BY 1, 2),
        |acum AS (
        |  SELECT event_type, bin, cnt,
        |         sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         sum(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM abin),
        |mad AS (
        |  SELECT event_type,
        |         min(CASE WHEN cum >= ceil(0.5 * n)
        |                  THEN CAST(bin + 1 AS DOUBLE) END) AS mad
        |  FROM acum GROUP BY 1)
        |SELECT d.event_type, count(*)::BIGINT AS n, max(d.med) AS med,
        |       max(m.mad) AS mad,
        |       SUM(CASE WHEN d.adev > 3.0 * m.mad THEN 1 ELSE 0 END)::BIGINT
        |         AS n_outliers
        |FROM dev d JOIN mad m USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,


    // q109: DuckDB's native ASOF JOIN oracles the custom physical
    // operator; grid starts at trunc(min)+1h so inner semantics drop
    // nothing, readings pre-collapsed per (user, ts) on both sides.
    "q109_gap_fill" ->
      """WITH d AS (
        |  SELECT user_id, ts, arg_max(value, event_id) AS value
        |  FROM events GROUP BY 1, 2),
        |span AS (
        |  SELECT user_id,
        |         date_trunc('hour', min(ts)) + INTERVAL 1 HOUR AS h0,
        |         date_trunc('hour', max(ts)) AS h1
        |  FROM d GROUP BY 1),
        |grid AS (
        |  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS g
        |  FROM span WHERE h1 >= h0)
        |SELECT g.user_id, strftime(g.g, '%Y-%m-%d %H:%M:%S') AS hour_ts,
        |       floor((d.value) * 100 + 0.5) / 100 AS value_ffill,
        |       (epoch_us(g.g) - epoch_us(d.ts))::BIGINT AS age_us
        |FROM grid g ASOF JOIN d ON d.user_id = g.user_id AND d.ts <= g.g
        |ORDER BY 1, 2, 3, 4""".stripMargin,


    // q131: ACF mirrors q86's float contract — per-user double sums,
    // lag over (ts, event_id), zero-variance series → NULL.
    "q131_acf" ->
      """WITH ev AS (
        |  SELECT user_id, ts, event_id, value
        |  FROM events WHERE value IS NOT NULL),
        |m AS (SELECT user_id, avg(value) AS mu, count(*) AS n
        |      FROM ev GROUP BY 1),
        |l AS (
        |  SELECT e.user_id, m.n, (value - mu) AS d,
        |         lag(value, 1) OVER w - mu AS d1,
        |         lag(value, 2) OVER w - mu AS d2,
        |         lag(value, 3) OVER w - mu AS d3
        |  FROM ev e JOIN m ON e.user_id = m.user_id
        |  WINDOW w AS (PARTITION BY e.user_id ORDER BY ts, event_id))
        |SELECT user_id, max(n)::BIGINT AS n_events,
        |       floor(sum(d * d1) / nullif(sum(d * d), 0) * 10000 + 0.5) / 10000 AS r1,
        |       floor(sum(d * d2) / nullif(sum(d * d), 0) * 10000 + 0.5) / 10000 AS r2,
        |       floor(sum(d * d3) / nullif(sum(d * d), 0) * 10000 + 0.5) / 10000 AS r3
        |FROM l GROUP BY 1 ORDER BY 1""".stripMargin,


    // q140: the identical [level, trend, count] list fold, replayed by
    // list_reduce over the (ts, event_id)-ordered series; α=β=1/2 are
    // exact binary doubles so the recurrence matches bit-for-bit.
    "q140_holt_forecast" ->
      """WITH s AS MATERIALIZED (
        |  SELECT user_id, list(value::DOUBLE ORDER BY ts, event_id) AS xs
        |  FROM events WHERE value IS NOT NULL GROUP BY user_id),
        |f AS (
        |  SELECT user_id, len(xs)::BIGINT AS n,
        |    list_reduce(
        |      list_prepend([0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE],
        |        list_transform(xs, x -> [x, 0.0::DOUBLE, 0.0::DOUBLE])),
        |      (acc, xx) -> CASE WHEN acc[3] = 0.0
        |        THEN [xx[1], 0.0::DOUBLE, 1.0::DOUBLE]
        |        ELSE [0.5 * xx[1] + 0.5 * (acc[1] + acc[2]),
        |              0.5 * ((0.5 * xx[1] + 0.5 * (acc[1] + acc[2])) - acc[1])
        |                + 0.5 * acc[2],
        |              acc[3] + 1.0] END) AS st
        |  FROM s)
        |SELECT user_id, n,
        |       floor(st[1] * 10000 + 0.5) / 10000 AS level,
        |       floor(st[2] * 10000 + 0.5) / 10000 AS trend,
        |       floor((st[1] + 1.0 * st[2]) * 10000 + 0.5) / 10000 AS f1,
        |       floor((st[1] + 2.0 * st[2]) * 10000 + 0.5) / 10000 AS f2,
        |       floor((st[1] + 3.0 * st[2]) * 10000 + 0.5) / 10000 AS f3
        |FROM f ORDER BY user_id""".stripMargin,

    "q160_holt_winters_hourly" -> OracleHashSql.q160HoltWinters,


    // q151: the identical [s_pos, s_neg, n_alarms, max_stat] list
    // fold replayed by list_reduce over the (ts, event_id)-ordered
    // series; μ comes from the same sorted fold, k=25 / h=200 are
    // exact binary doubles, so the recurrence matches bit-for-bit.
    "q151_cusum_changepoints" ->
      """WITH s AS MATERIALIZED (
        |  SELECT user_id, list(value::DOUBLE ORDER BY ts, event_id) AS xs
        |  FROM events WHERE value IS NOT NULL GROUP BY user_id),
        |m AS (
        |  SELECT user_id, xs, len(xs)::BIGINT AS n,
        |         list_reduce(list_prepend(0.0::DOUBLE, xs), (a, x) -> a + x)
        |           / len(xs)::DOUBLE AS mu
        |  FROM s),
        |f AS (
        |  SELECT user_id, n, mu,
        |    list_reduce(
        |      list_prepend([0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE],
        |        list_transform(xs, x ->
        |          [x, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE])),
        |      (acc, xx) -> [
        |        CASE WHEN greatest(0.0, acc[1] + (xx[1] - mu - 25.0)) > 200.0
        |             THEN 0.0
        |             ELSE greatest(0.0, acc[1] + (xx[1] - mu - 25.0)) END,
        |        CASE WHEN greatest(0.0, acc[2] + (mu - xx[1] - 25.0)) > 200.0
        |             THEN 0.0
        |             ELSE greatest(0.0, acc[2] + (mu - xx[1] - 25.0)) END,
        |        acc[3] + CASE WHEN
        |            greatest(0.0, acc[1] + (xx[1] - mu - 25.0)) > 200.0
        |            OR greatest(0.0, acc[2] + (mu - xx[1] - 25.0)) > 200.0
        |          THEN 1.0 ELSE 0.0 END,
        |        greatest(acc[4],
        |                 greatest(0.0, acc[1] + (xx[1] - mu - 25.0)),
        |                 greatest(0.0, acc[2] + (mu - xx[1] - 25.0)))]) AS st
        |  FROM m)
        |SELECT user_id, n,
        |       floor(mu * 10000 + 0.5) / 10000 AS mean,
        |       st[3]::BIGINT AS n_alarms,
        |       floor(st[4] * 10000 + 0.5) / 10000 AS max_stat
        |FROM f ORDER BY user_id""".stripMargin,


    // q178: same two-level integer aggregation; the Fano numerator /
    // denominator and the bursty flag stay in BIGINTs.
    "q178_burstiness_audit" ->
      """WITH pm AS (
        |  SELECT user_id, epoch_us(ts) // 60000000 AS minute,
        |         count(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2),
        |agg AS (
        |  SELECT user_id,
        |         (max(minute) - min(minute) + 1)::BIGINT AS span_min,
        |         count(*)::BIGINT AS n_active,
        |         sum(c)::BIGINT AS n_events,
        |         sum(c * c)::BIGINT AS sum_c2
        |  FROM pm GROUP BY 1)
        |SELECT user_id, span_min, n_active, n_events,
        |       (n_active * 1000 // span_min)::BIGINT AS duty_permille,
        |       floor(((span_min * sum_c2 - n_events * n_events)::DOUBLE
        |              / (span_min * n_events)::DOUBLE) * 10000 + 0.5)
        |         / 10000 AS fano,
        |       (span_min * sum_c2 - n_events * n_events
        |          > 4 * span_min * n_events) AS bursty
        |FROM agg ORDER BY user_id""".stripMargin,


    // q181: the oracle counts each trailing window directly over the
    // (user, day) pairs — no min-offset trick — so the hash match
    // certifies the fan-out rewrite.
    "q181_active_user_curves" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d
        |  FROM events),
        |bounds AS (SELECT min(d) AS dmin, max(d) AS dmax FROM ud),
        |days AS (SELECT unnest(range(dmin, dmax + 1)) AS d FROM bounds)
        |SELECT days.d AS epoch_day,
        |       count(DISTINCT CASE WHEN ud.d = days.d
        |                           THEN user_id END)::BIGINT AS dau,
        |       count(DISTINCT CASE WHEN ud.d >= days.d - 6
        |                           THEN user_id END)::BIGINT AS wau,
        |       count(DISTINCT user_id)::BIGINT AS mau
        |FROM days LEFT JOIN ud ON ud.d BETWEEN days.d - 27 AND days.d
        |GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
