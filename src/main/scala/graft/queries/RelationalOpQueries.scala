package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{AsOfJoin, Dedup, EntityResolution, GraphOps, Multimodal, PriceAlerts, Relational, Similarity, Sketches, TextAnalysis, TimeSeries}
import graft.QueryHelpers._

/** Relational-operator family: TPC-H-shaped joins/aggregates routed through operators.Relational, entity resolution, SCD2/CDC.
  *
  * Registry split out of SparkEntry (round 9): the maps below are
  * merged back into `SparkEntry.queries` / `SparkEntry.oracleSql`,
  * so names, semantics, and the DuckDB-oracle pairing are unchanged.
  */
object RelationalOpQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── Relational breadth (SURVEY.md §2.11 "not present" list) ────────
    // Multi-aggregate (sum/avg/count) grouped summary.
    "q05_pricing_summary" -> ((s, dir) => {
      Relational.pricingSummary(Tables.lineitem(s, dir))
        .select(col("l_returnflag"), col("l_linestatus"),
          r2(col("sum_qty")).as("sum_qty"),
          r2(col("sum_base_price")).as("sum_base_price"),
          r2(col("sum_disc_price")).as("sum_disc_price"),
          r4(col("avg_qty")).as("avg_qty"),
          r4(col("avg_price")).as("avg_price"),
          col("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),


    // Top-k: ORDER BY + LIMIT → TakeOrderedAndProject (bounded heaps).
    "q06_topk_orders" -> ((s, dir) => {
      Relational.topOrders(Tables.orders(s, dir), 100)
        .select(col("o_orderkey"), col("o_custkey"),
          r2(col("o_totalprice")).as("o_totalprice"))
    }),


    // Set operations: UNION (distinct) + EXCEPT.
    "q07_set_ops" -> ((s, dir) => {
      Relational.customerSetOps(Tables.customer(s, dir), Tables.orders(s, dir))
        .orderBy("custkey")
    }),


    // Exact distinct aggregation.
    "q08_distinct_users" -> ((s, dir) => {
      Relational.distinctUsersPerType(Tables.events(s, dir))
        .orderBy("event_type")
    }),


    // Semi + anti joins (EXISTS / NOT EXISTS) + UNION ALL.
    "q09_semi_anti" -> ((s, dir) => {
      Relational.customersByOrderExistence(Tables.customer(s, dir), Tables.orders(s, dir))
        .orderBy("c_custkey", "tag")
    }),


    // ROLLUP grouping sets.
    "q10_rollup" -> ((s, dir) => {
      Relational.quantityRollup(Tables.lineitem(s, dir))
        .select(col("returnflag"), col("linestatus"),
          r2(col("sum_qty")).as("sum_qty"), col("n"))
        .orderBy("returnflag", "linestatus")
    }),


    // Analytic window functions: row_number, lag, running sum.
    "q11_order_analytics" -> ((s, dir) => {
      Relational.orderHistoryAnalytics(Tables.orders(s, dir))
        .select(col("o_custkey"), col("o_orderkey"), col("rn").cast("long").as("rn"),
          r2(col("prev_price")).as("prev_price"),
          r2(col("running_total")).as("running_total"))
        .orderBy("o_custkey", "o_orderkey")
    }),


    // Star-schema multi-join with broadcast dims.
    "q12_revenue_per_region" -> ((s, dir) => {
      Relational.revenuePerRegion(Tables.region(s, dir), Tables.nation(s, dir),
          Tables.customer(s, dir), Tables.orders(s, dir))
        .select(col("r_name"), r2(col("revenue")).as("revenue"), col("n_orders"))
        .orderBy("r_name")
    }),


    // Generator/explode (UDTF-shaped): token frequency top-100.
    "q13_token_frequency" -> ((s, dir) => {
      Relational.tokenFrequency(Tables.documents(s, dir), 100)
    }),


    // ── Temporal / windowing extensions ────────────────────────────────
    // AS-OF join: each click matched to the user's latest prior
    // purchase. Runs on the custom physical operator (plans/
    // AsOfJoinExec: co-partitioned sort-merge, ~30% faster than the
    // union+window composition, which AsOfJoinSpec proves equivalent).
    // Oracle: DuckDB's native ASOF JOIN.
    "q26_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      // rightTie = event_id (r13): raw purchase events can in general
      // carry duplicate (user, ts) rows; the tie pins the kept row to
      // the max event_id instead of partition order (tie-free on this
      // fixture, so the oracle's tie-agnostic DuckDB ASOF still matches)
      graft.plans.AsOfJoinPhysical.asof(clicks, purchases,
          leftKey = "user_id", rightKey = "user_id",
          leftTs = "ts", rightTs = "ts", rightTie = Some("event_id"))
        .select(col("event_id"), col("user_id"),
          tsStr(col("ts")).as("click_ts"),
          tsStr(col("asof_ts")).as("purchase_ts"),
          r2(col("asof_value")).as("purchase_value"))
        .orderBy("event_id", "user_id", "click_ts", "purchase_ts", "purchase_value")
    }),


    // Pivot: per-user event-value matrix (fixed pivot column list).
    "q32_pivot" -> ((s, dir) => {
      val p = Relational.pivotEventValues(Tables.events(s, dir))
      p.select(col("user_id") +:
        Seq("click", "error", "purchase", "signup", "view")
          .map(c => r2(col(c)).as(c)): _*)
        .orderBy("user_id")
    }),


    // Exact interpolated percentiles per group.
    "q33_percentiles" -> ((s, dir) => {
      Relational.valuePercentiles(Tables.events(s, dir))
        .select(col("event_type"), r4(col("p50")).as("p50"),
          r4(col("p90")).as("p90"))
        .orderBy("event_type")
    }),


    // MERGE INTO / CDC apply: a deterministic changeset (updates =
    // uppercased text on doc_id%7=0, deletes on doc_id%11=3, inserts =
    // reversed text under new high-bit ids on doc_id%13=0) applied to
    // the documents snapshot via anti-join + union — the broadcastable
    // merge shape (base never shuffles). Insert ids are doc_id + 2^61:
    // the r13 review found the old +1M offset collided with REAL
    // doc_ids once the corpus passed 1M docs, silently turning an
    // INSERT into an update of an unrelated base row; the high bit is
    // disjoint for any corpus with ids < 2^61 (the same bound the
    // q146 multiplicative scheme assumes — base ids here must stay
    // raw because updates/deletes key on them).
    "q66_merge_apply" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val changes = docs.select(col("doc_id"),
          when(pmod(col("doc_id"), lit(11)) === 3, "D")
            .when(pmod(col("doc_id"), lit(7)) === 0, "U").as("op"),
          upper(col("text")).as("text"), col("lang"), col("source"),
          col("n_chars"))
        .filter(col("op").isNotNull)
        .unionByName(docs.filter(pmod(col("doc_id"), lit(13)) === 0)
          .select((col("doc_id") + lit(1L << 61)).as("doc_id"),
            lit("U").as("op"), reverse(col("text")).as("text"),
            col("lang"), col("source"), col("n_chars")))
      Relational.mergeApply(docs, changes, "doc_id")
        .select(col("doc_id"), col("source"), md5(col("text")).as("text_md5"),
          length(col("text")).cast("long").as("n_chars_new"))
        .orderBy("doc_id")
    }),


    // Ordered conversion funnel view -> click -> purchase with
    // first-touch semantics (each stage strictly after the previous
    // stage's first qualifying event).
    "q78_funnel" -> ((s, dir) => {
      Relational.funnel(Tables.events(s, dir),
          Seq("view", "click", "purchase"))
        .orderBy("stage_idx")
    }),


    // Cohort retention: users cohorted by first-active epoch day,
    // (cohort_day, offset) -> distinct active users.
    "q79_cohort_retention" -> ((s, dir) => {
      Relational.cohortRetention(Tables.events(s, dir))
        .orderBy("cohort_d", "offset_d")
    }),


    // Week-over-week trending parts: shipment counts per (part, week),
    // lag-1 ratio with +1 smoothing, top 50 risers — the corpus-drift
    // shape on the relational side (two bounded aggregates + one
    // window over the part's own week series).
    // Top user journeys: sessionized (30-min gap) first-5 event-type
    // paths, counted — order-deterministic via in-group struct sort.
    "q87_top_journeys" -> ((s, dir) => {
      Relational.topJourneys(Tables.events(s, dir))
    }),


    // Deequ-style data-quality profile: one scan over lineitem, all
    // four numeric measures columns at once (Expand-planned multi-
    // distinct), decimal-exact sums.
    "q104_table_profile" -> ((s, dir) => {
      Relational.profile(Tables.lineitem(s, dir),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    }),


    // Incremental view maintenance: base partials (event_id % 10 != 0)
    // merged with the delta batch (% 10 == 0) — bit-equal to a full
    // recompute because the sums are exact decimals (associative).
    "q105_incremental_agg" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      Relational.finalizePartials(Relational.mergePartials(
        Relational.aggPartials(ev.filter(col("event_id") % 10 =!= 0)),
        Relational.aggPartials(ev.filter(col("event_id") % 10 === 0))))
    }),


    // Wide→long unpivot of the lineitem measure family — a single
    // Expand over the scan, the inverse of q32's pivot.
    "q116_unpivot_measures" -> ((s, dir) => {
      Relational.unpivotMeasures(Tables.lineitem(s, dir))
    }),


    // Record linkage: multi-blocked candidate generation (nation +
    // name-digit suffix), pair dedup, trigram-jaccard + balance-
    // proximity scoring, one-best assignment per customer.
    "q121_entity_match" -> ((s, dir) => {
      EntityResolution.linkCustomersToSuppliers(
        Tables.customer(s, dir), Tables.supplier(s, dir))
        .orderBy("c_custkey")
    }),


    // SCD Type-2 dimension build: per-customer order-status change
    // points collapsed into validity intervals (valid_from/valid_to,
    // version, is_current) — two windows over one partitioning.
    "q122_scd2_history" -> ((s, dir) => {
      Relational.scd2History(Tables.orders(s, dir))
        .select(col("o_custkey"), col("status"),
          tsStr(col("valid_from_ts")).as("valid_from"),
          tsStr(col("valid_to_ts")).as("valid_to"),
          col("version").cast("long").as("version"), col("is_current"))
        .orderBy("o_custkey", "version")
    }),


    // First/last-touch revenue attribution with a 1-hour lookback —
    // the marketing-analytics rollup over the event stream (struct
    // min/max per purchase, no window sort; 'direct' = anti-join).
    "q133_touch_attribution" -> ((s, dir) => {
      Relational.touchAttribution(Tables.events(s, dir))
        .select(col("model"), col("touch_type"), col("n_purchases"),
          r4(col("revenue")).as("revenue"))
        .orderBy("model", "touch_type")
    }),


    // Funnel stage-transition latency: strictly-after first-touch
    // chaining with per-transition converting-user counts and p50/p90
    // conversion delays in integer microseconds (quantile_disc rule —
    // integer-exact under the oracle).
    "q142_funnel_latency" -> ((s, dir) => {
      Relational.funnelLatency(Tables.events(s, dir),
        Seq("view", "click", "purchase"))
        .orderBy("stage_idx")
    }),


    // GDPR erasure-cascade audit: hash-selected deletion cohort,
    // per-table purge counts down the FK chain + tombstone
    // fingerprints the deletion job must reproduce.
    "q169_erasure_audit" -> ((s, dir) => {
      Relational.erasureAudit(Tables.customer(s, dir),
          Tables.orders(s, dir), Tables.lineitem(s, dir))
        .orderBy("table_name")
    }),


    // CUPED A/B readout: hash-assigned arms, pre-period covariate,
    // variance-reduced adjusted means (cent-exact integer moments).
    "q167_ab_cuped" -> ((s, dir) => {
      Relational.abCuped(Tables.events(s, dir)).orderBy("arm")
    }),


    // Kaplan-Meier survival: first-view -> first-purchase durations
    // with right-censoring at observation end; ascending-t product.
    "q166_kaplan_meier" -> ((s, dir) => {
      Relational.kaplanMeier(Tables.events(s, dir)).orderBy("t_days")
    }),


    // Join fan-out audit: exact output-cardinality histogram by
    // (ml, mr) multiplicity class, computed WITHOUT running the join.
    "q164_join_fanout_audit" -> ((s, dir) => {
      Relational.joinFanoutAudit(Tables.customer(s, dir),
          Tables.orders(s, dir), "c_custkey", "o_custkey")
        .orderBy("ml", "mr")
    }),


    // Market-basket pair mining: within-order part co-occurrence,
    // support + lift, top-k by support with id tiebreaks.
    "q165_market_basket" -> ((s, dir) => {
      Relational.marketBasketPairs(Tables.lineitem(s, dir))
        .orderBy("rank")
    }),


    // Incremental sessionization with state handoff: two chunks
    // sessionized independently + boundary carry + stitch; the
    // ORACLE is the GLOBAL sessionization — hash equality proves the
    // handoff lossless.
    "q162_incremental_sessions" -> ((s, dir) => {
      Relational.incrementalSessions(Tables.events(s, dir),
          "2024-01-12 15:45:00")
        .select(col("user_id"),
          tsStr(col("s_start")).as("session_start"),
          tsStr(col("s_end")).as("session_end"),
          col("n_events"), r2(col("total")).as("total"))
        .orderBy("user_id", "session_start", "session_end", "n_events",
          "total")
    }),


    // k-anonymity / l-diversity audit: QI-group sizes + distinct
    // sensitive values, k<5 / l<2 risk flags (privacy governance).
    "q161_k_anonymity" -> ((s, dir) => {
      Relational.kAnonymityAudit(Tables.customer(s, dir),
          Tables.orders(s, dir))
        .orderBy("nation", "segment", "bal_bucket")
    }),


    // Peak concurrency per day: interval sweep partitioned by day
    // with exact carry-in (bounded session durations ⇒ one-midnight
    // crossings), half-open [start,end) tie rule. All integer µs.
    "q154_peak_concurrency" -> ((s, dir) => {
      Relational.peakConcurrency(Tables.events(s, dir)).orderBy("day")
    }),


    // Golden-record consolidation: deterministic dirty variants →
    // equality-blocked pairs → pointer-jumping CC → field-level
    // survivorship (min-id canonical, min_by name, max balance,
    // mode segment with struct-max tie rule).
    "q146_golden_records" -> ((s, dir) => {
      EntityResolution.goldenRecords(Tables.customer(s, dir))
        .select(col("golden_id"), col("name"),
          r2(col("best_bal")).as("best_bal"), col("seg"), col("n_members"))
        .orderBy("golden_id")
    }),


    // Grouped 2-D skyline: per market segment, the Pareto frontier of
    // customers maximizing account balance while minimizing lifetime
    // spend (churn-risk review list: money parked, little bought).
    // Both objectives are exact integer cents; the oracle is the
    // textbook NOT-EXISTS dominance test, certifying the
    // window-reduction in Relational.skyline2d.
    "q170_skyline_customers" -> ((s, dir) => {
      val cents = floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
      val spend = Tables.customer(s, dir)
        .join(Tables.orders(s, dir),
          col("o_custkey") === col("c_custkey"), "left")
        .groupBy(col("c_mktsegment"), col("c_custkey"), col("c_name"),
          col("c_acctbal"))
        .agg(coalesce(sum(cents), lit(0L)).as("spend_c"))
        .select(col("c_mktsegment"), col("c_custkey"), col("c_name"),
          floor(col("c_acctbal") * 100 + lit(0.5)).cast("long").as("bal_c"),
          col("spend_c"))
        // skyline2d traverses its input twice (candidates + join-back);
        // materialize the O(customers) frame so the customer×orders
        // aggregation doesn't run twice
        .localCheckpoint(true)
      Relational.skyline2d(spend, "c_mktsegment", "bal_c", "spend_c")
        .select("c_mktsegment", "c_custkey", "c_name", "bal_c", "spend_c")
        .orderBy(col("c_mktsegment"), col("bal_c").desc, col("spend_c"),
          col("c_custkey"))
    }),


    // Benford first-digit forensic audit of order amounts per
    // priority class (this synthetic feed is uniform, so dev_micro is
    // large everywhere — exactly what the audit should report).
    "q175_benford_audit" -> ((s, dir) => {
      Relational.benfordAudit(Tables.orders(s, dir), "o_orderpriority",
          "o_totalprice")
        .select(col("o_orderpriority").as("prio"), col("digit"),
          col("obs"), col("n"), col("dev_micro"))
        .orderBy("prio", "digit")
    }),


    // Gini concentration of order volume per part type — the
    // imbalance audit (zero-order parts included).
    "q179_gini_concentration" -> ((s, dir) => {
      Relational.giniConcentration(Tables.part(s, dir),
          Tables.lineitem(s, dir).select(col("l_partkey"),
            col("l_orderkey")),
          "p_type", "p_partkey", "l_partkey")
        .orderBy("p_type")
    }),


    // Forward as-of with tolerance: each purchase joined to the next
    // error by the same user within 30 minutes (what-broke-after-
    // checkout triage); pandas merge_asof(direction='forward')
    // semantics on the union+window carry, no pair explosion.
    "q180_asof_forward" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"),
          col("ts").as("p_ts"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("e_id"),
          col("ts").as("e_ts"))
      AsOfJoin.asofForward(purchases, errors, "user_id", "user_id",
          "p_ts", "e_ts", "e_id", 30L * 60L * 1000000L)
        .select(col("user_id"), col("p_id"),
          tsStr(col("p_ts")).as("p_ts"),
          col("asof_e_id").as("next_error_id"),
          ((unix_micros(col("asof_e_ts")) - unix_micros(col("p_ts")))
            / 1000000L).cast("long").as("delta_s"))
        .orderBy("p_id")
    }),
  )

  /** DuckDB oracle SQL for every query above (same keys). */
  val oracleSql: Map[String, String] = Map(

    "q05_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       floor((SUM(l_quantity)) * 100 + 0.5) / 100 AS sum_qty,
        |       floor((SUM(l_extendedprice)) * 100 + 0.5) / 100 AS sum_base_price,
        |       floor((SUM(l_extendedprice * (1.0 - l_discount))) * 100 + 0.5) / 100 AS sum_disc_price,
        |       floor((AVG(l_quantity)) * 10000 + 0.5) / 10000 AS avg_qty,
        |       floor((AVG(l_extendedprice)) * 10000 + 0.5) / 10000 AS avg_price,
        |       COUNT(*) AS count_order
        |FROM lineitem
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,


    "q06_topk_orders" ->
      """SELECT o_orderkey, o_custkey, floor((o_totalprice) * 100 + 0.5) / 100 AS o_totalprice
        |FROM orders
        |ORDER BY orders.o_totalprice DESC, o_orderkey ASC
        |LIMIT 100""".stripMargin,


    "q07_set_ops" ->
      """(SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        | UNION
        | SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 200000.0)
        |EXCEPT
        |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0.0
        |ORDER BY 1""".stripMargin,


    "q08_distinct_users" ->
      """SELECT event_type,
        |       COUNT(DISTINCT user_id) AS n_users,
        |       COUNT(*) AS n_events
        |FROM events
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,


    "q09_semi_anti" ->
      """SELECT c_custkey, 'has_orders' AS tag FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, 'no_orders' AS tag FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY 1, 2""".stripMargin,


    "q10_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |       COALESCE(l_linestatus, 'ALL') AS linestatus,
        |       floor((SUM(l_quantity)) * 100 + 0.5) / 100 AS sum_qty,
        |       COUNT(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY 1, 2""".stripMargin,


    "q11_order_analytics" ->
      """SELECT o_custkey, o_orderkey,
        |       row_number() OVER w AS rn,
        |       floor((lag(o_totalprice, 1) OVER w) * 100 + 0.5) / 100 AS prev_price,
        |       floor((SUM(o_totalprice) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
        |                                       AND CURRENT ROW)) * 100 + 0.5) / 100 AS running_total
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
        |ORDER BY 1, 2""".stripMargin,


    "q12_revenue_per_region" ->
      """SELECT r_name, floor((SUM(o_totalprice)) * 100 + 0.5) / 100 AS revenue, COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,


    "q13_token_frequency" ->
      """SELECT token, COUNT(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |WHERE length(token) > 0
        |GROUP BY 1
        |ORDER BY 2 DESC, 1 ASC
        |LIMIT 100""".stripMargin,


    "q26_asof_join" ->
      """SELECT c.event_id,
        |       c.user_id,
        |       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |       floor((p.value) * 100 + 0.5) / 100 AS purchase_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON p.user_id = c.user_id AND p.ts <= c.ts
        |ORDER BY 1, 2, 3, 4, 5""".stripMargin,


    "q32_pivot" ->
      """SELECT user_id,
        |       floor((SUM(value) FILTER (event_type = 'click')) * 100 + 0.5) / 100 AS click,
        |       floor((SUM(value) FILTER (event_type = 'error')) * 100 + 0.5) / 100 AS error,
        |       floor((SUM(value) FILTER (event_type = 'purchase')) * 100 + 0.5) / 100 AS purchase,
        |       floor((SUM(value) FILTER (event_type = 'signup')) * 100 + 0.5) / 100 AS signup,
        |       floor((SUM(value) FILTER (event_type = 'view')) * 100 + 0.5) / 100 AS view
        |FROM events
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,


    "q33_percentiles" ->
      """SELECT event_type,
        |       floor((quantile_cont(value, 0.5)) * 10000 + 0.5) / 10000 AS p50,
        |       floor((quantile_cont(value, 0.9)) * 10000 + 0.5) / 10000 AS p90
        |FROM events
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,


    // q66: same changeset rules; merge = untouched base ∪ 'U' rows.
    "q66_merge_apply" ->
      """WITH changes AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 11 = 3 THEN 'D'
        |              WHEN doc_id % 7 = 0 THEN 'U' END AS op,
        |         upper(text) AS text, source
        |  FROM documents WHERE doc_id % 11 = 3 OR doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 2305843009213693952, 'U', reverse(text), source
        |  FROM documents WHERE doc_id % 13 = 0),
        |merged AS (
        |  SELECT b.doc_id, b.text, b.source FROM documents b
        |  LEFT JOIN changes c ON b.doc_id = c.doc_id
        |  WHERE c.doc_id IS NULL
        |  UNION ALL
        |  SELECT doc_id, text, source FROM changes WHERE op = 'U')
        |SELECT doc_id, source, md5(text) AS text_md5,
        |       length(text)::BIGINT AS n_chars_new
        |FROM merged ORDER BY doc_id""".stripMargin,


    // q78: the same first-touch chain as three dependent aggregates.
    "q78_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1)
        |SELECT * FROM (
        |  SELECT 1::BIGINT AS stage_idx, 'view' AS stage,
        |         (SELECT COUNT(*) FROM s1)::BIGINT AS n_users
        |  UNION ALL
        |  SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
        |  UNION ALL
        |  SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3))
        |ORDER BY stage_idx""".stripMargin,


    // q79: identical integer epoch-day arithmetic.
    "q79_cohort_retention" ->
      """WITH ev AS (
        |  SELECT user_id,
        |         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
        |  FROM events),
        |fs AS (SELECT user_id, min(d) AS cohort_d FROM ev GROUP BY 1)
        |SELECT cohort_d, (d - cohort_d) AS offset_d,
        |       COUNT(DISTINCT ev.user_id)::BIGINT AS n_users
        |FROM ev JOIN fs ON ev.user_id = fs.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,


    // q87: same gaps-and-islands sessionization; the path is an
    // ORDER BY inside the list aggregate, cut to 5.
    "q87_top_journeys" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, ts, event_type,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, event_id, ts, event_type,
        |         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM marked),
        |paths AS (
        |  SELECT array_to_string(
        |           (list(event_type ORDER BY ts, event_id))[1:5], '>')
        |           AS path
        |  FROM sess GROUP BY user_id, sess)
        |SELECT path, COUNT(*)::BIGINT AS n_sessions
        |FROM paths GROUP BY 1
        |ORDER BY 2 DESC, 1 ASC LIMIT 20""".stripMargin,


    // q104: per-column branches UNION ALL'd; sums in DECIMAL(18,2)
    // (the doubles are cent-valued, so the cast rounds to the intended
    // cent identically on both engines) then one cast to double.
    "q104_table_profile" -> {
      def branch(c: String) =
        s"""SELECT '$c' AS col_name, count(*)::BIGINT AS n_rows,
           |       SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
           |       count(DISTINCT $c)::BIGINT AS n_distinct,
           |       CAST(min($c) AS DOUBLE) AS min_v,
           |       CAST(max($c) AS DOUBLE) AS max_v,
           |       CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
           |FROM lineitem""".stripMargin
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map(branch).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },


    // q105: the oracle recomputes from scratch — exact decimal sums
    // make the engine's base+delta merge bit-equal to this.
    "q105_incremental_agg" ->
      """SELECT event_type, count(*)::BIGINT AS cnt,
        |       SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
        |       CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_v,
        |       min(value) AS min_v, max(value) AS max_v
        |FROM events
        |GROUP BY 1 ORDER BY 1""".stripMargin,


    // q116: UNION ALL of the four measure branches = Spark's Expand;
    // decimal(18,2) cast both engines makes each cent value exact
    // before the one double cast.
    "q116_unpivot_measures" -> {
      def branch(c: String) =
        s"""SELECT l_orderkey, l_linenumber, '$c' AS measure,
           |       CAST(CAST($c AS DECIMAL(18,2)) AS DOUBLE) AS value
           |FROM lineitem""".stripMargin
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map(branch)
        .mkString("", "\nUNION ALL\n",
          "\nORDER BY l_orderkey, l_linenumber, measure")
    },


    // q121: same multi-blocking (nation / digit-suffix), per-block cap,
    // pair dedup, trigram-jaccard + balance-proximity score, one-best
    // row_number assignment. All score arithmetic is the identical IEEE
    // expression tree on both engines; trigram sets are distinct lists
    // so intersection/union sizes match Spark's array_intersect exactly.
    "q121_entity_match" ->
      s"""WITH l AS (
        |  SELECT c_custkey, c_nationkey::BIGINT AS l_nation,
        |         regexp_extract(c_name, '([0-9]+)', 1) AS l_digits,
        |         c_acctbal AS l_bal
        |  FROM customer),
        |r AS (
        |  SELECT s_suppkey, s_nationkey::BIGINT AS r_nation,
        |         regexp_extract(s_name, '([0-9]+)', 1) AS r_digits,
        |         s_acctbal AS r_bal
        |  FROM supplier),
        |lb AS (
        |  SELECT c_custkey, 'n' || l_nation::VARCHAR AS bkey FROM l
        |  UNION ALL
        |  SELECT c_custkey, 's' || right(l_digits, 2) FROM l),
        |rb AS (
        |  SELECT s_suppkey, 'n' || r_nation::VARCHAR AS bkey FROM r
        |  UNION ALL
        |  SELECT s_suppkey, 's' || right(r_digits, 2) FROM r),
        |lc AS (SELECT c_custkey, bkey FROM (
        |         SELECT *, count(*) OVER (PARTITION BY bkey) AS bn FROM lb)
        |       WHERE bn <= ${EntityResolution.MaxBlockSize}),
        |rc AS (SELECT s_suppkey, bkey FROM (
        |         SELECT *, count(*) OVER (PARTITION BY bkey) AS bn FROM rb)
        |       WHERE bn <= ${EntityResolution.MaxBlockSize}),
        |cands AS (
        |  SELECT DISTINCT c_custkey, s_suppkey
        |  FROM lc JOIN rc USING (bkey)),
        |scored AS (
        |  SELECT c.c_custkey, c.s_suppkey, sc.jac, sc.balscore,
        |         0.7 * sc.jac + 0.3 * sc.balscore AS score
        |  FROM cands c
        |  JOIN l ON c.c_custkey = l.c_custkey
        |  JOIN r ON c.s_suppkey = r.s_suppkey,
        |  LATERAL (
        |    SELECT CASE WHEN uni > 0 THEN inter / uni ELSE 0.0 END AS jac,
        |           1.0 / (1.0 + abs(l_bal - r_bal)) AS balscore
        |    FROM (
        |      SELECT len(list_filter(ltg, x -> list_contains(rtg, x)))::DOUBLE
        |               AS inter,
        |             (len(ltg) + len(rtg))::DOUBLE
        |               - len(list_filter(ltg, x -> list_contains(rtg, x)))::DOUBLE
        |               AS uni
        |      FROM (SELECT
        |              list_distinct(list_transform(
        |                range(1, greatest(length(l_digits) - 2, 1) + 1),
        |                i -> substring(l_digits, i::INT, 3))) AS ltg,
        |              list_distinct(list_transform(
        |                range(1, greatest(length(r_digits) - 2, 1) + 1),
        |                i -> substring(r_digits, i::INT, 3))) AS rtg))) sc)
        |SELECT c_custkey, s_suppkey,
        |       floor(score * 1000000 + 0.5) / 1000000 AS score, n_cands
        |FROM (
        |  SELECT c_custkey, s_suppkey, score,
        |         count(*) OVER (PARTITION BY c_custkey) AS n_cands,
        |         row_number() OVER (PARTITION BY c_custkey
        |                            ORDER BY score DESC, s_suppkey ASC) AS rk
        |  FROM scored)
        |WHERE rk = 1
        |ORDER BY c_custkey""".stripMargin,


    // q122: change points via lag over (custkey, orderdate, orderkey),
    // intervals via lead over the FILTERED change-point set.
    "q122_scd2_history" ->
      """WITH obs AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
        |         lag(o_orderstatus) OVER (PARTITION BY o_custkey
        |             ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        |chg AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey
        |  FROM obs WHERE prev IS NULL OR prev <> o_orderstatus)
        |SELECT o_custkey, o_orderstatus AS status,
        |       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |       strftime(lead(o_orderdate) OVER w, '%Y-%m-%d %H:%M:%S')
        |         AS valid_to,
        |       row_number() OVER w AS version,
        |       (lead(o_orderdate) OVER w IS NULL) AS is_current
        |FROM chg
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, version""".stripMargin,


    // q133: first/last touch per purchase as rank-1 windows over the
    // user-keyed interval join (≡ the engine's struct min/max because
    // event_id is unique); 'direct' via NOT EXISTS.
    "q133_touch_attribution" ->
      """WITH t AS (
        |  SELECT user_id, ts AS t_ts, event_id AS t_id, event_type AS t_type
        |  FROM events WHERE event_type IN ('click', 'view')),
        |p AS (
        |  SELECT user_id, ts AS p_ts, event_id AS p_id, value
        |  FROM events WHERE event_type = 'purchase'),
        |j AS MATERIALIZED (
        |  SELECT p.p_id, p.value, t.t_ts, t.t_id, t.t_type
        |  FROM p JOIN t ON p.user_id = t.user_id
        |   AND t.t_ts >= p.p_ts - INTERVAL 1 HOUR AND t.t_ts < p.p_ts),
        |mf AS (
        |  SELECT p_id, value, t_type AS first_touch FROM (
        |    SELECT p_id, value, t_type,
        |           row_number() OVER (PARTITION BY p_id
        |                              ORDER BY t_ts ASC, t_id ASC) AS rn
        |    FROM j) WHERE rn = 1),
        |ml AS (
        |  SELECT p_id, t_type AS last_touch FROM (
        |    SELECT p_id, t_type,
        |           row_number() OVER (PARTITION BY p_id
        |                              ORDER BY t_ts DESC, t_id DESC) AS rn
        |    FROM j) WHERE rn = 1),
        |d AS (
        |  SELECT p_id, value FROM p
        |  WHERE NOT EXISTS (SELECT 1 FROM t
        |    WHERE t.user_id = p.user_id
        |      AND t.t_ts >= p.p_ts - INTERVAL 1 HOUR AND t.t_ts < p.p_ts)),
        |per AS (
        |  SELECT mf.p_id, mf.value, mf.first_touch, ml.last_touch
        |  FROM mf JOIN ml ON mf.p_id = ml.p_id
        |  UNION ALL
        |  SELECT p_id, value, 'direct', 'direct' FROM d)
        |SELECT model, touch_type, n_purchases, revenue FROM (
        |  SELECT 'first' AS model, first_touch AS touch_type,
        |         count(*)::BIGINT AS n_purchases,
        |         floor(sum(value) * 10000 + 0.5) / 10000 AS revenue
        |  FROM per GROUP BY 2
        |  UNION ALL
        |  SELECT 'last', last_touch, count(*)::BIGINT,
        |         floor(sum(value) * 10000 + 0.5) / 10000
        |  FROM per GROUP BY 2)
        |ORDER BY 1, 2""".stripMargin,


    // q142: q78's strictly-after first-touch chain, plus integer-
    // microsecond deltas and quantile_disc percentiles.
    "q142_funnel_latency" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1),
        |d2 AS (
        |  SELECT epoch_us(s2.t) - epoch_us(s1.t) AS delta
        |  FROM s2 JOIN s1 ON s2.user_id = s1.user_id),
        |d3 AS (
        |  SELECT epoch_us(s3.t) - epoch_us(s2.t) AS delta
        |  FROM s3 JOIN s2 ON s3.user_id = s2.user_id)
        |SELECT * FROM (
        |  SELECT 2::BIGINT AS stage_idx, 'click' AS stage,
        |         count(*)::BIGINT AS n_users,
        |         quantile_disc(delta, 0.5)::BIGINT AS p50_us,
        |         quantile_disc(delta, 0.9)::BIGINT AS p90_us
        |  FROM d2
        |  UNION ALL
        |  SELECT 3, 'purchase', count(*),
        |         quantile_disc(delta, 0.5), quantile_disc(delta, 0.9)
        |  FROM d3)
        |ORDER BY stage_idx""".stripMargin,

    "q169_erasure_audit" -> OracleHashSql.q169ErasureAudit,

    "q167_ab_cuped" -> OracleHashSql.q167AbCuped,


    // q166: same duration/censoring bookkeeping; the survival product
    // is DuckDB's sequential window product() vs the engine's
    // ascending-t fold — the same multiply sequence.
    "q166_kaplan_meier" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS t0 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS te
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > v.t0 GROUP BY 1),
        |mx AS (SELECT max(ts) AS t_max FROM events),
        |dur AS (
        |  SELECT v.user_id,
        |         floor((epoch_us(COALESCE(p.te, mx.t_max)) -
        |                epoch_us(v.t0)) / 86400000000)::BIGINT AS dur,
        |         (p.te IS NOT NULL) AS observed
        |  FROM v LEFT JOIN p ON v.user_id = p.user_id, mx),
        |deaths AS (SELECT dur AS t, count(*)::BIGINT AS d
        |           FROM dur WHERE observed GROUP BY 1),
        |risk AS (SELECT deaths.t, count(*)::BIGINT AS n_risk
        |         FROM dur, deaths WHERE dur.dur >= deaths.t GROUP BY 1),
        |c AS (SELECT t, n_risk, d FROM deaths JOIN risk USING (t))
        |SELECT t AS t_days, n_risk, d AS d_events,
        |       floor(product(1.0 - d::DOUBLE / n_risk::DOUBLE)
        |               OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
        |             * 10000 + 0.5) / 10000 AS survival
        |FROM c ORDER BY t_days""".stripMargin,


    // q164: same two keyed counts + full-outer multiplicity classes.
    "q164_join_fanout_audit" ->
      """WITH l AS (SELECT c_custkey AS k, count(*) AS ml
        |           FROM customer GROUP BY 1),
        |r AS (SELECT o_custkey AS k, count(*) AS mr
        |      FROM orders GROUP BY 1),
        |j AS (SELECT COALESCE(l.k, r.k) AS k,
        |             COALESCE(ml, 0) AS ml, COALESCE(mr, 0) AS mr
        |      FROM l FULL OUTER JOIN r ON l.k = r.k)
        |SELECT ml::BIGINT AS ml, mr::BIGINT AS mr,
        |       count(*)::BIGINT AS n_keys,
        |       (count(*) * ml * mr)::BIGINT AS out_rows,
        |       min(k) AS example_key
        |FROM j GROUP BY ml, mr ORDER BY 1, 2""".stripMargin,


    // q165: identical pair space (distinct within-order items,
    // a.part < b.part), support floor, lift as one IEEE division.
    "q165_market_basket" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS oid, l_partkey AS part
        |  FROM lineitem),
        |n AS (SELECT count(DISTINCT oid) AS n_orders FROM items),
        |freq AS (SELECT part, count(*) AS cnt FROM items GROUP BY 1),
        |p AS (
        |  SELECT a.part AS part_a, b.part AS part_b,
        |         count(*)::BIGINT AS support
        |  FROM items a JOIN items b ON a.oid = b.oid AND a.part < b.part
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |s AS (
        |  SELECT p.part_a, p.part_b, p.support,
        |         fa.cnt::BIGINT AS cnt_a, fb.cnt::BIGINT AS cnt_b,
        |         p.support * n.n_orders / (fa.cnt * fb.cnt) AS lift
        |  FROM p JOIN freq fa ON fa.part = p.part_a
        |  JOIN freq fb ON fb.part = p.part_b, n)
        |SELECT rank, part_a, part_b, support, cnt_a, cnt_b,
        |       floor(lift * 10000 + 0.5) / 10000 AS lift
        |FROM (SELECT *, row_number() OVER (
        |        ORDER BY support DESC, part_a, part_b)::BIGINT AS rank
        |      FROM s)
        |WHERE rank <= 50 ORDER BY rank""".stripMargin,


    // q162: the oracle is the GLOBAL gaps-and-islands sessionization
    // (q28's shape + session_end + event_id tiebreak) — no split, no
    // carry. Matching hashes certify the incremental stitch.
    "q162_incremental_sessions" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_id, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |         SUM(brk) OVER (PARTITION BY user_id
        |                        ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked)
        |SELECT user_id,
        |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
        |       COUNT(*)::BIGINT AS n_events,
        |       floor((SUM(value)) * 100 + 0.5) / 100 AS total
        |FROM sessions
        |GROUP BY user_id, sid
        |ORDER BY 1, 2, 3, 4, 5""".stripMargin,


    // q161: identical QI grouping, first-order sensitive value,
    // integer risk rules.
    "q161_k_anonymity" ->
      """WITH fp AS (
        |  SELECT o_custkey,
        |         min_by(o_orderpriority,
        |                strftime(o_orderdate, '%Y%m%d%H%M%S') ||
        |                lpad(o_orderkey::VARCHAR, 12, '0')) AS sensitive
        |  FROM orders GROUP BY 1),
        |t AS (
        |  SELECT c_nationkey::BIGINT AS nation,
        |         c_mktsegment AS segment,
        |         floor(c_acctbal / 5000)::BIGINT AS bal_bucket,
        |         COALESCE(fp.sensitive, 'NONE') AS sensitive
        |  FROM customer LEFT JOIN fp ON c_custkey = o_custkey)
        |SELECT nation, segment, bal_bucket,
        |       count(*)::BIGINT AS n,
        |       count(DISTINCT sensitive)::BIGINT AS l_distinct,
        |       (count(*) < 5) AS at_risk_k,
        |       (count(DISTINCT sensitive) < 2) AS at_risk_l
        |FROM t GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin,


    // q154: identical boundary bookkeeping — ends-before-starts at a
    // shared instant, clipped midnight ends, carry-in cancellation.
    "q154_peak_concurrency" ->
      """WITH iv AS (
        |  SELECT event_id,
        |         epoch_us(ts) AS s_us,
        |         epoch_us(ts) + ((event_id % 7200) + 60) * 1000000 AS e_us,
        |         epoch_us(date_trunc('day', ts)) AS d_us,
        |         epoch_us(date_trunc('day', ts)) + 86400000000 AS nd_us
        |  FROM events),
        |deltas AS (
        |  SELECT d_us, s_us AS t_us, 1::BIGINT AS delta, event_id FROM iv
        |  UNION ALL
        |  SELECT d_us, e_us, -1, event_id FROM iv WHERE e_us < nd_us
        |  UNION ALL
        |  SELECT nd_us, e_us, -1, event_id FROM iv WHERE e_us > nd_us),
        |carry AS (
        |  SELECT nd_us AS d_us, count(*)::BIGINT AS carry_in FROM iv
        |  WHERE e_us > nd_us GROUP BY 1),
        |run AS (
        |  SELECT d.d_us, COALESCE(c.carry_in, 0) AS carry_in, d.delta,
        |         COALESCE(c.carry_in, 0) + sum(d.delta) OVER (
        |           PARTITION BY d.d_us
        |           ORDER BY d.t_us, d.delta, d.event_id
        |           ROWS UNBOUNDED PRECEDING) AS running
        |  FROM deltas d LEFT JOIN carry c USING (d_us))
        |SELECT strftime(make_timestamp(d_us), '%Y-%m-%d') AS day,
        |       carry_in::BIGINT AS carry_in,
        |       sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END)::BIGINT
        |         AS n_starts,
        |       sum(CASE WHEN delta = -1 THEN 1 ELSE 0 END)::BIGINT
        |         AS n_ends,
        |       greatest(max(running), carry_in)::BIGINT AS peak
        |FROM run GROUP BY d_us, carry_in ORDER BY day""".stripMargin,


    // q146: same deterministic variant injection; pairs via the same
    // equality blocking; clusters via the q49 recursive-reach pattern;
    // survivorship with arg_min / max / mode-with-seg-desc-tie.
    "q146_golden_records" ->
      """WITH RECURSIVE dirty AS MATERIALIZED (
        |  SELECT (c_custkey * 4)::BIGINT AS rec_id, c_name AS name,
        |         c_nationkey::BIGINT AS nation, c_acctbal AS bal,
        |         c_mktsegment AS seg
        |  FROM customer
        |  UNION ALL
        |  SELECT (c_custkey * 4 + 1)::BIGINT, lower(c_name),
        |         c_nationkey::BIGINT, c_acctbal + 0.17, c_mktsegment
        |  FROM customer WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT (c_custkey * 4 + 2)::BIGINT,
        |         'CUST#' || regexp_extract(c_name, '([0-9]+)', 1),
        |         c_nationkey::BIGINT, c_acctbal - 5.25, 'UNKNOWN'
        |  FROM customer WHERE c_custkey % 11 = 0),
        |keyed AS MATERIALIZED (
        |  SELECT rec_id, name, nation, bal, seg,
        |         regexp_extract(name, '([0-9]+)', 1) AS digits
        |  FROM dirty),
        |p AS (
        |  SELECT a.rec_id AS src, b.rec_id AS dst
        |  FROM keyed a JOIN keyed b
        |    ON a.digits = b.digits AND a.nation = b.nation
        |   AND a.rec_id < b.rec_id),
        |e AS (SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p),
        |v AS (SELECT DISTINCT src AS v FROM e),
        |reach(v, r) AS (
        |  SELECT v, v FROM v
        |  UNION
        |  SELECT reach.v, e.dst FROM reach JOIN e ON e.src = reach.r),
        |comp AS (SELECT v AS rec_id, min(r) AS cluster_id FROM reach GROUP BY v),
        |members AS MATERIALIZED (
        |  SELECT k.rec_id, k.name, k.bal, k.seg,
        |         coalesce(c.cluster_id, k.rec_id) AS cluster_id
        |  FROM keyed k LEFT JOIN comp c ON c.rec_id = k.rec_id),
        |golden AS (
        |  SELECT cluster_id, min(rec_id) AS golden_id,
        |         arg_min(name, rec_id) AS name,
        |         max(bal) AS best_bal, count(*)::BIGINT AS n_members
        |  FROM members GROUP BY 1),
        |segc AS (SELECT cluster_id, seg, count(*) AS c FROM members GROUP BY 1, 2),
        |segp AS (
        |  SELECT cluster_id, seg FROM (
        |    SELECT cluster_id, seg, row_number() OVER (
        |      PARTITION BY cluster_id ORDER BY c DESC, seg DESC) AS rn
        |    FROM segc)
        |  WHERE rn = 1)
        |SELECT g.golden_id, g.name,
        |       floor(g.best_bal * 100 + 0.5) / 100 AS best_bal,
        |       s.seg, g.n_members
        |FROM golden g JOIN segp s ON s.cluster_id = g.cluster_id
        |ORDER BY golden_id""".stripMargin,


    // q170: the TEXTBOOK dominance definition (NOT EXISTS a strictly
    // better row) — deliberately independent of the engine's
    // window-reduction, so the hash match certifies the reduction.
    "q170_skyline_customers" ->
      """WITH spend AS (
        |  SELECT c_mktsegment, c_custkey, c_name,
        |         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c,
        |         coalesce(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)),
        |                  0)::BIGINT AS spend_c
        |  FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |  GROUP BY 1, 2, 3, 4)
        |SELECT c_mktsegment, c_custkey, c_name, bal_c, spend_c
        |FROM spend p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM spend q
        |  WHERE q.c_mktsegment = p.c_mktsegment
        |    AND q.bal_c >= p.bal_c AND q.spend_c <= p.spend_c
        |    AND (q.bal_c > p.bal_c OR q.spend_c < p.spend_c))
        |ORDER BY 1, bal_c DESC, spend_c, c_custkey""".stripMargin,


    // q175: first digit from the integer-cents decimal string;
    // expected micro-probabilities are the same fixed literals the
    // engine broadcasts (Relational.benfordMicro).
    "q175_benford_audit" ->
      s"""WITH d AS (
        |  SELECT o_orderpriority AS prio,
        |         substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |                     AS VARCHAR), 1, 1)::INT AS digit
        |  FROM orders WHERE o_totalprice > 0),
        |cnt AS (SELECT prio, digit, count(*)::BIGINT AS obs
        |        FROM d GROUP BY 1, 2),
        |tot AS (SELECT prio, sum(obs)::BIGINT AS n FROM cnt GROUP BY 1),
        |exp AS (SELECT * FROM (VALUES ${
          graft.operators.Relational.benfordMicro
            .map { case (d, p) => s"($d, ${p}::BIGINT)" }.mkString(", ")
        }) e(digit, p_micro))
        |SELECT c.prio, c.digit, c.obs, t.n,
        |       (c.obs * 1000000 - t.n * e.p_micro)::BIGINT AS dev_micro
        |FROM cnt c JOIN tot t ON t.prio = c.prio
        |JOIN exp e ON e.digit = c.digit
        |ORDER BY 1, 2""".stripMargin,


    // q179: identical rank identity over the same ascending
    // (x, partkey) order; HUGEINT moments mirror the decimal sums.
    "q179_gini_concentration" ->
      """WITH cnt AS (
        |  SELECT p_type, p_partkey, count(l_orderkey)::BIGINT AS x
        |  FROM part LEFT JOIN lineitem ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT p_type, x,
        |         row_number() OVER (PARTITION BY p_type
        |                            ORDER BY x, p_partkey) AS i
        |  FROM cnt)
        |SELECT p_type, count(*)::BIGINT AS n_items, sum(x)::BIGINT AS total,
        |       floor(((2 * sum(i::HUGEINT * x::HUGEINT)
        |               - (count(*) + 1)::HUGEINT * sum(x)::HUGEINT)::DOUBLE
        |              / (count(*)::HUGEINT * sum(x)::HUGEINT)::DOUBLE)
        |             * 10000 + 0.5) / 10000 AS gini
        |FROM rk GROUP BY 1 ORDER BY 1""".stripMargin,


    // q180: the oracle is the textbook pair-space formulation
    // (bounded join + row_number pick-first), independent of the
    // engine's union+carry — the hash match certifies the carry.
    "q180_asof_forward" ->
      """WITH p AS (
        |  SELECT user_id, event_id AS p_id, ts AS p_ts
        |  FROM events WHERE event_type = 'purchase'),
        |e AS (
        |  SELECT user_id, event_id AS e_id, ts AS e_ts
        |  FROM events WHERE event_type = 'error'),
        |j AS (
        |  SELECT p.user_id, p_id, p_ts, e_id, e_ts,
        |         row_number() OVER (PARTITION BY p_id
        |                            ORDER BY e_ts, e_id) AS rn
        |  FROM p JOIN e ON p.user_id = e.user_id
        |    AND e_ts >= p_ts AND e_ts <= p_ts + INTERVAL 30 MINUTE)
        |SELECT user_id, p_id, strftime(p_ts, '%Y-%m-%d %H:%M:%S') AS p_ts,
        |       e_id AS next_error_id,
        |       ((epoch_us(e_ts) - epoch_us(p_ts)) // 1000000)::BIGINT
        |         AS delta_s
        |FROM j WHERE rn = 1 ORDER BY p_id""".stripMargin,
  )
}
