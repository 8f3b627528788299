package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator breadth beyond the reference's own surface
  * (SURVEY.md §2.11 lists these as absent from the reference; a complete
  * engine needs them). Everything here is a Catalyst built-in — sorts,
  * limits, set ops, semi/anti joins, rollup, analytic windows, explode —
  * so plans stay inside WholeStageCodegen and scale by partitioning:
  * top-k is TakeOrderedAndProject (per-partition bounded heap + driver
  * merge of k rows, never a global sort); rollup is a single shuffle with
  * partial aggregation; semi/anti broadcast when the right side is small.
  */
object Relational {

  private[graft] val ErasureModulus = 37                   // erasureAudit cohort: hash ≡ 0 (q169)
  private[graft] val CupedSplitTs = "2024-01-16 00:00:00"  // abCuped's pre/post split (q167)

  /** Multi-aggregate pricing summary (TPC-H Q1 shape): sum/avg/count per
    * (returnflag, linestatus). One shuffle, map-side partials.
    */
  def pricingSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_extendedprice")).as("sum_base_price"),
        sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        avg(col("l_quantity")).as("avg_qty"),
        avg(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order"))

  /** Top-k by value with a unique tiebreak — plans as
    * TakeOrderedAndProjectExec (bounded per-partition heaps, no global
    * sort/shuffle: the 100 TB-safe form of ORDER BY+LIMIT).
    */
  def topOrders(orders: DataFrame, k: Int): DataFrame =
    orders
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(k)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  /** Set operations: (building-segment customers UNION big-spender
    * customers) EXCEPT low-balance customers. UNION dedups via hash agg;
    * EXCEPT is a left-anti under the hood.
    */
  def customerSetOps(customer: DataFrame, orders: DataFrame): DataFrame = {
    val building = customer.filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("custkey"))
    val bigSpenders = orders.filter(col("o_totalprice") > 200000.0)
      .select(col("o_custkey").as("custkey"))
    val lowBalance = customer.filter(col("c_acctbal") < 0.0)
      .select(col("c_custkey").as("custkey"))
    building.union(bigSpenders).distinct().except(lowBalance)
  }

  /** Distinct aggregation: exact distinct users + event counts per type. */
  def distinctUsersPerType(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))

  /** Semi + anti join in one result: customers tagged by whether they
    * have any order (left_semi = EXISTS, left_anti = NOT EXISTS).
    */
  def customersByOrderExistence(customer: DataFrame, orders: DataFrame): DataFrame = {
    val orderKeys = orders.select(col("o_custkey"))
    val has = customer.join(orderKeys, customer("c_custkey") === orderKeys("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit("has_orders").as("tag"))
    val hasNot = customer.join(orderKeys, customer("c_custkey") === orderKeys("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit("no_orders").as("tag"))
    has.unionAll(hasNot)
  }

  /** ROLLUP over (returnflag, linestatus); rollup-generated NULLs are
    * folded to 'ALL' so the output has no nulls (null-ordering parity
    * across engines, SURVEY.md §7.5).
    */
  def quantityRollup(lineitem: DataFrame): DataFrame =
    lineitem
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n"))

  /** Analytic window functions: row_number, lag, running sum per customer
    * over their order history (explicit ROWS frame for cross-engine
    * determinism).
    */
  def orderHistoryAnalytics(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    orders
      .withColumn("rn", row_number().over(w))
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
      .withColumn("running_total",
        sum(col("o_totalprice")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("o_custkey"), col("o_orderkey"), col("rn"),
        col("prev_price"), col("running_total"))
  }

  /** Star-schema join: revenue per region across
    * region⋈nation⋈customer⋈orders. The three dims are broadcast; the
    * only shuffle is the final aggregation — at 100 TB the fact table
    * never moves for the joins.
    */
  def revenuePerRegion(region: DataFrame, nation: DataFrame,
                       customer: DataFrame, orders: DataFrame): DataFrame =
    orders
      .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy(region("r_name"))
      .agg(sum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))

  /** Pivot: event values spread to one column per event type (dynamic
    * column generation from data — pinned to the known type list so the
    * schema is stable and no pre-scan pass is needed at 100 TB).
    */
  def pivotEventValues(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .sum("value")

  /** Exact interpolated percentiles (median/p90) per group. At scale
    * the exact form needs a per-group sort; approx_percentile is the
    * sketch-based alternative when error tolerance allows.
    */
  def valuePercentiles(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.9)").as("p90"))

  /** Generator/explode: global token frequency over documents — the
    * UDTF-shaped operator class (flatMap one row to many).
    */
  def tokenFrequency(documents: DataFrame, k: Int): DataFrame =
    documents
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(k)

  /** Funnel stage-transition latency (q142): [[funnel]]'s strictly-
    * after first-touch chaining, but keeping each user's first-touch
    * TIME per stage and reporting, per transition, how many users
    * converted and the p50/p90 of their conversion delay. Deltas are
    * integer MICROSECONDS and the percentiles use the discrete
    * quantile rule (index max(0, ceil(q·n)−1) of the sorted deltas —
    * DuckDB `quantile_disc` bit-for-bit, the q128 convention), so the
    * whole output is integer-exact under the oracle.
    *
    * Scale: per-stage first-touch frames are user-keyed aggregates
    * (users-sized, not events-sized). The percentiles ride
    * [[graft.operators.ScaleOps.distributedRank]] + a rank-pick filter
    * (the q282/q337 pattern): deltas are near-unique integer
    * microseconds, so the value-grain cumulative trick would
    * degenerate back to the converting-user frame, and collecting the
    * sorted delta array into the 1-row reduction (the pre-r11 form)
    * put O(converting users) in one task — the quantile twin of the
    * retired entity-grain full-rank windows. Rank ties across range
    * boundaries are broken by user_id; equal deltas carry equal
    * values, so the picked VALUE is tie-order independent. The
    * checkpoint per stage truncates the chain like [[funnel]].
    *
    * Construction is EAGER: each stage's `localCheckpoint` and each
    * transition's `distributedRank` (zipWithIndex + range sampling)
    * launch jobs at DataFrame-BUILD time, so building an s-stage
    * funnel runs s-1 shuffle+count job sets even if the returned
    * frame is never acted on. Fine for the intended use (build one,
    * act on it); a caller constructing many funnels speculatively
    * should construct lazily on demand instead.
    */
  def funnelLatency(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.length >= 2, "funnelLatency needs at least two stages")
    val frames = firstTouchFrames(events, stages)
    val transitions = (1 until stages.length).map { i =>
      val deltas = frames(i).select(col("user_id"), col("t_prev").as("t_cur"))
        .join(frames(i - 1), "user_id")
        .select(col("user_id"),
          (unix_micros(col("t_cur")) - unix_micros(col("t_prev")))
            .as("delta_us"))
      val ranked = ScaleOps.distributedRank(deltas,
        Seq(col("delta_us").asc, col("user_id").asc), "rk")
      val nRow = ranked.agg(count(lit(1)).as("n_users"))
      // discrete quantile rule (DuckDB quantile_disc, the q128
      // convention): 1-based rank max(1, ceil(q·n)) of the sorted
      // deltas — identical to index max(0, ceil(q·n)−1) of the array
      def rq(q: Double) =
        greatest(lit(1L), ceil(lit(q) * col("n_users")).cast("long"))
      val picks = ranked.crossJoin(broadcast(nRow))
        .filter(col("rk") === rq(0.5) || col("rk") === rq(0.9))
        .groupBy()
        .agg(max(when(col("rk") === rq(0.5), col("delta_us"))).as("p50_us"),
          max(when(col("rk") === rq(0.9), col("delta_us"))).as("p90_us"))
      nRow.crossJoin(broadcast(picks))
        .select(lit(i.toLong + 1).as("stage_idx"), lit(stages(i)).as("stage"),
          col("n_users"), col("p50_us"), col("p90_us"))
    }
    transitions.reduce(_ unionByName _)
  }

  /** Per-stage strictly-after first-touch frames — the ONE chaining
    * rule behind [[funnel]] and [[funnelLatency]] (stage i admits a
    * user's event only strictly after their stage-(i−1) first touch):
    * frame i holds (user_id, t_prev = first touch of stage i) for
    * every user that reached stage i. Each frame is a users-sized
    * checkpointed aggregate.
    */
  private def firstTouchFrames(events: DataFrame,
                               stages: Seq[String]): Seq[DataFrame] = {
    var reached: DataFrame = null
    stages.map { stage =>
      val hits = events.filter(col("event_type") === stage)
        .select(col("user_id"), col("ts"))
      val qualified =
        if (reached == null) hits
        else hits.join(reached, "user_id")
          .filter(col("ts") > col("t_prev"))
          .select(col("user_id"), col("ts"))
      reached = qualified.groupBy("user_id")
        .agg(min(col("ts")).as("t_prev"))
        .localCheckpoint(true)
      reached
    }
  }

  /** Ordered conversion funnel over the event stream: how many users
    * reach each stage of `stages` IN ORDER (each stage's event must be
    * strictly later than the previous stage's first qualifying event —
    * the "first touch" semantics analytics tools ship). Returns one
    * row per stage: (stage_idx, stage, n_users).
    *
    * Scale shape: one narrow groupBy per stage over only that stage's
    * events, joined to the previous stage's (user, t) frame — which is
    * users-sized, not events-sized, so AQE broadcasts it when it fits
    * and falls back to a shuffle join when it doesn't (no forced
    * hint). The fact stream is scanned once per stage with column
    * pruning to (user_id, ts); only per-stage counts are collected.
    */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val counts = firstTouchFrames(events, stages).zipWithIndex.map {
      case (frame, i) => (i.toLong + 1, stages(i), frame.count())
    }
    counts.toDF("stage_idx", "stage", "n_users")
  }

  /** Cohort retention matrix: users cohorted by first-active epoch-day,
    * then (cohort_day, day_offset) -> distinct active users. The
    * day index is integer arithmetic on the epoch (exact on any
    * engine). Two aggregates and one join on user_id — at 100 TB the
    * first-seen frame is users-sized, orders of magnitude under the
    * event stream it summarizes.
    */
  def cohortRetention(events: DataFrame): DataFrame = {
    val day = floor(unix_timestamp(col("ts")) / lit(86400L)).cast("long")
    val ev = events.select(col("user_id"), day.as("d"))
    val firstSeen = ev.groupBy("user_id").agg(min(col("d")).as("cohort_d"))
    ev.join(firstSeen, "user_id")
      .groupBy(col("cohort_d"), (col("d") - col("cohort_d")).as("offset_d"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Top user journeys: sessionize (30-min gap), take each session's
    * first 5 event types in time order, and count journeys —
    * the path-mining staple. Session assignment is the gaps-and-
    * islands cumulative sum; the path is an ORDER-DETERMINISTIC
    * array built by sorting (ts, event_id) structs inside the session
    * group (array_sort + transform, codegen) rather than trusting
    * collect_list arrival order.
    *
    * Scale: sessions are user-bounded; the heavy operation is one
    * window pass per user (same layout as q27/q28) and a path groupBy
    * whose key space is bounded by |event_types|^5.
    */
  def topJourneys(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val marked = events
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("brk",
        when(lag(col("ts"), 1).over(byUser).isNull ||
          unix_timestamp(col("ts")) -
            unix_timestamp(lag(col("ts"), 1).over(byUser)) >
            30 * 60L, 1L).otherwise(0L))
      .withColumn("sess", sum(col("brk")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val paths = marked
      .groupBy(col("user_id"), col("sess"))
      .agg(collect_list(struct(col("ts"), col("event_id"),
        col("event_type"))).as("evs"))
      .select(concat_ws(">",
        slice(expr("transform(array_sort(evs), e -> e.event_type)"),
          1, 5)).as("path"))
    paths.groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(20)
  }

  /** Apply a CDC changeset to a snapshot (the MERGE INTO / Delta-merge
    * pattern without a table format): `changes` carries the key, an
    * `op` column ('U' = upsert whole row, 'D' = delete), and the same
    * payload columns as `base`. Result = base rows untouched by any
    * change, plus every 'U' row (updates AND inserts — whole-row
    * replace semantics).
    *
    * Shape chosen for scale: anti-join + union, NOT a full-outer join —
    * a changeset is normally orders of magnitude smaller than the
    * snapshot, and a full-outer join can never broadcast, while the
    * LEFT ANTI side here broadcasts the (key) set and the base table
    * never shuffles at all. (If a changeset ever rivals the snapshot,
    * drop the broadcast hint and AQE plans the sort-merge.)
    */
  def mergeApply(base: DataFrame, changes: DataFrame,
                 key: String = "doc_id"): DataFrame = {
    val touched = changes.select(col(key))
    val upserts = changes.filter(col("op") === "U").drop("op")
    base.join(broadcast(touched), Seq(key), "left_anti")
      .unionByName(upserts)
  }

  /** Deequ-style single-pass column profile: per column the row/null/
    * exact-distinct counts, min/max, and the decimal-exact sum — the
    * data-quality gate run before any corpus build or table publish.
    *
    * ONE scan for all columns: Spark plans the multiple
    * count(DISTINCT col) aggregates via a single Expand (row ×
    * (|cols|+1)), each distinct branch partial-aggregating before the
    * exchange — at 100 TB the scan dominates and nothing wide
    * shuffles. Sums are computed in DECIMAL(18,2) (exact, order-
    * independent — a naive double sum is run-order nondeterministic on
    * a cluster) and rounded to double once at the output. n_distinct
    * excludes NULLs (SQL count-distinct semantics both engines); the
    * exact distinct is the profile contract — the streaming/sketch
    * form is HLL (q69) with the same output shape.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = cols.flatMap { c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__n_null"),
      count_distinct(col(c)).as(s"${c}__n_distinct"),
      min(col(c)).cast("double").as(s"${c}__min"),
      max(col(c)).cast("double").as(s"${c}__max"),
      sum(col(c).cast("decimal(18,2)")).cast("double").as(s"${c}__sum"))
    } :+ count(lit(1)).as("__n_rows")
    val row = df.agg(aggs.head, aggs.tail: _*)
    val pieces = cols.map { c =>
      struct(lit(c).as("col_name"),
        col(s"${c}__n_null").as("n_null"),
        col(s"${c}__n_distinct").as("n_distinct"),
        col(s"${c}__min").as("min_v"),
        col(s"${c}__max").as("max_v"),
        col(s"${c}__sum").as("sum_v"))
    }
    row.select(col("__n_rows").as("n_rows"),
        explode(array(pieces: _*)).as("p"))
      .select(col("p.col_name").as("col_name"), col("n_rows"),
        col("p.n_null").as("n_null"), col("p.n_distinct").as("n_distinct"),
        col("p.min_v").as("min_v"), col("p.max_v").as("max_v"),
        col("p.sum_v").as("sum_v"))
      .orderBy("col_name")
  }

  /** Per-key mergeable partial aggregates over an event batch — the
    * unit of incremental view maintenance. Every measure is a
    * commutative monoid (count/sum/min/max), and the sum runs in
    * DECIMAL(28,10): exact and therefore ASSOCIATIVE, so any split of
    * the input into batches merges to the bit-identical total (a
    * double sum would drift with the merge tree). This is how a
    * 100 TB nightly pipeline avoids reprocessing history: yesterday's
    * partials + today's batch → [[mergePartials]].
    */
  def aggPartials(events: DataFrame): DataFrame =
    events.groupBy("event_type").agg(
      count(lit(1)).as("cnt"),
      sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_null"),
      sum(col("value").cast("decimal(28,10)")).as("sum_v"),
      min(col("value")).as("min_v"),
      max(col("value")).as("max_v"))

  /** Merge two partial-aggregate states ([[aggPartials]] outputs) into
    * one — the reduce side of incremental maintenance. CLOSED under
    * composition: the output has the same shape as its inputs (the sum
    * stays decimal), so partials merge pairwise in any tree —
    * yesterday's merged state is just another input tomorrow.
    */
  def mergePartials(base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta).groupBy("event_type").agg(
      sum(col("cnt")).as("cnt"),
      sum(col("n_null")).as("n_null"),
      sum(col("sum_v")).cast("decimal(38,10)").as("sum_v"),
      min(col("min_v")).as("min_v"),
      max(col("max_v")).as("max_v"))

  /** Reporting view of a partial state: one deterministic decimal →
    * double rounding at the very end.
    */
  def finalizePartials(state: DataFrame): DataFrame =
    state.select(col("event_type"), col("cnt"), col("n_null"),
        col("sum_v").cast("double").as("sum_v"),
        col("min_v"), col("max_v"))
      .orderBy("event_type")

  /** Wide→long melt of the lineitem measure family (q116): each row
    * fans out to one (measure, value) pair per column via Spark's
    * native `unpivot` — planned as a single Expand over the scan (one
    * pass, output = rows × |measures|, zero shuffles before the
    * canonical sort). The inverse of q32's pivot; decimal-cast values
    * keep the long table loss-free and cent-exact either direction.
    */
  def unpivotMeasures(lineitem: DataFrame): DataFrame =
    lineitem
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("decimal(18,2)").as("l_quantity"),
        col("l_extendedprice").cast("decimal(18,2)").as("l_extendedprice"),
        col("l_discount").cast("decimal(18,2)").as("l_discount"),
        col("l_tax").cast("decimal(18,2)").as("l_tax"))
      .unpivot(
        ids = Array(col("l_orderkey"), col("l_linenumber")),
        values = Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        variableColumnName = "measure",
        valueColumnName = "value")
      .withColumn("value", col("value").cast("double"))
      .orderBy("l_orderkey", "l_linenumber", "measure")

  /** SCD Type-2 history build (q122): collapse a change stream into
    * validity intervals — the canonical warehouse dimension-load
    * pattern. Per entity, order its observations, keep only CHANGE
    * POINTS (value differs from the previous observation, detected
    * with `lag`), then each change point's interval runs to the next
    * change point's timestamp (`lead` over the filtered set);
    * `valid_to IS NULL` marks the current version.
    *
    * Scale: exactly two window passes over one hash-partitioning on
    * the entity key (Catalyst reuses the exchange — both windows sort
    * within the same partitioning), no joins, no data blowup: output
    * ≤ input, usually ≪.
    *
    * Here the tracked attribute is each customer's order status over
    * o_orderdate (tie-broken by o_orderkey so change detection is
    * deterministic under same-timestamp observations).
    */
  def scd2History(orders: DataFrame): DataFrame = {
    val obsW = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val changes = orders
      .select(col("o_custkey"), col("o_orderstatus"), col("o_orderdate"),
        col("o_orderkey"))
      .withColumn("prev", lag(col("o_orderstatus"), 1).over(obsW))
      .filter(col("prev").isNull || col("prev") =!= col("o_orderstatus"))
    val chW = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    changes
      .withColumn("valid_to_ts", lead(col("o_orderdate"), 1).over(chW))
      .withColumn("version", row_number().over(chW))
      .select(col("o_custkey"), col("o_orderstatus").as("status"),
        col("o_orderdate").as("valid_from_ts"), col("valid_to_ts"),
        col("version"),
        col("valid_to_ts").isNull.as("is_current"))
  }

  /** Join fan-out audit (q164) — the pre-flight a 100 TB join should
    * always run: per-key multiplicities on BOTH sides collapse to a
    * (multiplicity-left × multiplicity-right) histogram whose
    * Σ n_keys·ml·mr IS the exact join output cardinality, and whose
    * tail rows are the skew keys AQE or salting must handle. The
    * histogram is computed from two keyed counts (map-side combined)
    * joined full-outer — never from the join itself, which is the
    * point: you learn the blow-up factor without paying it.
    * Emits one row per (ml, mr) multiplicity class: key count, the
    * exact output rows that class contributes, plus each class's
    * min key as the skew exemplar.
    */
  def joinFanoutAudit(left: DataFrame, right: DataFrame,
                      leftKey: String, rightKey: String): DataFrame = {
    val l = left.groupBy(col(leftKey).as("k"))
      .agg(count(lit(1)).as("ml"))
    val r = right.groupBy(col(rightKey).as("k"))
      .agg(count(lit(1)).as("mr"))
    l.join(r, Seq("k"), "full_outer")
      .na.fill(0L, Seq("ml", "mr"))
      .groupBy(col("ml"), col("mr"))
      .agg(count(lit(1)).as("n_keys"), min(col("k")).as("example_key"),
        (count(lit(1)) * first(col("ml")) * first(col("mr")))
          .as("out_rows"))
      .select(col("ml"), col("mr"), col("n_keys"), col("out_rows"),
        col("example_key"))
  }

  /** Market-basket pair mining (q165) — co-occurrence of parts within
    * an order: pair support counts and lift
    * (support·N / (cnt_a·cnt_b)). The pair space is bounded by the
    * per-basket line count (C(lines,2) per order — baskets are small
    * by business construction), NOT by the catalog; the self-join is
    * keyed on the basket id so pairs never leave their partition
    * until the (a,b) support aggregate.
    */
  def marketBasketPairs(lineitem: DataFrame): DataFrame = {
    // (oid, part) basket items feed FIVE consumers (pair self-join ×2,
    // part frequency ×2 via aliased projections, order count); without
    // materialization each re-derives the scan+distinct — the r16 plan
    // read counted 10 lineitem scans in this one query. Checkpoint the
    // one distinct pass instead (same multi-reference discipline as
    // prefixFilterJaccardPairs).
    val items = lineitem.select(col("l_orderkey").as("oid"),
      col("l_partkey").as("part")).distinct().localCheckpoint(true)
    val nOrders = items.select(col("oid")).distinct()
      .agg(count(lit(1)).as("n_orders"))
    val freq = items.groupBy(col("part")).agg(count(lit(1)).as("cnt"))
    val pairs = items.as("a").join(items.as("b"),
        col("a.oid") === col("b.oid") && col("a.part") < col("b.part"))
      .groupBy(col("a.part").as("part_a"), col("b.part").as("part_b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= 3L)
    val scored = pairs
      .join(freq.select(col("part").as("part_a"), col("cnt").as("cnt_a")),
        "part_a")
      .join(freq.select(col("part").as("part_b"), col("cnt").as("cnt_b")),
        "part_b")
      .crossJoin(broadcast(nOrders))
      .withColumn("lift",
        col("support") * col("n_orders") / (col("cnt_a") * col("cnt_b")))
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("support").desc, col("part_a").asc,
      col("part_b").asc)
    // global top-k as TakeOrderedAndProject (per-partition partial
    // top-k, no global sort — Spark never WindowGroupLimits an
    // UNpartitioned rank window), then number the 50 survivors with
    // the trivial window
    scored.orderBy(col("support").desc, col("part_a").asc,
        col("part_b").asc)
      .limit(50)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("part_a"), col("part_b"), col("support"),
        col("cnt_a"), col("cnt_b"),
        (floor(col("lift") * 10000 + lit(0.5)) / 10000).as("lift"))
  }

  /** GDPR erasure-cascade audit (q169) — the right-to-be-forgotten
    * pre-flight: given a deletion cohort (here hash-selected, the
    * q157 content-addressed convention — in production the DSR
    * queue), report what a cascading delete would touch BEFORE
    * running it: direct customer rows, orders via the FK, lineitems
    * via the order FK — per table the purged row count, the distinct
    * root subjects implicated, and a tombstone-manifest fingerprint
    * (commutative key sum, q157's integrity convention) the actual
    * deletion job must reproduce.
    *
    * Scale: the cohort derives from a scan predicate (no list
    * shipping); each cascade level is one semi-join down the FK
    * chain — the same joins the delete itself would run, minus the
    * writes.
    */
  def erasureAudit(customer: DataFrame, orders: DataFrame,
                   lineitem: DataFrame): DataFrame = {
    val spark = customer.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val cohort = customer.filter(
      pmod(graft.functions.GraftFunctions.hash64Seeded(lit(13L),
        col("c_custkey").cast("string")), lit(ErasureModulus.toLong)) === 0L)
      .select(col("c_custkey"))
    val ords = orders.join(cohort, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"))
    val lines = lineitem.join(ords,
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("o_custkey"))
    def manifest(df: DataFrame, table: String,
                 keyExpr: org.apache.spark.sql.Column,
                 subject: org.apache.spark.sql.Column) =
      df.agg(count(lit(1)).as("n_rows"),
        countDistinct(subject).as("n_subjects"),
        sum(keyExpr.cast("decimal(38,0)")).cast("decimal(38,0)")
          .cast("string").as("key_fingerprint"))
        .select(lit(table).as("table_name"), col("n_rows"),
          col("n_subjects"), col("key_fingerprint"))
    manifest(cohort, "customer", col("c_custkey"), col("c_custkey"))
      .unionByName(manifest(ords, "orders", col("o_orderkey"),
        col("o_custkey")))
      .unionByName(manifest(lines, "lineitem",
        col("l_orderkey") * 10 + col("l_linenumber"), col("o_custkey")))
  }

  /** A/B experiment readout with CUPED (q167) — Deng et al., WSDM'13:
    * hash-assign users to arms (content-addressed, the q30/q157
    * convention), take each user's PRE-period metric as the
    * covariate, and report per-arm means of both the raw post-period
    * metric and the CUPED-adjusted one
    *   y* = y − θ·(x − x̄),  θ = cov(x,y)/var(x)
    * which strips the pre-existing between-user variance out of the
    * readout. DETERMINISM: per-user metrics are CENT-INTEGER sums
    * (exact longs), so every corpus-level Σx, Σy, Σxy, Σx² is exact
    * in DECIMAL(38,0)/HUGEINT; θ, x̄ and the arm means are then a
    * FIXED five-op IEEE formula over those exact integers —
    * bit-identical cross-engine, no order-dependent double folds.
    *
    * Scale: one scan to per-user cents (map-side combined), one
    * KB-scale moment aggregate, one broadcast back. The experiment
    * readout is a 2-row frame.
    */
  def abCuped(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val split = to_timestamp(lit(CupedSplitTs))
    val cents = floor(col("value") * 100 + lit(0.5)).cast("long")
    val perUser = events.filter(col("value").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("ts") < split, cents).otherwise(0L)).as("x_c"),
        sum(when(col("ts") >= split, cents).otherwise(0L)).as("y_c"))
      .withColumn("arm",
        pmod(graft.functions.GraftFunctions.hash64Seeded(lit(11L),
          col("user_id").cast("string")), lit(2L)))
    val dec = "decimal(38,0)"
    val mom = perUser.agg(
      count(lit(1)).as("n"),
      sum(col("x_c")).cast(dec).as("sx"),
      sum(col("y_c")).cast(dec).as("sy"),
      sum(col("x_c").cast(dec) * col("y_c").cast(dec)).as("sxy"),
      sum(col("x_c").cast(dec) * col("x_c").cast(dec)).as("sxx"))
    // θ = (n·Σxy − ΣxΣy) / (n·Σx² − (Σx)²): one division over exact
    // integers; x̄ likewise. Both engines read the same decimals.
    // zero pre-period variance (the split before all events, or constant
    // covariate) makes the denominator 0 and theta 0/0 = NaN — which
    // the r4 floor would silently coerce into a garbage adjusted mean.
    // theta = 0 is the correct degenerate fallback: CUPED with a
    // useless covariate reduces to the unadjusted mean.
    val thetaDen =
      (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val withTheta = perUser.crossJoin(broadcast(mom))
      .withColumn("theta", when(thetaDen =!= 0.0,
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          thetaDen).otherwise(0.0))
      .withColumn("xbar", col("sx").cast("double") / col("n").cast("double"))
    withTheta
      .groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("y_c")).cast(dec).as("sy_a"),
        sum(col("x_c")).cast(dec).as("sx_a"),
        first(col("theta")).as("theta"), first(col("xbar")).as("xbar"))
      .select(col("arm"), col("n_users"),
        (floor((col("sy_a").cast("double") / col("n_users").cast("double")
          / 100.0) * 10000 + lit(0.5)) / 10000).as("mean_y"),
        (floor((col("sy_a").cast("double") / col("n_users").cast("double")
          / 100.0 -
          col("theta") * (col("sx_a").cast("double")
            / col("n_users").cast("double") / 100.0
            - col("xbar") / 100.0)) * 10000 + lit(0.5)) / 10000)
          .as("mean_y_adj"),
        (floor(col("theta") * 10000 + lit(0.5)) / 10000).as("theta"))
  }

  /** Kaplan–Meier survival curve (q166) — time-to-event analytics
    * over the funnel: duration = days from a user's first 'view' to
    * their first subsequent 'purchase'; users who never purchase are
    * RIGHT-CENSORED at the observation end (global max ts — the
    * estimator's whole point is that censored users still count in
    * the at-risk denominator until they drop out). At each distinct
    * event day t: n_t = |{duration ≥ t}| (events + censored),
    * d_t = events at t, Ŝ(t) = Π_{s≤t} (1 − d_s/n_s).
    *
    * Determinism: counts are integers; the survival product folds in
    * ascending-t order on both engines (a per-curve `aggregate` over
    * the ≤|window-days| day list here, DuckDB's sequential window
    * `product()` there) — the same IEEE multiply sequence.
    *
    * Scale: per-user firsts are two keyed min-aggregates; the at-risk
    * counts join users against the ≤|days| broadcast day frame; the
    * curve fold touches one bounded list. Nothing scans history
    * twice.
    */
  def kaplanMeier(events: DataFrame): DataFrame = {
    val v = events.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
    val p = events.filter(col("event_type") === "purchase").as("e")
      .join(v.as("v"), col("e.user_id") === col("v.user_id"))
      .filter(col("e.ts") > col("t0"))
      .groupBy(col("e.user_id").as("user_id"))
      .agg(min(col("e.ts")).as("te"))
    val obsEnd = events.agg(max(col("ts")).as("t_max"))
    val durations = v.join(p, Seq("user_id"), "left")
      .crossJoin(broadcast(obsEnd))
      .select(col("user_id"),
        floor((unix_micros(coalesce(col("te"), col("t_max"))) -
          unix_micros(col("t0"))) / 86400000000L).cast("long").as("dur"),
        col("te").isNotNull.as("observed"))
    val deaths = durations.filter(col("observed"))
      .groupBy(col("dur").as("t")).agg(count(lit(1)).as("d"))
    val atRisk = durations.crossJoin(broadcast(deaths.select(col("t"))))
      .filter(col("dur") >= col("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n_risk"))
    val curveIn = deaths.join(atRisk, Seq("t"))
      .groupBy()
      .agg(sort_array(collect_list(struct(col("t"), col("n_risk"),
        col("d")))).as("xs"))
    val folded = aggregate(col("xs"),
      expr("CAST(array() AS ARRAY<STRUCT<t: BIGINT, n_risk: BIGINT," +
        " d: BIGINT, s: DOUBLE>>)"),
      (acc, x) => {
        val prev = when(size(acc) === 0, lit(1.0))
          .otherwise(element_at(acc, size(acc)).getField("s"))
        concat(acc, array(struct(
          x.getField("t").as("t"), x.getField("n_risk").as("n_risk"),
          x.getField("d").as("d"),
          (prev * (lit(1.0) - x.getField("d").cast("double") /
            x.getField("n_risk").cast("double"))).as("s"))))
      })
    curveIn.select(explode(folded).as("r"))
      .select(col("r.t").as("t_days"), col("r.n_risk").as("n_risk"),
        col("r.d").as("d_events"),
        (floor(col("r.s") * 10000 + lit(0.5)) / 10000).as("survival"))
  }

  /** Incremental sessionization with state handoff (q162) — the
    * batch-boundary form of q28's session windows, and the IVM
    * pattern (q105) applied to gaps-and-islands: sessionize each
    * ingest chunk INDEPENDENTLY, carry the per-user sessions still
    * open at the boundary (s_end within the 30-minute gap of the split), and
    * stitch: a chunk-B first session merges into the carried session
    * iff its first event falls within the gap of the carried end —
    * closed-A sessions can never merge because closure already
    * implies a ≥gap distance to anything at or past the split.
    * CORRECTNESS IS PROVEN BY THE ORACLE CHOICE: the DuckDB oracle
    * sessionizes the WHOLE stream globally — hash equality certifies
    * the handoff is lossless, chunk by chunk.
    *
    * Scale: this is how 100 TB of history sessionizes at all — one
    * bounded chunk per run plus an O(users) carry frame, instead of
    * re-sorting all history; each chunk's windows partition by user.
    */
  def incrementalSessions(events: DataFrame, splitTs: String): DataFrame = {
    val gapUs = 30 * 60000000L
    def sessionize(df: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val prev = lag(col("ts"), 1).over(w)
      val brk = when(prev.isNull ||
        unix_micros(col("ts")) - unix_micros(prev) > gapUs, 1L)
        .otherwise(0L)
      df.withColumn("brk", brk)
        .withColumn("sid", sum(col("brk"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sid"))
        .agg(min(col("ts")).as("s_start"), max(col("ts")).as("s_end"),
          count(lit(1)).as("n_events"), sum(col("value")).as("total"))
        .drop("sid")
    }
    val split = to_timestamp(lit(splitTs))
    val a = sessionize(events.filter(col("ts") < split))
    val b = sessionize(events.filter(col("ts") >= split))
    val open = unix_micros(col("s_end")) + gapUs >= unix_micros(split)
    val carryA = a.filter(open)
    val closedA = a.filter(!open)
    val wB = Window.partitionBy(col("user_id"))
      .orderBy(col("s_start"), col("s_end"))
    val bRanked = b.withColumn("rn", row_number().over(wB))
    val firstB = bRanked.filter(col("rn") === 1).drop("rn")
    val restB = bRanked.filter(col("rn") > 1).drop("rn")
    val j = carryA.select(col("user_id"), col("s_start").as("a_start"),
        col("s_end").as("a_end"), col("n_events").as("a_n"),
        col("total").as("a_total"))
      .join(firstB.select(col("user_id"), col("s_start").as("b_start"),
        col("s_end").as("b_end"), col("n_events").as("b_n"),
        col("total").as("b_total")), Seq("user_id"), "full_outer")
    def sess(s: org.apache.spark.sql.Column, e: org.apache.spark.sql.Column,
             n: org.apache.spark.sql.Column, t: org.apache.spark.sql.Column) =
      struct(s.as("s_start"), e.as("s_end"), n.as("n_events"), t.as("total"))
    val aS = sess(col("a_start"), col("a_end"), col("a_n"), col("a_total"))
    val bS = sess(col("b_start"), col("b_end"), col("b_n"), col("b_total"))
    val mergeCond = col("a_end").isNotNull && col("b_start").isNotNull &&
      (unix_micros(col("b_start")) - unix_micros(col("a_end")) <= gapUs)
    // the stitched total must match SQL sum() over the merged session:
    // null-sided sums add as zero, but BOTH-null stays NULL (sum over
    // no non-null values) — plain a+b would null the whole total when
    // one chunk's events are all null-valued
    val mergedTotal = when(col("a_total").isNull && col("b_total").isNull,
        lit(null))
      .otherwise(coalesce(col("a_total"), lit(0L)) +
        coalesce(col("b_total"), lit(0L)))
    val stitched = j.select(col("user_id"), explode(
        when(mergeCond, array(sess(col("a_start"), col("b_end"),
          col("a_n") + col("b_n"), mergedTotal)))
          .when(col("a_end").isNull, array(bS))
          .when(col("b_start").isNull, array(aS))
          .otherwise(array(aS, bS))).as("s"))
      .select(col("user_id"), col("s.s_start").as("s_start"),
        col("s.s_end").as("s_end"), col("s.n_events").as("n_events"),
        col("s.total").as("total"))
    closedA.unionByName(stitched).unionByName(restB)
  }

  /** k-anonymity / l-diversity audit (q161) — the privacy-governance
    * side of the PII family (q38/q90/q144 find identifiers; this
    * finds RE-identification risk): group individuals by their
    * quasi-identifier tuple (nation, market segment, balance band)
    * and flag groups smaller than k = 5 (re-identifiable, Sweeney 2002)
    * or with fewer than l = 2 distinct sensitive values (attribute
    * disclosure, Machanavajjhala 2007 — here the binary "in debt"
    * flag: an l=1 group tells you every member's status).
    *
    * Scale: one groupBy on the QI tuple (map-side combined), one
    * distinct-count; the report is |QI-space| rows. No joins.
    */
  def kAnonymityAudit(customer: DataFrame, orders: DataFrame): DataFrame = {
    // sensitive value per individual: FIRST order's priority —
    // independent of the QI tuple (a sensitive attribute the QI can
    // derive is l=1 by construction and audits nothing)
    // min_by key is a lexicographic (date, orderkey) string: DuckDB's
    // min_by has no struct-key overload, strings order identically
    val firstPrio = orders
      .groupBy(col("o_custkey"))
      .agg(min_by(col("o_orderpriority"),
        concat(date_format(col("o_orderdate"), "yyyyMMddHHmmss"),
          lpad(col("o_orderkey").cast("string"), 12, "0"))).as("sensitive"))
    val bucket = floor(col("c_acctbal") / 5000).cast("long")
    customer
      .join(firstPrio, col("c_custkey") === col("o_custkey"), "left")
      .na.fill("NONE", Seq("sensitive"))
      .select(col("c_nationkey").cast("long").as("nation"),
        col("c_mktsegment").as("segment"), bucket.as("bal_bucket"),
        col("sensitive"))
      .groupBy("nation", "segment", "bal_bucket")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("sensitive")).as("l_distinct"))
      .select(col("nation"), col("segment"), col("bal_bucket"), col("n"),
        col("l_distinct"),
        (col("n") < 5).as("at_risk_k"),
        (col("l_distinct") < 2).as("at_risk_l"))
  }

  /** Peak concurrency per day (q154) — the classic interval sweep
    * (+1 at start, −1 at end, running max), made cluster-safe: a
    * GLOBAL sweep needs a total order over all boundaries, so instead
    * the sweep is PARTITIONED BY DAY with an exact carry-in — the
    * count of intervals that started before the day and are still
    * open at its first instant. Durations are bounded (here ≤ ~2 h,
    * derived deterministically from event_id: sessions are capped in
    * any real tracker), so an interval crosses at most one midnight
    * and the carry is a single previous-day aggregate, not a scan of
    * all history. Intervals are half-open [start, end): at a shared
    * instant, ends sort before starts (delta ASC), so back-to-back
    * sessions never double-count.
    *
    * Boundary bookkeeping (all integer µs — bit-exact on any engine):
    *   end < next midnight  → −1 in the start's day at end;
    *   end > next midnight  → −1 in the NEXT day at end, +1 carry
    *                          there (they cancel at day close);
    *   end = next midnight  → nothing (open-until-midnight exactly).
    * peak(d) = max(carry_in, running max) — a day of only ends never
    * reports below its opening count.
    */
  def peakConcurrency(events: DataFrame): DataFrame = {
    val dayUs = unix_micros(date_trunc("day", col("ts")))
    val iv = events.select(
      col("event_id"),
      unix_micros(col("ts")).as("s_us"),
      (unix_micros(col("ts")) +
        (pmod(col("event_id"), lit(7200L)) + 60L) * 1000000L).as("e_us"),
      dayUs.as("d_us"),
      (dayUs + 86400000000L).as("nd_us"))
    val starts = iv.select(col("d_us"), col("s_us").as("t_us"),
      lit(1L).as("delta"), col("event_id"))
    val endsSame = iv.filter(col("e_us") < col("nd_us"))
      .select(col("d_us"), col("e_us").as("t_us"),
        lit(-1L).as("delta"), col("event_id"))
    val endsNext = iv.filter(col("e_us") > col("nd_us"))
      .select(col("nd_us").as("d_us"), col("e_us").as("t_us"),
        lit(-1L).as("delta"), col("event_id"))
    val carry = iv.filter(col("e_us") > col("nd_us"))
      .groupBy(col("nd_us").as("d_us"))
      .agg(count(lit(1)).as("carry_in"))
    val deltas = starts.unionByName(endsSame).unionByName(endsNext)
    val w = Window.partitionBy(col("d_us"))
      .orderBy(col("t_us"), col("delta"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas
      .join(carry, Seq("d_us"), "left").na.fill(0L, Seq("carry_in"))
      .withColumn("running", col("carry_in") + sum(col("delta")).over(w))
      .groupBy(col("d_us"), col("carry_in"))
      .agg(
        sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_starts"),
        sum(when(col("delta") === -1L, 1L).otherwise(0L)).as("n_ends"),
        greatest(max(col("running")), first(col("carry_in"))).as("peak"))
      .select(
        date_format(timestamp_micros(col("d_us")), "yyyy-MM-dd").as("day"),
        col("carry_in"), col("n_starts"), col("n_ends"), col("peak"))
  }

  /** Marketing-style touch attribution (q133): each purchase's value
    * is credited to the FIRST and to the LAST qualifying touch (click/
    * view) by the same user within the lookback window [t−w, t);
    * purchases with no in-window touch credit 'direct'. Emits the long
    * report (model ∈ {first, last}) × touch_type with purchase counts
    * and attributed revenue — the standard last-touch dashboard next
    * to its first-touch counterpart.
    *
    * Determinism: the first/last touch per purchase is min/max of
    * struct(ts, event_id, type) — lexicographic, total, no float
    * involvement; revenue sums ride q86's float contract (r4 under
    * the oracle).
    *
    * Scale: one user-keyed sort-merge join with the range predicate as
    * the join residual (touches per purchase bounded by the lookback
    * window), the per-purchase reduction is a struct min/max (no
    * window sort), `direct` is the anti-join remainder, and the final
    * rollup is a 10-row aggregate.
    */
  def touchAttribution(events: DataFrame): DataFrame = {
    val touches = events.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("ts").as("t_ts"),
        col("event_id").as("t_id"), col("event_type").as("t_type"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"),
        col("event_id").as("p_id"), col("value"))
    val cond = col("t_ts") >= col("p_ts") - expr("INTERVAL 1 hour") &&
      col("t_ts") < col("p_ts")
    val matched = purchases.join(touches, Seq("user_id"))
      .filter(cond)
      .groupBy(col("p_id"), col("value"))
      .agg(
        min(struct(col("t_ts"), col("t_id"), col("t_type"))).as("ft"),
        max(struct(col("t_ts"), col("t_id"), col("t_type"))).as("lt"))
      .select(col("p_id"), col("value"),
        col("ft.t_type").as("first_touch"), col("lt.t_type").as("last_touch"))
    val directP = purchases.as("p").join(touches.as("t"),
        col("p.user_id") === col("t.user_id") && cond, "left_anti")
      .select(col("p_id"), col("value"),
        lit("direct").as("first_touch"), lit("direct").as("last_touch"))
    val per = matched.unionByName(directP)
    val first = per.groupBy(col("first_touch").as("touch_type"))
      .agg(count(lit(1)).as("n_purchases"), sum(col("value")).as("revenue"))
      .select(lit("first").as("model"), col("touch_type"),
        col("n_purchases"), col("revenue"))
    val last = per.groupBy(col("last_touch").as("touch_type"))
      .agg(count(lit(1)).as("n_purchases"), sum(col("value")).as("revenue"))
      .select(lit("last").as("model"), col("touch_type"),
        col("n_purchases"), col("revenue"))
    first.unionByName(last)
  }

  /** Grouped 2-D skyline / Pareto frontier (q170) — within each group,
    * the rows not DOMINATED by any other row, where maximizing `xCol`
    * and minimizing `yCol` are the two objectives (a dominates b iff
    * a.x ≥ b.x ∧ a.y ≤ b.y with at least one strict; equal points
    * never dominate each other, so exact duplicates all survive).
    *
    * Spark-first reduction instead of the NOT-EXISTS self-join the
    * textbook definition suggests: (1) collapse to one candidate per
    * (group, x) — min y, since any same-x larger-y row is dominated;
    * (2) over each group's DISTINCT x values, descending, take the
    * running min of y STRICTLY ABOVE the current row (frame ends at
    * -1 preceding) — a frontier x is one whose min-y beats every
    * larger x's; (3) join the surviving (group, x, y) points back to
    * recover full rows (ties at the exact frontier point all kept).
    *
    * Scale: step 1 is one map-side-combined shuffle; step 2's window
    * runs over ≤|distinct x per group| CANDIDATE POINTS, not rows —
    * the per-group sort is the O(n log n) lower bound for 2-D skyline
    * but its input is already collapsed; step 3 is a join on
    * (group, x) that reuses step 1's partitioning. Both objective
    * columns must be exact integers (cents, counts) so cross-engine
    * comparisons are bit-exact.
    *
    * The input is traversed TWICE (candidate collapse + join-back);
    * if df carries an expensive lineage (joins/aggregations), the
    * caller should localCheckpoint it first — see q170.
    */
  def skyline2d(df: DataFrame, groupCol: String, xCol: String,
                yCol: String): DataFrame = {
    val perX = df.groupBy(col(groupCol), col(xCol))
      .agg(min(col(yCol)).as("__y_min"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col(xCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = perX
      .withColumn("__y_gt", min(col("__y_min")).over(w))
      // strictly-better-y than every strictly-larger x (ties in y at a
      // larger x dominate too, hence <, not <=)
      .filter(col("__y_gt").isNull || col("__y_min") < col("__y_gt"))
      // fresh names: frontier derives from df, so joining on df(...)
      // attributes would be an ambiguous self-join
      .select(col(groupCol).as("__g"), col(xCol).as("__x"),
        col("__y_min"))
    df.join(frontier,
        col(groupCol) <=> col("__g") && col(xCol) <=> col("__x") &&
          col(yCol) <=> col("__y_min"))
      .select(df.columns.toIndexedSeq.map(col): _*)
  }

  /** Benford first-digit audit (q175) — financial-forensics data
    * quality: per group, the distribution of the FIRST SIGNIFICANT
    * DIGIT of a positive amount column vs Benford's law
    * P(d) = log10(1 + 1/d). Fabricated or truncated feeds show up as
    * large deviations (Nigrini 2012); a synthetic uniform feed (like
    * this test data) deviates everywhere — the audit's whole point is
    * the dev column, not a pass/fail.
    *
    * Determinism: the amount becomes exact integer cents
    * (floor(x·100+0.5)), the first digit comes from the integer's
    * decimal string (integer→string is engine-independent, unlike
    * float→string or log10 at boundaries), and the expected
    * probabilities are fixed micro-unit literals, so
    * dev_micro = obs·10⁶ − n·p_micro is pure BIGINT arithmetic.
    *
    * Scale: one scan, one (group, digit) map-side-combined aggregate
    * (≤ 9·|groups| cells), one broadcast of the 9-row expectation
    * table. No joins against data-sized frames.
    */
  def benfordAudit(df: DataFrame, groupCol: String,
                   valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val expected = benfordMicro.toDF("digit", "p_micro")
    val cents = floor(col(valueCol) * 100 + lit(0.5)).cast("long")
    val counts = df.filter(col(valueCol) > 0)
      .select(col(groupCol),
        substring(cents.cast("string"), 1, 1).cast("int").as("digit"))
      // cents = 0 (0 < value < 0.005) has no first significant digit
      // at cent precision: exclude BEFORE the totals, so n counts only
      // digit-1..9 rows — otherwise such rows inflate n yet vanish at
      // the expectation join, skewing every reported deviation
      .filter(col("digit") >= 1)
      .groupBy(col(groupCol), col("digit"))
      .agg(count(lit(1)).as("obs"))
    val totals = counts.groupBy(col(groupCol))
      .agg(sum(col("obs")).as("n"))
    counts
      .join(totals, Seq(groupCol))
      .join(broadcast(expected), Seq("digit"))
      .select(col(groupCol), col("digit"), col("obs"), col("n"),
        (col("obs") * 1000000L - col("n") * col("p_micro")).as("dev_micro"))
  }

  /** round(10⁶·log10(1+1/d)) for d = 1..9 — fixed literals shared with
    * the DuckDB oracle's VALUES clause so no libm log10 enters the
    * correctness gate.
    */
  private[graft] val benfordMicro: Seq[(Int, Long)] = Seq(
    1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)

  /** Gini concentration audit (q179) — per group, how unequally an
    * integer weight is spread over its items (Lorenz-curve Gini via
    * the rank identity G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over items
    * sorted ascending). For a training-data pipeline this is the
    * imbalance red-flag: a source/topic/item family where a few keys
    * hold most of the mass (G→1) needs capping or resampling before
    * it skews the mixture; G≈0 is uniform coverage.
    *
    * Zero-weight items count (a part nobody ordered IS inequality),
    * so the count left-joins from the item dimension. All moments
    * accumulate in DECIMAL(38,0): i·x reaches |items|·Σx, far past a
    * long at warehouse scale. One division at the end. The per-group
    * ranks ride [[graft.operators.ScaleOps.groupedRank]]'s range
    * shuffle — exact-Gini's O(n log n) sort cost spread over the
    * cluster rather than one task per group, since groups (types,
    * sources) are schema-bounded while items are entity-sized (the
    * approximate path at extreme cardinality is a histogram Lorenz
    * curve — q63's sketch — not a bigger sort).
    */
  def giniConcentration(items: DataFrame, weights: DataFrame,
                        groupCol: String, itemKey: String,
                        weightKey: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cnt = items
      .join(weights, col(weightKey) === col(itemKey), "left")
      .groupBy(col(groupCol), col(itemKey))
      .agg(count(col(weightKey)).as("x"))
    ScaleOps.groupedRank(cnt, Seq(groupCol),
        Seq(col("x").asc, col(itemKey).asc), rankCol = "i")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_items"),
        sum(col("x")).as("total"),
        sum((col("i") * col("x")).cast(dec)).as("six"))
      .select(col(groupCol), col("n_items"), col("total"),
        // total = 0 (every item zero-weighted) makes the statistic
        // undefined — report NULL, not the floor(NaN)=0.0 that would
        // read as "perfect equality" for exactly the degenerate group
        when(col("total") =!= 0L,
          floor((lit(2).cast(dec) * col("six") -
            (col("n_items") + 1L).cast(dec) * col("total").cast(dec))
            .cast("double") /
            (col("n_items").cast(dec) * col("total").cast(dec))
              .cast("double") * 10000 + lit(0.5)) / 10000).as("gini"))
  }
}
