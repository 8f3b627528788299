package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{AsOfJoin, Dedup, EntityResolution, GraphOps, Multimodal, PriceAlerts, Relational, Similarity, Sketches, TextAnalysis, TimeSeries}
import graft.QueryHelpers._

/** Inline analytics, q150-q229: conformance-tier statistics over the TPC-H schema.
  *
  * Registry split out of SparkEntry (round 9): the maps below are
  * merged back into `SparkEntry.queries` / `SparkEntry.oracleSql`,
  * so names, semantics, and the DuckDB-oracle pairing are unchanged.
  */
object StatsQueriesB {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // TPC-H Q7 shape (cross-nation volume shipping): the OR'd
    // nation-pair predicate sits on the broadcast n1×n2 pair frame,
    // by-year rollup of bilateral trade.
    "q163_volume_shipping" -> ((s, dir) => {
      val n1 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      val pairs = n1.crossJoin(broadcast(n2)).filter(
        (col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
          (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1998-01-01"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(pairs),
          col("s_nationkey") === col("s_nk") &&
            col("c_nationkey") === col("c_nk"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("vol"), count(lit(1)).as("n_items"))
        .select(col("supp_nation"), col("cust_nation"), col("l_year"),
          r2(col("vol")).as("volume"), col("n_items"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),


    // TPC-H Q5 shape (local supplier volume): region-filtered 6-table
    // join with the dual nation-key condition (customer and supplier
    // in the SAME nation) — the classic join-order/broadcast stress.
    // region/nation broadcast; customer×orders and lineitem×supplier
    // shuffle on their natural keys; the c_nationkey = s_nationkey
    // equality rides the join condition, never a post-filter.
    "q150_local_supplier_volume" -> ((s, dir) => {
      val n = Tables.nation(s, dir)
        .join(Tables.region(s, dir).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01"))
      Tables.lineitem(s, dir)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, dir),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("rev"), count(lit(1)).as("n_items"))
        .select(col("n_name"), r2(col("rev")).as("revenue"), col("n_items"))
        .orderBy(col("revenue").desc, col("n_name").asc)
    }),


    // TPC-H Q13 shape (customer order-count distribution): the left
    // join carries the priority filter IN THE JOIN CONDITION (a WHERE
    // would turn it inner and drop zero-order customers), then two
    // cascading aggregations — the second runs on the tiny
    // (count, custdist) domain.
    "q171_order_count_distribution" -> ((s, dir) => {
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir),
          col("o_custkey") === col("c_custkey") &&
            col("o_orderpriority") =!= lit("1-URGENT"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),


    // TPC-H Q17 shape (small-quantity revenue): the classic correlated
    // per-part average decorrelated into a WINDOW over l_partkey — the
    // shuffle for the brand-filtered join on l_partkey is the SAME
    // hash partitioning the window needs, so Catalyst reuses one
    // exchange instead of the textbook self-join's two. Quantities are
    // integral doubles, so the per-part mean is an exact-sum/count
    // division on both engines; revenue folds integer cents.
    "q172_small_qty_revenue" -> ((s, dir) => {
      val brands = Seq("Brand#1", "Brand#2", "Brand#3")
      import org.apache.spark.sql.expressions.Window
      val li = Tables.lineitem(s, dir)
        .join(Tables.part(s, dir).filter(col("p_brand").isin(brands: _*)),
          col("p_partkey") === col("l_partkey"))
      val w = Window.partitionBy(col("l_partkey"))
      li.withColumn("aq", avg(col("l_quantity")).over(w))
        .filter(col("l_quantity") < lit(0.5) * col("aq"))
        .groupBy(col("p_brand"))
        .agg(
          r2(sum(floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long"))
            / 100.0 / 7.0).as("avg_yearly"),
          count(lit(1)).as("n_small"))
        .orderBy("p_brand")
    }),


    // TPC-H Q21 shape (suppliers who kept orders waiting), re-keyed to
    // this schema: in 'F' orders with ≥2 distinct suppliers, the ONE
    // supplier whose lines were returned when nobody else's were. The
    // EXISTS / NOT-EXISTS pair becomes one per-order aggregate (two
    // distinct-counts) joined back — both shuffles share the orderkey
    // partitioning; supplier is broadcast.
    "q173_waiting_suppliers" -> ((s, dir) => {
      val fLines = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"))
      val perOrder = fLines
        .groupBy(col("l_orderkey").as("ok"))
        .agg(countDistinct(col("l_suppkey")).as("n_supps"),
          countDistinct(when(col("l_returnflag") === "R", col("l_suppkey")))
            .as("n_ret"))
        .filter(col("n_supps") >= 2 && col("n_ret") === 1)
      val blamed = Tables.lineitem(s, dir)
        .filter(col("l_returnflag") === "R")
        .join(perOrder, col("l_orderkey") === col("ok"))
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
      blamed
        .join(broadcast(Tables.supplier(s, dir)),
          col("s_suppkey") === col("l_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name").asc)
        .limit(25)
    }),


    // TPC-H Q22 shape (rich-but-inactive customers): global
    // positive-balance average as a broadcast scalar, an anti-join
    // against urgent orders, nation rollup. The threshold compare is
    // exact integer cross-multiplication (bal_c·n > Σbal_c) — no
    // division, no float-order sensitivity in the average.
    "q174_inactive_rich_customers" -> ((s, dir) => {
      val dec = "decimal(38,0)"
      val c = Tables.customer(s, dir)
        .withColumn("bal_c",
          floor(col("c_acctbal") * 100 + lit(0.5)).cast("long"))
      val mom = c.filter(col("c_acctbal") > 0.0)
        .agg(sum(col("bal_c")).cast(dec).as("s_c"), count(lit(1)).as("n"))
      val urgent = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      c.crossJoin(broadcast(mom))
        .filter(col("bal_c").cast(dec) * col("n") > col("s_c"))
        .join(urgent, col("o_custkey") === col("c_custkey"), "left_anti")
        .join(broadcast(Tables.nation(s, dir)),
          col("n_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_custs"),
          (sum(col("bal_c")) / 100.0).as("total_bal"))
        .orderBy("n_name")
    }),


    // Share-of-total with top-N + OTHER rollup (the standard BI
    // reporting shape): per region, each nation's revenue share; the
    // top 2 nations keep their names, the tail folds into 'OTHER'.
    // All shares are integer-permille over exact cent sums.
    "q183_share_rollup" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cents = floor(col("l_extendedprice") * (lit(1.0) -
        col("l_discount")) * 100 + lit(0.5)).cast("long")
      val nat = broadcast(Tables.nation(s, dir)
        .join(Tables.region(s, dir),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"), col("r_name")))
      val perNation = Tables.lineitem(s, dir)
        .join(Tables.supplier(s, dir),
          col("l_suppkey") === col("s_suppkey"))
        .join(nat, col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(cents).as("rev_c"))
      val wr = Window.partitionBy(col("r_name"))
      val ranked = perNation
        .withColumn("total_c", sum(col("rev_c")).over(wr))
        .withColumn("rk", row_number().over(
          wr.orderBy(col("rev_c").desc, col("n_name").asc)))
      ranked
        .withColumn("label",
          when(col("rk") <= 2, col("n_name")).otherwise(lit("OTHER")))
        .groupBy(col("r_name"), col("label"))
        .agg(sum(col("rev_c")).as("rev_c"), first(col("total_c")).as("t"),
          count(lit(1)).as("n_nations"))
        .select(col("r_name"), col("label"),
          (col("rev_c") / 100.0).as("revenue"),
          // integral div: cent totals exceed double's 2^53 integer
          // range long before they exceed a long
          expr("rev_c * 1000L div t").as("share_permille"),
          col("n_nations"))
        .orderBy(col("r_name"), col("share_permille").desc, col("label"))
    }),


    // Ingest volume anomaly audit: per (event_type, day) counts over
    // a DENSE day axis (a silent zero day IS the incident), flagged
    // at |z| > 3 against the type's own day-count distribution. The
    // flag is the exact integer inequality (c·n−Σ)² > 9(n·Σc²−Σ²);
    // z itself is one IEEE sqrt over the same exact integers. The
    // ops-monitoring query a 100 TB feed runs nightly: two map-side
    // aggregates + a |types|×|days| dense frame, no event-scale join.
    "q184_ingest_anomaly" -> ((s, dir) => {
      val dayCol = floor(unix_micros(col("ts")) / 86400000000L)
        .cast("long")
      val pd = Tables.events(s, dir)
        .groupBy(col("event_type"), dayCol.as("d"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // bounds + dense join both read it
      val bounds = pd.agg(min(col("d")).as("dmin"), max(col("d")).as("dmax"))
      val dense = pd.select(col("event_type")).distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"),
          explode(sequence(col("dmin"), col("dmax"))).as("d"))
        .join(pd, Seq("event_type", "d"), "left")
        .na.fill(0L, Seq("c"))
      val mom = dense.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
          sum(col("c") * col("c")).as("s2"))
      dense.join(broadcast(mom), Seq("event_type"))
        .select(col("event_type"), col("d").as("epoch_day"), col("c"),
          r4((col("c") * col("n") - col("s")).cast("double") /
            sqrt((col("n") * col("s2") - col("s") * col("s"))
              .cast("double"))).as("z"),
          ((col("c") * col("n") - col("s")) *
            (col("c") * col("n") - col("s")) >
            lit(9L) * (col("n") * col("s2") - col("s") * col("s")))
            .as("anomalous"))
        .orderBy("event_type", "epoch_day")
    }),


    // Markov next-event backtest — the eval-harness shape (q106's
    // retrieval eval for sequence models): train a first-order
    // transition argmax on the pre-split pairs (q94's matrix), score
    // top-1 accuracy on the post-split pairs. A pair belongs to the
    // period of its LATER event — exactly what a deployed predictor
    // sees (it predicts from the last observed event regardless of
    // which period that event fell in).
    "q185_markov_backtest" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val split = to_timestamp(lit("2024-01-16 00:00:00"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val trans = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNotNull)
      val counts = trans.filter(col("ts") < split)
        .groupBy(col("prev"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val wp = Window.partitionBy(col("prev"))
        .orderBy(col("n").desc, col("event_type").asc)
      val pred = counts.withColumn("rk", row_number().over(wp))
        .filter(col("rk") === 1)
        .select(col("prev"), col("event_type").as("predicted_next"),
          col("n").as("train_n"))
      trans.filter(col("ts") >= split)
        .join(broadcast(pred), Seq("prev"), "left")
        .groupBy(col("prev"))
        .agg(first(col("predicted_next")).as("predicted_next"),
          first(col("train_n")).as("train_n"),
          count(lit(1)).as("n_test"),
          sum(when(col("event_type") === col("predicted_next"), 1L)
            .otherwise(0L)).as("n_correct"))
        .select(col("prev"), col("predicted_next"), col("train_n"),
          col("n_test"), col("n_correct"),
          expr("n_correct * 1000L div n_test").as("acc_permille"))
        .orderBy("prev")
    }),


    // TPC-H Q19 shape: three OR'd (brand, size-range, quantity-range)
    // branches over one lineitem×part join — the disjunctive-predicate
    // normalization/pushdown stress (each branch's part-side conjuncts
    // can prune the build side; the OR itself rides the join filter).
    "q186_disjunctive_revenue" -> ((s, dir) => {
      val cents = floor(col("l_extendedprice") * (lit(1.0) -
        col("l_discount")) * 100 + lit(0.5)).cast("long")
      val branch = (col("p_brand") === "Brand#1" &&
        col("p_size").between(1, 10) && col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#2" &&
          col("p_size").between(11, 25) && col("l_quantity").between(5, 30)) ||
        (col("p_brand") === "Brand#3" &&
          col("p_size").between(26, 50) && col("l_quantity").between(10, 40))
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir), col("p_partkey") === col("l_partkey"))
        .filter(branch)
        .agg(r2(sum(cents) / 100.0).as("revenue"),
          count(lit(1)).as("n_items"))
    }),


    // TPC-H Q4 shape: priority counts of orders with at least one line
    // shipped after the order date — EXISTS as a LEFT SEMI join whose
    // non-equi half (l_shipdate > o_orderdate) rides the join
    // condition; lineitem is never widened into the aggregate.
    "q187_priority_late_ship" -> ((s, dir) => {
      Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1996-07-01"))
        .join(Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_shipdate")),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),


    // TPC-H Q16 shape: supplier diversity per (brand, size) with a
    // blocklisted supplier set removed by ANTI join before the
    // distinct count (the NOT IN that must never become a filter on a
    // nullable subquery).
    "q188_supplier_diversity" -> ((s, dir) => {
      val excluded = Tables.supplier(s, dir)
        .filter(col("s_name").endsWith("7"))
        .select(col("s_suppkey").as("x_suppkey"))
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand"), col("p_size"))),
          col("p_partkey") === col("l_partkey"))
        .join(excluded, col("l_suppkey") === col("x_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
    }),


    // TPC-H Q11 shape: per-part lineitem value with a GLOBAL share
    // threshold (HAVING value > fraction × Σ) — the scalar rides a
    // broadcast 1-row frame, the share is integral parts-per-million.
    "q189_part_value_share" -> ((s, dir) => {
      val cents = floor(col("l_extendedprice") * 100 + lit(0.5))
        .cast("long")
      val perPart = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"))
        .agg(sum(cents).as("value_c"))
        .localCheckpoint(true) // scalar + filtered output both read it
      val total = perPart.agg(sum(col("value_c")).cast("decimal(38,0)")
        .as("total_c"))
      perPart.crossJoin(broadcast(total))
        .withColumn("share_ppm",
          expr("CAST(value_c AS DECIMAL(38,0)) * 1000000 div total_c")
            .cast("long"))
        .filter(col("share_ppm") > 800L)
        .select(col("l_partkey"), (col("value_c") / 100.0).as("value"),
          col("share_ppm"))
        .orderBy(col("share_ppm").desc, col("l_partkey"))
    }),


    // TPC-H Q8 shape: one nation's market share inside one region's
    // order flow, per order-year — conditional cents over the same
    // 6-table join as q150, share by integral division.
    "q190_market_share" -> ((s, dir) => {
      val cents = floor(col("l_extendedprice") * (lit(1.0) -
        col("l_discount")) * 100 + lit(0.5)).cast("long")
      val cn = Tables.nation(s, dir)
        .join(Tables.region(s, dir).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cn_key"))
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(cn), col("c_nationkey") === col("cn_key"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("yr"))
        .agg(sum(cents).as("total_c"),
          sum(when(col("s_nationkey") === 7, cents).otherwise(0L))
            .as("target_c"))
        .select(col("yr"), (col("total_c") / 100.0).as("total_rev"),
          expr("target_c * 1000L div total_c").as("share_permille"))
        .orderBy("yr")
    }),


    // TPC-H Q15 shape: the top-revenue supplier(s) of a quarter — a
    // 1-row scalar max joined back by equality, so ties all surface
    // (the view+max formulation, not a LIMIT 1 that drops ties).
    "q191_top_supplier" -> ((s, dir) => {
      val cents = floor(col("l_extendedprice") * (lit(1.0) -
        col("l_discount")) * 100 + lit(0.5)).cast("long")
      val rev = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1996-04-01"))
          .select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_suppkey"))
        .agg(sum(cents).as("rev_c"))
        .localCheckpoint(true) // max + equality join both read it
      val top = rev.agg(max(col("rev_c")).as("max_c"))
      rev.crossJoin(broadcast(top))
        .filter(col("rev_c") === col("max_c"))
        .join(broadcast(Tables.supplier(s, dir)),
          col("s_suppkey") === col("l_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          (col("rev_c") / 100.0).as("total_rev"))
        .orderBy("s_suppkey")
    }),


    // TPC-H Q18 shape: large-volume orders — the IN(group-by-HAVING)
    // is the same aggregate the output needs, so it computes ONCE and
    // joins back; quantities are integral doubles (exact sums).
    "q192_large_orders" -> ((s, dir) => {
      val big = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 300.0)
      big.join(Tables.orders(s, dir), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, dir), col("c_custkey") === col("o_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          tsStr(col("o_orderdate")).as("o_orderdate"),
          col("total_qty").cast("long").as("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
        .limit(20)
    }),


    // Magnitude histogram: order amounts bucketed by the BIT LENGTH
    // of their integer cents (exact log2 buckets without libm — the
    // binary-digit count is pure integer/string arithmetic on both
    // engines). Benford's (q175) distribution-forensics sibling for
    // spotting clipped or re-scaled feeds.
    "q219_magnitude_histogram" -> ((s, dir) => {
      val cents = floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
      Tables.orders(s, dir)
        .filter(col("o_totalprice") > 0)
        .select(length(bin(cents)).cast("long").as("bits"),
          cents.as("c"))
        .groupBy(col("bits"))
        .agg(count(lit(1)).as("n_orders"),
          (min(col("c")) / 100.0).as("min_amount"),
          (max(col("c")) / 100.0).as("max_amount"))
        .orderBy("bits")
    }),


    // Returns-rate ranking by Wilson lower bound (z=1.96) — the
    // "how not to sort by average" correction: a brand with 3/3
    // returns must NOT outrank one with 80/100. Inputs are exact
    // integer (returns, total) pairs; the bound is one fixed IEEE
    // formula over them, identical on both engines.
    "q220_wilson_returns" -> ((s, dir) => {
      val perBrand = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand"))),
          col("p_partkey") === col("l_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("r"))
      // z² as a PARSED literal (3.8416), not a computed square:
      // double(1.96)² can land one ulp away from parse("3.8416"),
      // and the oracle embeds the parsed form
      val z2 = lit(3.8416)
      val p = col("r").cast("double") / col("n").cast("double")
      val nD = col("n").cast("double")
      val wilson = (p + z2 / (nD * 2.0) -
        lit(1.96) * sqrt(p * (lit(1.0) - p) / nD +
          z2 / (nD * nD * 4.0))) / (lit(1.0) + z2 / nD)
      perBrand
        .select(col("p_brand"), col("n"), col("r"),
          r4(p).as("return_rate"), r4(wilson).as("wilson_lb"))
        .orderBy(col("wilson_lb").desc, col("p_brand"))
    }),


    // Per-brand revenue trend by ordinary least squares over the
    // weekly series: slope/intercept/R² all come from five exact
    // integer moments (n, Σx, Σy, Σxy, Σx², Σy²) so the only IEEE
    // steps are the final divisions — no per-row float accumulation
    // order to disagree on. y is WHOLE-DOLLAR weekly revenue
    // (integer-div of the exact 1e-4-unit sum), x the week index;
    // cross-products ride decimal(38,0) (HUGEINT in the oracle), so
    // the squared-covariance numerator of R² (~1e24 at sf0.1) never
    // touches a long.
    "q221_brand_trend_ols" -> ((s, dir) => {
      val dec = "decimal(38,0)"
      val weekly = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand"))),
          col("p_partkey") === col("l_partkey"))
        .select(col("p_brand"),
          floor(datediff(col("o_orderdate"), lit("1992-01-01")) / 7)
            .cast("long").as("wk"),
          (floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long") *
            (lit(100L) - floor(col("l_discount") * 100 + lit(0.5))
              .cast("long"))).as("rev_u"))
        .groupBy(col("p_brand"), col("wk"))
        .agg(expr("sum(rev_u) div 10000").as("y"))
      val m = weekly.groupBy(col("p_brand"))
        .agg(count(lit(1)).cast(dec).as("n"),
          sum(col("wk")).cast(dec).as("sx"),
          sum(col("y")).cast(dec).as("sy"),
          sum(col("wk") * col("y")).cast(dec).as("sxy"),
          sum(col("wk") * col("wk")).cast(dec).as("sxx"),
          sum(col("y").cast(dec) * col("y").cast(dec)).as("syy"))
      val num = col("n") * col("sxy") - col("sx") * col("sy")
      val dxx = col("n") * col("sxx") - col("sx") * col("sx")
      val dyy = col("n") * col("syy") - col("sy") * col("sy")
      m.filter(col("n") >= 10 && dxx > 0 && dyy > 0)
        .select(col("p_brand"), col("n").cast("long").as("n_weeks"),
          r4(num.cast("double") / dxx.cast("double")).as("slope_usd_wk"),
          r4((col("sy") * col("sxx") - col("sx") * col("sxy"))
            .cast("double") / dxx.cast("double")).as("intercept_usd"),
          r4((num * num).cast("double") /
            (dxx * dyy).cast("double")).as("r2"))
        .orderBy("p_brand")
    }),


    // Theil–Sen robust trend: the MEDIAN of all pairwise slopes over
    // each brand's MONTHLY revenue series — one wild month cannot
    // drag it the way it drags q221's OLS. The pair space is bounded
    // by the CALENDAR (84 months → ≤3.5k pairs per brand), not the
    // data volume, so the pairs materialize as a per-brand in-row
    // array expansion (a DataFrame self-join would recompute — and
    // rescan — the whole monthly aggregate on both sides). Each
    // slope is one IEEE division of exact integers; the median is
    // nearest-rank (value at index ⌈m/2⌉ of the sorted slopes) so no
    // float averaging enters the gate. The oracle keeps the
    // definitional self-join + rank formulation, certifying the
    // array expansion against it.
    "q222_theil_sen_trend" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand"))),
          col("p_partkey") === col("l_partkey"))
        .select(col("p_brand"),
          ((year(col("o_orderdate")) - 1992) * 12 +
            month(col("o_orderdate")) - 1).cast("long").as("mo"),
          (floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long") *
            (lit(100L) - floor(col("l_discount") * 100 + lit(0.5))
              .cast("long"))).as("rev_u"))
        .groupBy(col("p_brand"), col("mo"))
        .agg(expr("sum(rev_u) div 10000").as("y"))
        .groupBy(col("p_brand"))
        .agg(sort_array(collect_list(struct(col("mo"), col("y"))))
          .as("pts"))
        .withColumn("sl", expr(
          """array_sort(flatten(transform(pts, (a, i) ->
            |  transform(slice(pts, i + 2, size(pts)), b ->
            |    cast(b.y - a.y as double) /
            |    cast(b.mo - a.mo as double)))))""".stripMargin))
        .select(col("p_brand"),
          size(col("sl")).cast("long").as("n_pairs"),
          r4(expr("element_at(sl, cast((size(sl) + 1) div 2 as int))"))
            .as("ts_slope_usd_mo"))
        .orderBy("p_brand")
    }),


    // Chi-squared independence test (return flag × line status) with
    // Cramér's V effect size. The fact table is scanned ONCE: the
    // contingency table collapses to one array of (flag, status,
    // count) cells, and every marginal, expectation and the statistic
    // itself is a higher-order-function fold over that array —
    // re-deriving marginals from the base table would scan the fact
    // 4× (Spark does not reuse uncached sibling aggregates).
    // Observed/marginal counts are exact integers; each cell's
    // (O−E)²/E is one deterministic IEEE expression; the final
    // reduction is a LEFT FOLD over the value-sorted contribution
    // array (both engines sort doubles identically), so the statistic
    // never depends on aggregation order. The fold array is
    // |flags|×|statuses| — bounded by construction, never data-sized.
    "q223_chi2_flag_linestatus" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"))
        .agg(count(lit(1)).as("o"))
        .agg(sort_array(collect_list(
          struct(col("rf"), col("ls"), col("o")))).as("cs"))
        .withColumn("n", expr("aggregate(cs, 0L, (a, x) -> a + x.o)"))
        .withColumn("nr", expr(
          "cast(size(array_distinct(transform(cs, c -> c.rf))) as bigint)"))
        .withColumn("nc", expr(
          "cast(size(array_distinct(transform(cs, c -> c.ls))) as bigint)"))
        .withColumn("chi2r", expr(
          """aggregate(
            |  array_sort(transform(cs, c ->
            |    pow(cast(c.o as double) -
            |        cast(aggregate(filter(cs, x -> x.rf = c.rf),
            |                       0L, (a, x) -> a + x.o) as double)
            |        * cast(aggregate(filter(cs, x -> x.ls = c.ls),
            |                         0L, (a, x) -> a + x.o) as double)
            |        / cast(n as double), 2.0)
            |    / (cast(aggregate(filter(cs, x -> x.rf = c.rf),
            |                      0L, (a, x) -> a + x.o) as double)
            |       * cast(aggregate(filter(cs, x -> x.ls = c.ls),
            |                        0L, (a, x) -> a + x.o) as double)
            |       / cast(n as double)))),
            |  cast(0.0 as double), (a, x) -> a + x)""".stripMargin))
        .select(col("n"),
          ((col("nr") - 1) * (col("nc") - 1)).as("dof"),
          r4(col("chi2r")).as("chi2"),
          r4(sqrt(col("chi2r") / (col("n").cast("double") *
            (least(col("nr"), col("nc")) - 1).cast("double"))))
            .as("cramers_v"))
    }),


    // Exact QUANTITY-WEIGHTED median line value per nation: the
    // smallest value whose cumulative weight reaches half the total
    // (2·cumw ≥ totw in pure integers — no halving division). Rows
    // collapse to (nation, value)-grain integer weights BEFORE the
    // window, so the running sum walks distinct values, not line
    // items, and the crossing group is tie-order-independent.
    "q224_weighted_median_value" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val perVal = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("n_nationkey") === col("c_nationkey"))
        .select(col("n_name"),
          floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long")
            .as("v_c"),
          col("l_quantity").cast("long").as("w"))
        // ONE exchange on n_name serves the (n_name, v_c) aggregate
        // (subset clustering) AND both windows below (r17, guide §2.4):
        // the default plan shuffled the near-line-item-grain (n_name,
        // v_c) rows — v_c is price cents, so map-side combine barely
        // reduces them — and then re-shuffled the aggregate on n_name
        // for the window. Parallelism is nation-bounded either way
        // (the window's partitionBy forces it).
        .repartition(col("n_name"))
        .groupBy(col("n_name"), col("v_c"))
        .agg(sum(col("w")).as("w"))
      val wOrd = Window.partitionBy(col("n_name")).orderBy(col("v_c"))
      val wAll = Window.partitionBy(col("n_name"))
      perVal
        .withColumn("cumw", sum(col("w")).over(wOrd))
        .withColumn("totw", sum(col("w")).over(wAll))
        .filter(col("cumw") * 2 >= col("totw"))
        .groupBy(col("n_name"))
        .agg((min(col("v_c")) / 100.0).as("wmedian_value"),
          max(col("totw")).as("total_qty"))
        .orderBy("n_name")
    }),


    // Vocabulary richness per source: type-token ratio and hapax-
    // legomenon rate (how much of the vocabulary occurs exactly
    // once) — corpus health signals that drop when a crawl loops on
    // boilerplate. Same single-space tokenizer the token-frequency
    // query pins; everything is exact integer counts + one division.
    "q225_vocab_richness" -> ((s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(col("source"),
          explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("c"))
      tok.groupBy(col("source"))
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("source"), col("n_tokens"), col("n_types"),
          col("n_hapax"),
          r4(col("n_types").cast("double") /
            col("n_tokens").cast("double")).as("ttr"),
          r4(col("n_hapax").cast("double") /
            col("n_types").cast("double")).as("hapax_rate"))
        .orderBy("source")
    }),


    // Longest strictly-increasing run of daily revenue per nation —
    // gaps-and-islands over the ACTIVE-day series (calendar holes
    // don't break a run; a flat or down day does). Revenue compares
    // are exact 1e-4-unit integers; islands come from a cumulative
    // break counter, run rank ties go to the earliest end date.
    "q226_revenue_streaks" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("n_nationkey") === col("c_nationkey"))
        .select(col("n_name"), col("o_orderdate").as("d"),
          (floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long") *
            (lit(100L) - floor(col("l_discount") * 100 + lit(0.5))
              .cast("long"))).as("rev_u"))
        .groupBy(col("n_name"), col("d"))
        .agg(sum(col("rev_u")).as("rev"))
      val wOrd = Window.partitionBy(col("n_name")).orderBy(col("d"))
      val runs = daily
        .withColumn("brk",
          when(col("rev") > lag(col("rev"), 1).over(wOrd), 0L)
            .otherwise(1L))
        .withColumn("grp", sum(col("brk")).over(wOrd))
        .groupBy(col("n_name"), col("grp"))
        .agg(count(lit(1)).as("len"), max(col("d")).as("end_d"))
      runs
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("n_name"))
            .orderBy(col("len").desc, col("end_d").asc)))
        .filter(col("rk") === 1)
        .select(col("n_name"), col("len").as("streak_days"),
          date_format(col("end_d"), "yyyy-MM-dd").as("streak_end"))
        .orderBy("n_name")
    }),


    // Referential-integrity audit: one row per declared constraint —
    // PK uniqueness (rows whose key repeats) and FK orphans (child
    // rows with no parent) — the pre-ingest contract check every
    // pipeline runs before trusting a snapshot. Each child table is
    // scanned ONCE: FK checks ride a LEFT join (parent keys are
    // unique, so no fanout) counting null parents alongside the row
    // total in one aggregate, and lineitem's two FK checks share a
    // single pass (stack-unpivoted into two report rows). Parents
    // that fit (nation, region) broadcast; the rest shuffle on the
    // key they'd shuffle on anyway. Zeros are the healthy report.
    "q227_integrity_audit" -> ((s, dir) => {
      def pkDup(df: org.apache.spark.sql.DataFrame, key: String,
                name: String) =
        df.groupBy(col(key)).agg(count(lit(1)).as("c"))
          .agg(sum(when(col("c") > 1L, col("c")).otherwise(0L))
            .as("n_violations"), count(lit(1)).as("n_checked"))
          .select(lit(name).as("check_name"),
            coalesce(col("n_violations"), lit(0L)).as("n_violations"),
            col("n_checked"))
      def fkOrphan(child: org.apache.spark.sql.DataFrame, ck: String,
                   parent: org.apache.spark.sql.DataFrame, pk: String,
                   name: String, bcast: Boolean) = {
        val p = parent.select(col(pk))
        child.select(col(ck))
          .join(if (bcast) broadcast(p) else p,
            col(ck) === col(pk), "left")
          .agg(sum(when(col(pk).isNull, 1L).otherwise(0L))
            .as("n_violations"), count(lit(1)).as("n_checked"))
          .select(lit(name).as("check_name"), col("n_violations"),
            col("n_checked"))
      }
      val li = Tables.lineitem(s, dir); val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir); val su = Tables.supplier(s, dir)
      val p = Tables.part(s, dir); val na = Tables.nation(s, dir)
      val re = Tables.region(s, dir)
      val liBoth = li.select(col("l_orderkey"), col("l_partkey"))
        .join(o.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left")
        .join(p.select(col("p_partkey")),
          col("l_partkey") === col("p_partkey"), "left")
        .agg(sum(when(col("o_orderkey").isNull, 1L).otherwise(0L))
          .as("v_orders"),
          sum(when(col("p_partkey").isNull, 1L).otherwise(0L))
            .as("v_part"),
          count(lit(1)).as("n_checked"))
        .select(expr("stack(2, 'fk_lineitem_orders', v_orders, n_checked," +
          " 'fk_lineitem_part', v_part, n_checked)" +
          " as (check_name, n_violations, n_checked)"))
      pkDup(o, "o_orderkey", "pk_orders")
        .unionAll(pkDup(c, "c_custkey", "pk_customer"))
        .unionAll(pkDup(p, "p_partkey", "pk_part"))
        .unionAll(pkDup(su, "s_suppkey", "pk_supplier"))
        .unionAll(liBoth)
        .unionAll(fkOrphan(o, "o_custkey", c, "c_custkey",
          "fk_orders_customer", bcast = false))
        .unionAll(fkOrphan(c, "c_nationkey", na, "n_nationkey",
          "fk_customer_nation", bcast = true))
        .unionAll(fkOrphan(su, "s_nationkey", na, "n_nationkey",
          "fk_supplier_nation", bcast = true))
        .unionAll(fkOrphan(na, "n_regionkey", re, "r_regionkey",
          "fk_nation_region", bcast = true))
        .orderBy("check_name")
    }),


    // Spend-decile mobility matrix: each customer's total-spend
    // decile in 1996 vs 1997, counted per (from, to) cell — the
    // rank-rank transition view of churn/upsell. ONE orders scan:
    // spend aggregates at (customer, year) grain, deciles are exact
    // ntile over the YEAR-partitioned aggregate with a custkey
    // tie-break (identical buckets to two separate rankings), and
    // the year pair pivots back to one row per customer — no
    // aggregate self-join. The exact-quintile global-sort caveat is
    // q209's (ranks entity aggregates, never fact rows).
    "q228_decile_mobility" -> ((s, dir) => {
      import graft.operators.ScaleOps.{distributedRank, ntileOfRank}
      // Per-year deciles WITHOUT the year-partitioned ntile window: a
      // 2-partition window over (custkey, yr) rows puts the whole
      // customer frame through two tasks — the same single-task hazard
      // as the retired unpartitioned class, hidden behind a bounded
      // partition KEY over entity-grain ROWS. Rank-within-group
      // instead: ONE global distributedRank over (yr, sp, custkey) —
      // year runs are contiguous under the range shuffle — then
      // rank_in_year = rk − min(rk per year) + 1 via a 2-row broadcast
      // of per-year (offset, count), and ntileOfRank recovers the
      // exact SQL bucket.
      val perCY = Tables.orders(s, dir)
        .filter(year(col("o_orderdate")).isin(1996, 1997))
        .groupBy(col("o_custkey"),
          year(col("o_orderdate")).as("yr"))
        .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5))
          .cast("long")).as("sp"))
      val ranked = distributedRank(perCY,
        Seq(col("yr").asc, col("sp").asc, col("o_custkey").asc), "rk")
      val offs = ranked.groupBy(col("yr"))
        .agg(min(col("rk")).as("rk0"), count(lit(1)).as("n_yr"))
      ranked.join(broadcast(offs), "yr")
        .withColumn("dec",
          ntileOfRank(col("rk") - col("rk0") + lit(1L), col("n_yr"), 10))
        .groupBy(col("o_custkey"))
        .agg(max(when(col("yr") === 1996, col("dec"))).cast("long")
            .as("dec_1996"),
          max(when(col("yr") === 1997, col("dec"))).cast("long")
            .as("dec_1997"))
        .filter(col("dec_1996").isNotNull && col("dec_1997").isNotNull)
        .groupBy(col("dec_1996"), col("dec_1997"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("dec_1996", "dec_1997")
    }),


    // Day-of-week seasonality profile per event type: each ISO
    // weekday's share of the type's events plus its index against
    // the uniform 1/7 expectation (n·7000 div total, exact permille
    // integers) — the load-shaping readout for capacity planning.
    "q229_dow_seasonality" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      Tables.events(s, dir)
        .select(col("event_type"),
          (weekday(col("ts")) + 1).cast("long").as("isodow"))
        .groupBy(col("event_type"), col("isodow"))
        .agg(count(lit(1)).as("n"))
        .withColumn("tot", sum(col("n")).over(
          Window.partitionBy(col("event_type"))))
        .select(col("event_type"), col("isodow"), col("n"),
          expr("n * 1000L div tot").as("share_permille"),
          expr("n * 7000L div tot").as("index_permille"))
        .orderBy("event_type", "isodow")
    }),


    // Relative-standing deciles: each customer's balance percentile
    // WITHIN their nation — percent_rank is (rank−1)/(n−1), exact
    // integers + one division, then decile bands; the rollup reports
    // band populations and value. The window sorts per nation.
    "q216_balance_deciles" -> ((s, dir) => {
      // per-nation ranks over RAW customers ride ScaleOps.groupedRank
      // (25 nation partitions of entity-grain rows sorted one-per-task
      // before r11; the 25-row offset frame broadcasts back)
      val ranked = graft.operators.ScaleOps.groupedRank(
          Tables.customer(s, dir)
            .select(col("c_nationkey").cast("long").as("nation"),
              col("c_custkey"),
              floor(col("c_acctbal") * 100 + lit(0.5)).cast("long")
                .as("bal_c")),
          Seq("nation"), Seq(col("bal_c").asc, col("c_custkey").asc),
          rankCol = "rk", countCol = "n")
        // decile = floor(10·(rk−1)/n) capped at 9: integer arithmetic
        .withColumn("decile", least(expr("(rk - 1) * 10 div n"), lit(9L)))
      ranked.groupBy(col("nation"), col("decile"))
        .agg(count(lit(1)).as("n_custs"),
          (sum(col("bal_c")) / 100.0).as("total_bal"))
        .orderBy("nation", "decile")
    }),


    // Signup→purchase conversion by signup hour-of-day: users whose
    // first purchase follows their first signup within 24 h, bucketed
    // by the signup's hour — the "when do signups convert" readout.
    // Two keyed min-aggregates + one join; permille is integral.
    "q217_conversion_by_hour" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("s_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
      signups.join(purchases, Seq("user_id"), "left")
        .select(hour(col("s_ts")).cast("long").as("signup_hour"),
          when(col("p_ts").isNotNull && col("p_ts") > col("s_ts") &&
            unix_micros(col("p_ts")) - unix_micros(col("s_ts")) <=
              86400000000L, 1L).otherwise(0L).as("converted"))
        .groupBy(col("signup_hour"))
        .agg(count(lit(1)).as("n_signups"),
          sum(col("converted")).as("n_converted"))
        .select(col("signup_hour"), col("n_signups"), col("n_converted"),
          expr("n_converted * 1000L div n_signups").as("conv_permille"))
        .orderBy("signup_hour")
    }),


    // Source-vocabulary similarity matrix: cosine between sources'
    // token-count vectors — the corpus redundancy map (two sources
    // with cosine ≈ 1 are the same crawl twice). The sparse dot
    // product joins per-token counts on the token (never a dense
    // |vocab| vector); norms are exact integer sums + one IEEE sqrt.
    "q218_source_vocab_cosine" -> ((s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(col("source"),
          explode(graft.functions.TextFunctions.wsTokens(col("text")))
            .as("tok"))
        .groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // norms + the pair join both read it
      val norms = tok.groupBy(col("source"))
        .agg(sum(col("c") * col("c")).as("n2"))
      val dots = tok.as("a").join(tok.as("b"),
          col("a.tok") === col("b.tok") &&
            col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(sum(col("a.c") * col("b.c")).as("dot"))
      dots
        .join(broadcast(norms.select(col("source").as("src_a"),
          col("n2").as("n2a"))), Seq("src_a"))
        .join(broadcast(norms.select(col("source").as("src_b"),
          col("n2").as("n2b"))), Seq("src_b"))
        .select(col("src_a"), col("src_b"),
          r4(col("dot").cast("double") /
            (sqrt(col("n2a").cast("double")) *
              sqrt(col("n2b").cast("double")))).as("cos"))
        .orderBy("src_a", "src_b")
    }),


    // Order-cadence regularity: coefficient of variation of each
    // customer's inter-order gaps — CV≈0 is metronome-regular
    // (subscriptions, schedulers), CV≈1 is Poisson-organic, higher is
    // bursty. Day-gaps are integers, so variance comes from exact
    // moments (q178's identity) and CV is one IEEE sqrt + division.
    "q213_order_cadence" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val gaps = Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
        .withColumn("gap_d",
          datediff(col("o_orderdate"),
            lag(col("o_orderdate"), 1).over(w)).cast("long"))
        .filter(col("gap_d").isNotNull)
      gaps.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_gaps"), sum(col("gap_d")).as("s"),
          sum(col("gap_d") * col("gap_d")).as("s2"))
        .filter(col("n_gaps") >= 5L && col("s") > 0L)
        .select(col("o_custkey"), col("n_gaps"),
          r4(col("s").cast("double") / col("n_gaps").cast("double"))
            .as("mean_gap_d"),
          r4(sqrt((col("n_gaps") * col("s2") - col("s") * col("s"))
            .cast("double")) / col("s").cast("double")).as("cv"))
        .orderBy("o_custkey")
    }),


    // Dominant-part-type customer segments: each customer's argmax
    // part type by quantity (rank window, ties to the alphabetical
    // type — deterministic), rolled up to segment sizes and the
    // dominant type's average share.
    "q214_dominant_type_segments" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val perType = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_type"))),
          col("p_partkey") === col("l_partkey"))
        .groupBy(col("o_custkey"), col("p_type"))
        .agg(sum(col("l_quantity").cast("long")).as("qty"))
      val wc = Window.partitionBy(col("o_custkey"))
      val ranked = perType
        .withColumn("total_qty", sum(col("qty")).over(wc))
        .withColumn("rk", row_number().over(
          wc.orderBy(col("qty").desc, col("p_type").asc)))
        .filter(col("rk") === 1)
      ranked.groupBy(col("p_type").as("dominant_type"))
        .agg(count(lit(1)).as("n_custs"),
          sum(col("qty")).as("dom_qty"), sum(col("total_qty")).as("tot_qty"))
        .select(col("dominant_type"), col("n_custs"),
          expr("dom_qty * 1000L div tot_qty").as("avg_share_permille"))
        .orderBy("dominant_type")
    }),


    // Region→region trade-flow matrix: customer region × supplier
    // region revenue — the full-matrix generalization of q163's
    // nation pairs. Both dim chains broadcast; one fact aggregate.
    "q215_trade_flow_matrix" -> ((s, dir) => {
      val cents = floor(col("l_extendedprice") * (lit(1.0) -
        col("l_discount")) * 100 + lit(0.5)).cast("long")
      val cReg = broadcast(Tables.nation(s, dir)
        .join(Tables.region(s, dir),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("c_nk"), col("r_name").as("cust_region")))
      val sReg = broadcast(Tables.nation(s, dir)
        .join(Tables.region(s, dir),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("s_nk"), col("r_name").as("supp_region")))
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(cReg, col("c_nationkey") === col("c_nk"))
        .join(sReg, col("s_nationkey") === col("s_nk"))
        .groupBy(col("cust_region"), col("supp_region"))
        .agg((sum(cents) / 100.0).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("cust_region", "supp_region")
    }),


    // Cold-catalog gap analysis: never-ordered parts with their
    // NEAREST ordered sibling by size within the brand — q26's as-of
    // carry idiom applied to a NON-TIME axis (size): two
    // ignore-nulls carries over one brand-keyed exchange (asc + desc
    // sorts), nearest = the smaller |size gap|, ties to the smaller
    // size. No self-join over the catalog.
    "q211_cold_parts" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val li = Tables.lineitem(s, dir)
      val maxD = li.agg(max(col("l_shipdate")).as("t_max"))
      // "cold" = nothing shipped in the trailing 60 days (every part
      // in this dense fixture has SOME history, so all-time coldness
      // is vacuous — recency-window coldness is the real report)
      val orderedKeys = li.crossJoin(broadcast(maxD))
        .filter(col("l_shipdate") > col("t_max") - expr("INTERVAL 60 DAYS"))
        .select(col("l_partkey")).distinct()
      val parts = Tables.part(s, dir)
        .join(orderedKeys, col("p_partkey") === col("l_partkey"), "left")
        .select(col("p_partkey"), col("p_brand"), col("p_size"),
          col("l_partkey").isNotNull.as("is_ordered"))
      val mark = when(col("is_ordered"),
        struct(col("p_size").as("s"), col("p_partkey").as("k")))
      // both carries ride ScaleOps.groupedFill (r11): the brand-keyed
      // window sorted each brand's part frame in one task per
      // direction; cold rows carry null marks, so the inclusive fill
      // equals the old unboundedPreceding..-1 frame on the rows kept
      import graft.operators.ScaleOps.groupedFill
      val gb = col("p_size") - col("below.s")
      val ga = col("above.s") - col("p_size")
      groupedFill(
          groupedFill(parts.withColumn("mark", mark), Seq("p_brand"),
            Seq(col("p_size").asc, col("p_partkey").asc), "mark", "below"),
          Seq("p_brand"),
          Seq(col("p_size").desc, col("p_partkey").desc), "mark", "above")
        .filter(!col("is_ordered"))
        .withColumn("pick",
          when(col("below").isNull, col("above"))
            .when(col("above").isNull, col("below"))
            .when(gb <= ga, col("below")).otherwise(col("above")))
        .select(col("p_partkey"), col("p_brand"), col("p_size"),
          col("pick.k").as("nearest_partkey"),
          col("pick.s").as("nearest_size"),
          abs(col("pick.s") - col("p_size")).as("size_gap"))
        .orderBy("p_partkey")
    }),


    // Supply-base attrition: the 10 most-idle suppliers by days since
    // last shipment (rank-based, so the report is never vacuous
    // however dense the feed). One aggregate + TakeOrderedAndProject.
    "q212_supplier_attrition" -> ((s, dir) => {
      val maxD = Tables.lineitem(s, dir)
        .agg(max(col("l_shipdate")).as("t_max"))
      Tables.lineitem(s, dir)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_lines"),
          max(col("l_shipdate")).as("last_ship"))
        .crossJoin(broadcast(maxD))
        .select(col("l_suppkey"), col("n_lines"),
          datediff(col("t_max"), col("last_ship")).cast("long")
            .as("days_idle"))
        .orderBy(col("days_idle").desc, col("l_suppkey"))
        .limit(10)
    }),


    // RFM segmentation (recency / frequency / monetary) — the
    // marketing staple: exact quintile scores per dimension (same
    // custkey tie-break ntile semantics as the SQL oracle), then
    // rule-based segments. The three quintiles ride THREE
    // ScaleOps.distributedRank passes over the |customers| aggregate
    // (range shuffle + partition offsets — never a single-partition
    // ntile window) and ntileOfRank reconstructs the exact SQL
    // bucket from (rank, n); n is one broadcast 1-row count.
    "q209_rfm_segmentation" -> ((s, dir) => {
      import graft.operators.ScaleOps.{distributedRank, ntileOfRank}
      val cents = floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
      // t_max = max(o_orderdate) — OBSERVED during the per-customer
      // aggregate's checkpoint materialization (r17): max over the
      // per-custkey last_order values equals the global max, so the
      // former separate maxD branch — a second full orders scan — is
      // gone. The checkpoint is the chain seam distributedRank's cost
      // note prescribes anyway (its first rank pass executes the input
      // twice: range sampling + shuffle map).
      val obs = org.apache.spark.sql.Observation()
      val perCust = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_order"),
          count(lit(1)).as("f"), sum(cents).as("m_c"))
        // observed as an ISO yyyy-MM-dd STRING (same total order as the
        // date) so the driver-side type is stable regardless of the
        // java8 datetime-API session setting
        .observe(obs, max(col("last_order").cast("string")).as("t_max"))
        .localCheckpoint(true)
      val tMax = obs.get("t_max").asInstanceOf[String]
      val rfm = perCust
        .select(col("o_custkey"),
          datediff(to_date(lit(tMax)), col("last_order")).cast("long")
            .as("r"),
          col("f"), col("m_c"))
      val ranked = distributedRank(distributedRank(distributedRank(rfm,
        Seq(col("r").asc, col("o_custkey")), "rk_r"),
        Seq(col("f").desc, col("o_custkey")), "rk_f"),
        Seq(col("m_c").desc, col("o_custkey")), "rk_m")
      val nRows = ranked.agg(count(lit(1)).as("n"))
      val scored = ranked.crossJoin(broadcast(nRows))
        .withColumn("score_r",
          lit(6) - ntileOfRank(col("rk_r"), col("n"), 5))
        .withColumn("score_f",
          lit(6) - ntileOfRank(col("rk_f"), col("n"), 5))
        .withColumn("score_m",
          lit(6) - ntileOfRank(col("rk_m"), col("n"), 5))
      scored
        .withColumn("segment",
          when(col("score_r") >= 4 && col("score_f") >= 4, "champion")
            .when(col("score_r") >= 4 && col("score_f") < 4, "recent")
            .when(col("score_r") <= 2 && col("score_f") >= 4, "at_risk")
            .when(col("score_r") <= 2 && col("score_f") <= 2, "lost")
            .otherwise("regular"))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n_custs"),
          (sum(col("m_c")) / 100.0).as("monetary"),
          r4(sum(col("r")).cast("double") / count(lit(1)).cast("double"))
            .as("avg_recency_days"))
        .orderBy("segment")
    }),


    // Discount-band quantity lift: does a deeper discount move more
    // units? avg quantity per discount band vs the zero-discount
    // baseline, the lift an exact integer cross-multiplication
    // (quantities are integral doubles).
    "q210_discount_lift" -> ((s, dir) => {
      val band = floor(col("l_discount") * 100 + lit(0.5)).cast("long")
      val perBand = Tables.lineitem(s, dir)
        .groupBy(band.as("disc_pct"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("long")).as("qty"))
        .localCheckpoint(true) // baseline + output both read it
      val base = perBand.filter(col("disc_pct") === 0L)
        .select(col("n_items").as("n0"), col("qty").as("q0"))
      perBand.crossJoin(broadcast(base))
        .select(col("disc_pct"), col("n_items"),
          r4(col("qty").cast("double") / col("n_items").cast("double"))
            .as("avg_qty"),
          expr("qty * n0 * 1000L div (n_items * q0)").as("lift_permille"))
        .orderBy("disc_pct")
    }),


    // ABC / Pareto inventory classification: parts ranked by revenue,
    // class A = first 80% of cumulative revenue, B = to 95%, C = the
    // tail. The cumulative walk is ScaleOps.distributedCumSum (range
    // shuffle + per-partition offsets — a distributed prefix sum), so
    // no task ever holds the |parts| frame; per-part revenues are
    // near-unique, which rules out the value-grain trick here.
    // Cumulative shares are integer ppm so class boundaries are
    // engine-exact; the 1-row total reads the cum frame's already-
    // materialized shuffle.
    "q206_abc_classification" -> ((s, dir) => {
      val cents = floor(col("l_extendedprice") * (lit(1.0) -
        col("l_discount")) * 100 + lit(0.5)).cast("long")
      val perPart = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey")).agg(sum(cents).as("rev_c"))
      val cum = graft.operators.ScaleOps.distributedCumSum(perPart,
        Seq(col("rev_c").desc, col("l_partkey")), "rev_c",
        cumCol = "cum_c", rankCol = "rk_p")
      val total = cum.agg(sum(col("rev_c")).cast("decimal(38,0)")
        .as("total_c"))
      val classed = cum.crossJoin(broadcast(total))
        .withColumn("cum_ppm",
          expr("CAST(cum_c AS DECIMAL(38,0)) * 1000000 div total_c")
            .cast("long"))
        .withColumn("abc_class",
          when(col("cum_ppm") <= 800000L, "A")
            .when(col("cum_ppm") <= 950000L, "B").otherwise("C"))
      classed.groupBy(col("abc_class"))
        .agg(count(lit(1)).as("n_parts"),
          (sum(col("rev_c")) / 100.0).as("revenue"),
          min(col("cum_ppm")).as("min_cum_ppm"),
          max(col("cum_ppm")).as("max_cum_ppm"))
        .orderBy("abc_class")
    }),


    // Demand-acceleration flag: parts whose last-7-day quantity runs
    // ahead of their prior-28-day DAILY mean by >2× — the
    // demand-sensing / stockout-risk report. The compare is integer
    // cross-multiplication (q7·28 > 2·q28·7), no float rate anywhere.
    "q207_demand_acceleration" -> ((s, dir) => {
      val maxD = Tables.lineitem(s, dir)
        .agg(max(col("l_shipdate")).as("t_max"))
      val flagged = Tables.lineitem(s, dir)
        .crossJoin(broadcast(maxD))
        .filter(col("l_shipdate") >
          col("t_max") - expr("INTERVAL 35 DAYS"))
        .groupBy(col("l_partkey"))
        .agg(
          sum(when(col("l_shipdate") >
            col("t_max") - expr("INTERVAL 7 DAYS"),
            col("l_quantity").cast("long")).otherwise(0L)).as("q7"),
          sum(when(col("l_shipdate") <=
            col("t_max") - expr("INTERVAL 7 DAYS"),
            col("l_quantity").cast("long")).otherwise(0L)).as("q28"))
        .filter(col("q28") > 0L && col("q7") * 28L > col("q28") * 14L)
      flagged
        .select(col("l_partkey"), col("q7"), col("q28"),
          expr("q7 * 28L * 1000L div (q28 * 7L)").as("accel_permille"))
        .orderBy(col("accel_permille").desc, col("l_partkey"))
        .limit(30)
    }),


    // Double-charge detection: same user, same dollar amount,
    // purchase within 7 days of the previous identical one — one lag
    // window per (user, amount) key, never a self-join on the event
    // table. (Dollar granularity: this synthetic feed's continuous
    // values never collide at cents; real payment feeds collide at
    // exact amounts and the window is typically minutes.)
    "q208_double_charges" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val dollars = floor(col("value")).cast("long")
      val w = Window.partitionBy(col("user_id"), col("amount_d"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        .select(col("user_id"), col("event_id"), col("ts"),
          dollars.as("amount_d"))
        .withColumn("prev_id", lag(col("event_id"), 1).over(w))
        .withColumn("gap_s",
          (unix_micros(col("ts")) -
            unix_micros(lag(col("ts"), 1).over(w))) / 1000000L)
        .filter(col("prev_id").isNotNull && col("gap_s") <= 604800L)
        .select(col("user_id"), col("event_id").as("dup_event_id"),
          col("prev_id").as("orig_event_id"), col("amount_d"),
          col("gap_s").cast("long").as("gap_s"))
        .orderBy("user_id", "dup_event_id")
    }),


    // Run-length report per event type — the gaps-and-islands idiom
    // (island id = seq rank − per-type rank, both windows sharing one
    // user-keyed exchange): how long do users streak on one action
    // (e.g. consecutive 'error' events = retry storms). Counts are
    // integers; avg_run is one division.
    "q204_event_runs" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wAll = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wType = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"),
          col("event_id"))
        .withColumn("island",
          row_number().over(wAll) - row_number().over(wType))
        .groupBy(col("user_id"), col("event_type"), col("island"))
        .agg(count(lit(1)).as("run_len"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_runs"), max(col("run_len")).as("max_run"),
          sum(col("run_len")).as("n_events"))
        .select(col("event_type"), col("n_runs"), col("max_run"),
          r4(col("n_events").cast("double") / col("n_runs").cast("double"))
            .as("avg_run"))
        .orderBy("event_type")
    }),


    // Coordinated-account detection: user pairs acting in the SAME
    // minute unusually often (bot rings move in lockstep). The pair
    // space is per-minute-bounded (the q17/q117 bucket-join
    // discipline — a skew-capped self-join on the minute bucket,
    // never users²); the threshold is an integer count.
    "q205_coordinated_pairs" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val um = Tables.events(s, dir)
        .select(col("user_id"),
          floor(unix_micros(col("ts")) / 60000000L).cast("long")
            .as("minute"))
        .distinct()
        // skew guard: a minute with a site-wide event (everyone acts)
        // carries no coordination signal and would quadratically blow
        // the join — cap it, same contract as the LSH bucket caps
        .withColumn("m_n", count(lit(1)).over(
          Window.partitionBy(col("minute"))))
        .filter(col("m_n") <= 50)
        .drop("m_n")
      um.as("a").join(um.as("b"),
          col("a.minute") === col("b.minute") &&
            col("a.user_id") < col("b.user_id"))
        .groupBy(col("a.user_id").as("user_a"),
          col("b.user_id").as("user_b"))
        .agg(count(lit(1)).as("n_shared_minutes"))
        .filter(col("n_shared_minutes") >= 3)
        .orderBy(col("n_shared_minutes").desc, col("user_a"),
          col("user_b"))
        .limit(50)
    }),


    // Exact nearest-rank inter-arrival percentiles per event type —
    // the latency-profile shape (p50/p90/p99 of the gap between
    // consecutive events of a type). Gaps are integer seconds; the
    // nearest-rank index floor((n−1)·q)+1 is integer arithmetic, so
    // the profile is engine-exact. The pre-r11 form paid a per-type
    // single-task sort TWICE (lag sequencing + rank percentiles over
    // fact-grain rows in ~5 schema-bounded partitions); now both ride
    // ScaleOps.groupedRank — consecutive events pair by a rank-
    // adjacency self-join (rk = rk−1 on the type key; both sides read
    // the same ranked frame, so the join exchange is reused), and the
    // percentile ranks come off a second groupedRank of the gaps.
    // The sketch path at extreme group cardinality is q128's MRL /
    // q63's histogram, documented there.
    "q203_gap_percentiles" -> ((s, dir) => {
      import graft.operators.ScaleOps.groupedRank
      val seqd = groupedRank(
        Tables.events(s, dir)
          .select(col("event_type"), col("ts"), col("event_id")),
        Seq("event_type"), Seq(col("ts").asc, col("event_id").asc),
        rankCol = "sq").drop("n_grp")
      val prev = seqd.select(col("event_type"),
        (col("sq") + 1L).as("sq"), col("ts").as("ts_prev"))
      val gaps = seqd.join(prev, Seq("event_type", "sq"))
        .select(col("event_type"), col("event_id"),
          ((unix_micros(col("ts")) - unix_micros(col("ts_prev")))
            / 1000000L).cast("long").as("gap_s"))
      groupedRank(gaps, Seq("event_type"),
          Seq(col("gap_s").asc, col("event_id").asc),
          rankCol = "rk", countCol = "n")
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n_gaps"),
          max(when(col("rk") === expr("(n - 1) * 50 div 100 + 1"),
            col("gap_s"))).as("p50_s"),
          max(when(col("rk") === expr("(n - 1) * 90 div 100 + 1"),
            col("gap_s"))).as("p90_s"),
          max(when(col("rk") === expr("(n - 1) * 99 div 100 + 1"),
            col("gap_s"))).as("p99_s"))
        .orderBy("event_type")
    }),


    // Per-source 10%-trimmed mean of document length — the robust
    // location estimate that survives the outliers q102/q72 only
    // FLAG. Trim bounds are integer rank comparisons; the mean is an
    // exact integer sum over the kept ranks, one division at the end.
    "q202_trimmed_mean" -> ((s, dir) => {
      // trim ranks via ScaleOps.groupedRank — the source-partitioned
      // rank window sorted each source's doc frame in one task
      graft.operators.ScaleOps.groupedRank(
          Tables.documents(s, dir)
            .select(col("source"), col("doc_id"), col("n_chars")),
          Seq("source"), Seq(col("n_chars").asc, col("doc_id").asc),
          rankCol = "rk", countCol = "n")
        .filter(col("rk") > expr("n div 10") &&
          col("rk") <= col("n") - expr("n div 10"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("s"))
        .select(col("source"), col("n_kept"),
          r4(col("s").cast("double") / col("n_kept").cast("double"))
            .as("trimmed_mean_chars"))
        .orderBy("source")
    }),


    // Deterministic epoch interleave: rank within source by content
    // address, epoch_key = (r−1)·S + source_idx — the training-order
    // query. The GLOBAL order is a computed key, never a global
    // row_number (the classic unpartitioned-window scale-killer);
    // ordering by the key interleaves sources round-robin, reruns are
    // byte-identical, and the tail (exhausted sources) stays sparse
    // but totally ordered.
    "q198_epoch_interleave" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      // the one unpartitioned window runs over the DISTINCT source
      // list (|sources| rows, broadcast afterwards) — never over data
      val srcIdx = docs.select(col("source")).distinct()
        .withColumn("src_idx",
          row_number().over(Window.orderBy(col("source"))).cast("long") - 1)
      val nSrc = srcIdx.agg(count(lit(1)).as("n_src"))
      val wSrc = Window.partitionBy(col("source"))
        .orderBy(md5(col("text")), col("doc_id"))
      docs
        .withColumn("r", row_number().over(wSrc).cast("long"))
        .join(broadcast(srcIdx), Seq("source"))
        .crossJoin(broadcast(nSrc))
        .select(col("doc_id"), col("source"), col("r"),
          ((col("r") - 1) * col("n_src") + col("src_idx"))
            .as("epoch_key"))
        .orderBy("epoch_key")
    }),


    // Quality gate with a REASON bitmask (C4/Gopher-style cleaning,
    // explainable): every rule is an exact integer comparison on the
    // q22 counts, so the verdict is engine-exact and each dropped doc
    // says why — the per-doc companion of q195's dedup explain.
    "q199_quality_gate" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val toks = graft.functions.TextFunctions.wsTokens(col("text"))
      val tri = graft.functions.GraftFunctions.wordShingles(toks, 3)
      val nTok = size(toks).cast("long")
      val nChars = length(col("text")).cast("long")
      val nAlpha = graft.functions.TextFunctions.alphaCount(col("text"))
        .cast("long")
      val nPunct = graft.functions.TextFunctions.punctCount(col("text"))
        .cast("long")
      val nStop = graft.functions.TextFunctions
        .stopwordCount(col("text"),
          graft.functions.TextFunctions.stopwords("en")).cast("long")
      val nTri = size(tri).cast("long")
      val nTriD = size(array_distinct(tri)).cast("long")
      val mask =
        when(nTok < 5, 1L).otherwise(0L) +
          when(nAlpha * 1000L < nChars * 600L, 2L).otherwise(0L) +
          when(nPunct * 1000L > nChars * 100L, 4L).otherwise(0L) +
          when(nStop === 0L, 8L).otherwise(0L) +
          when(nTri > 0L && nTriD * 1000L < nTri * 800L, 16L)
            .otherwise(0L)
      Tables.documents(s, dir)
        .select(col("doc_id"), nTok.as("n_tokens"), nChars.as("n_chars"),
          mask.as("reason_mask"), (mask === 0L).as("kept"))
        .orderBy("doc_id")
    }),


    // Capstone composition: quality gate (q199) → byte-exact dedup
    // survivors → content-addressed token-budget fill per source
    // (q159's convention) — the cleaning pipeline a corpus run
    // actually executes, certified END-TO-END by one oracle instead
    // of per-stage.
    "q200_clean_pipeline" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      graft.functions.GraftFunctions.register(s)
      val toks = graft.functions.TextFunctions.wsTokens(col("text"))
      val tri = graft.functions.GraftFunctions.wordShingles(toks, 3)
      val nTok = size(toks).cast("long")
      val nChars = length(col("text")).cast("long")
      val nAlpha = graft.functions.TextFunctions.alphaCount(col("text"))
        .cast("long")
      val nPunct = graft.functions.TextFunctions.punctCount(col("text"))
        .cast("long")
      val nStop = graft.functions.TextFunctions
        .stopwordCount(col("text"),
          graft.functions.TextFunctions.stopwords("en")).cast("long")
      val nTriD = size(array_distinct(tri)).cast("long")
      val clean = Tables.documents(s, dir)
        .filter(nTok >= 5 && nAlpha * 1000L >= nChars * 600L &&
          nPunct * 1000L <= nChars * 100L && nStop > 0L &&
          !(size(tri) > 0 && nTriD * 1000L < size(tri).cast("long") * 800L))
      val wDup = Window.partitionBy(md5(col("text")))
      val survivors = clean
        .withColumn("surv", min(col("doc_id")).over(wDup))
        .filter(col("doc_id") === col("surv"))
      val priority = conv(substring(md5(col("text")), 1, 8), 16, 10)
        .cast("long")
      // per-source budget fill via ScaleOps.groupedCumSum (q159's
      // r11 form): no per-source single-task sort + prefix sum
      graft.operators.ScaleOps.groupedCumSum(
          survivors.select(col("doc_id"), col("source"),
            nTok.as("n_tokens"), priority.as("priority")),
          Seq("source"), Seq(col("priority").asc, col("doc_id").asc),
          "n_tokens", cumCol = "cum_tokens")
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("cum_tokens"), (col("cum_tokens") <= 800L).as("kept"))
        .orderBy("doc_id")
    }),


    // Corpus balance audit: per language, the Simpson-index effective
    // source count (Σc)²/Σc² — "how many sources is this slice REALLY
    // drawing from" — plus the top source's share. The entropy-based
    // diversity needs libm log (gate-hostile); Simpson is exact
    // integers + one division, and 2^H ≈ Simpson for near-uniform
    // mixes. One aggregate over |lang|×|source| cells.
    "q194_source_diversity" -> ((s, dir) => {
      val perSrc = Tables.documents(s, dir)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("c"))
      perSrc.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sources"),
          sum(col("c")).as("n_docs"),
          sum(col("c") * col("c")).as("sum_c2"),
          max(col("c")).as("top_c"))
        .select(col("lang"), col("n_sources"), col("n_docs"),
          r4((col("n_docs") * col("n_docs")).cast("double") /
            col("sum_c2").cast("double")).as("effective_sources"),
          expr("top_c * 1000L div n_docs").as("top_share_permille"))
        .orderBy("lang")
    }),


    // k-anonymity generalization ladder (q161's remediation step):
    // for each candidate balance-band width, how many QI groups stay
    // re-identifiable (n < k) — the report that picks the coarsest
    // compliant generalization instead of guessing.
    "q196_generalization_ladder" -> ((s, dir) => {
      val widths = Seq(1000, 5000, 10000)
      widths.map { wth =>
        Tables.customer(s, dir)
          .groupBy(col("c_nationkey").cast("long").as("nation"),
            col("c_mktsegment").as("segment"),
            floor(col("c_acctbal") / wth).cast("long").as("b"))
          .agg(count(lit(1)).as("n"))
          .agg(lit(wth.toLong).as("band_width"),
            count(lit(1)).as("n_groups"),
            sum(when(col("n") < 5, 1L).otherwise(0L)).as("n_risky"),
            max(when(col("n") < 5, col("n")).otherwise(0L))
              .as("largest_risky"))
          .select(col("band_width"), col("n_groups"), col("n_risky"),
            (col("n_risky") === 0L).as("compliant"))
      }.reduce(_.unionByName(_)).orderBy("band_width")
    }),


    // TPC-H Q14 shape: promo revenue share per ship-month —
    // conditional cents, integral permille, no join ordering hazards
    // (part broadcasts).
    "q193_promo_share" -> ((s, dir) => {
      val cents = floor(col("l_extendedprice") * (lit(1.0) -
        col("l_discount")) * 100 + lit(0.5)).cast("long")
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_type"))),
          col("p_partkey") === col("l_partkey"))
        .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("month"))
        .agg(sum(cents).as("total_c"),
          sum(when(col("p_type") === "PROMO", cents).otherwise(0L))
            .as("promo_c"))
        .select(col("month"), (col("total_c") / 100.0).as("revenue"),
          expr("promo_c * 1000L div total_c").as("promo_share_permille"))
        .orderBy("month")
    }),
  )

  /** DuckDB oracle SQL for every query above (same keys). */
  val oracleSql: Map[String, String] = Map(

    // q163: identical nation-pair OR predicate and by-year rollup.
    "q163_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       year(l_shipdate)::BIGINT AS l_year,
        |       floor(sum(l_extendedprice * (1.0 - l_discount)) * 100 + 0.5)
        |         / 100 AS volume,
        |       count(*)::BIGINT AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        |    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin,


    // q150: TPC-H Q5 shape — the dual nation-key condition makes the
    // customer and supplier sides meet in the SAME nation.
    "q150_local_supplier_volume" ->
      """SELECT n_name,
        |       floor(sum(l_extendedprice * (1.0 - l_discount)) * 100 + 0.5)
        |         / 100 AS revenue,
        |       count(*)::BIGINT AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,


    // q171: TPC-H Q13 — the priority filter must ride the LEFT JOIN
    // condition so zero-order customers stay.
    "q171_order_count_distribution" ->
      """SELECT c_count, count(*)::BIGINT AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey)::BIGINT AS c_count
        |      FROM customer LEFT JOIN orders
        |        ON o_custkey = c_custkey AND o_orderpriority <> '1-URGENT'
        |      GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,


    // q172: TPC-H Q17 — the oracle keeps the textbook correlated
    // per-part average as a grouped CTE; quantities are integral
    // doubles so the mean is exact-sum/count on both engines, and
    // revenue folds integer cents before the /7 annualization.
    "q172_small_qty_revenue" ->
      """WITH li AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice, p_brand
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')),
        |pa AS (
        |  SELECT l_partkey AS pk, avg(l_quantity) AS aq
        |  FROM li GROUP BY 1)
        |SELECT p_brand,
        |       floor(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |             / 100.0 / 7.0 * 100 + 0.5) / 100 AS avg_yearly,
        |       count(*)::BIGINT AS n_small
        |FROM li JOIN pa ON pk = l_partkey
        |WHERE l_quantity < 0.5 * aq
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,


    // q173: TPC-H Q21 shape — the EXISTS/NOT-EXISTS pair expressed as
    // one per-order distinct-count aggregate, identically on both
    // engines (the equivalence is definitional: "some other supplier
    // in the order" = n_supps ≥ 2; "no other supplier returned" =
    // exactly one distinct returned supplier).
    "q173_waiting_suppliers" ->
      """WITH per_order AS (
        |  SELECT l_orderkey AS ok,
        |         count(DISTINCT l_suppkey)::BIGINT AS n_supps,
        |         count(DISTINCT CASE WHEN l_returnflag = 'R'
        |                             THEN l_suppkey END)::BIGINT AS n_ret
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE o_orderstatus = 'F'
        |  GROUP BY 1),
        |blamed AS (
        |  SELECT DISTINCT l.l_orderkey, l.l_suppkey
        |  FROM lineitem l JOIN per_order ON ok = l.l_orderkey
        |  WHERE l.l_returnflag = 'R' AND n_supps >= 2 AND n_ret = 1)
        |SELECT s_name, count(*)::BIGINT AS numwait
        |FROM blamed JOIN supplier ON s_suppkey = l_suppkey
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 25""".stripMargin,


    // q174: TPC-H Q22 shape — the above-average test is the exact
    // integer cross-multiplication bal_c·n > Σbal_c (no float
    // average anywhere near the comparison).
    "q174_inactive_rich_customers" ->
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey, c_acctbal,
        |         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
        |  FROM customer),
        |m AS (
        |  SELECT sum(bal_c)::HUGEINT AS s_c, count(*)::BIGINT AS n
        |  FROM c WHERE c_acctbal > 0.0)
        |SELECT n_name, count(*)::BIGINT AS n_custs,
        |       (sum(bal_c) / 100.0)::DOUBLE AS total_bal
        |FROM c, m
        |JOIN nation ON n_nationkey = c_nationkey
        |WHERE bal_c::HUGEINT * n > s_c
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,


    // q183: identical rollup; the share is integral division over
    // exact cent sums on both engines.
    "q183_share_rollup" ->
      """WITH pn AS (
        |  SELECT r_name, n_name,
        |         sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100
        |                        + 0.5) AS BIGINT))::BIGINT AS rev_c
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT r_name, n_name, rev_c,
        |         sum(rev_c) OVER (PARTITION BY r_name) AS total_c,
        |         row_number() OVER (PARTITION BY r_name
        |                            ORDER BY rev_c DESC, n_name) AS rk
        |  FROM pn),
        |lab AS (
        |  SELECT r_name,
        |         CASE WHEN rk <= 2 THEN n_name ELSE 'OTHER' END AS label,
        |         rev_c, total_c
        |  FROM rk)
        |SELECT r_name, label, (sum(rev_c) / 100.0)::DOUBLE AS revenue,
        |       (sum(rev_c) * 1000 // max(total_c))::BIGINT AS share_permille,
        |       count(*)::BIGINT AS n_nations
        |FROM lab GROUP BY 1, 2
        |ORDER BY r_name, share_permille DESC, label""".stripMargin,


    // q184: same dense day axis and integer z-flag; the z column is
    // one IEEE sqrt over identical integers.
    "q184_ingest_anomaly" ->
      """WITH pd AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS d,
        |         count(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT min(d) AS dmin, max(d) AS dmax FROM pd),
        |dense AS (
        |  SELECT t.event_type, days.d, coalesce(pd.c, 0)::BIGINT AS c
        |  FROM (SELECT DISTINCT event_type FROM pd) t
        |  CROSS JOIN (SELECT unnest(range(dmin, dmax + 1)) AS d
        |              FROM bounds) days
        |  LEFT JOIN pd ON pd.event_type = t.event_type AND pd.d = days.d),
        |mom AS (
        |  SELECT event_type, count(*)::BIGINT AS n, sum(c)::BIGINT AS s,
        |         sum(c * c)::BIGINT AS s2
        |  FROM dense GROUP BY 1)
        |SELECT dense.event_type, dense.d AS epoch_day, dense.c,
        |       floor((dense.c * n - s)::DOUBLE
        |             / sqrt((n * s2 - s * s)::DOUBLE) * 10000 + 0.5)
        |         / 10000 AS z,
        |       ((dense.c * n - s) * (dense.c * n - s)
        |          > 9 * (n * s2 - s * s)) AS anomalous
        |FROM dense JOIN mom ON mom.event_type = dense.event_type
        |ORDER BY 1, 2""".stripMargin,


    // q185: identical split/argmax/scoring; the pair's period is its
    // LATER event's timestamp on both engines.
    "q185_markov_backtest" ->
      """WITH trans AS (
        |  SELECT user_id, ts, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS prev
        |  FROM events),
        |tr AS (SELECT * FROM trans WHERE prev IS NOT NULL),
        |counts AS (
        |  SELECT prev, event_type, count(*)::BIGINT AS n
        |  FROM tr WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
        |  GROUP BY 1, 2),
        |pred AS (
        |  SELECT prev, event_type AS predicted_next, n AS train_n
        |  FROM (SELECT *, row_number() OVER (PARTITION BY prev
        |          ORDER BY n DESC, event_type) AS rk FROM counts)
        |  WHERE rk = 1)
        |SELECT tr.prev, max(predicted_next) AS predicted_next,
        |       max(train_n)::BIGINT AS train_n,
        |       count(*)::BIGINT AS n_test,
        |       sum(CASE WHEN tr.event_type = predicted_next
        |                THEN 1 ELSE 0 END)::BIGINT AS n_correct,
        |       (sum(CASE WHEN tr.event_type = predicted_next
        |                 THEN 1 ELSE 0 END) * 1000 // count(*))::BIGINT
        |         AS acc_permille
        |FROM tr LEFT JOIN pred ON pred.prev = tr.prev
        |WHERE tr.ts >= TIMESTAMP '2024-01-16 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin,


    "q186_disjunctive_revenue" ->
      """SELECT floor(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
        |                           * 100 + 0.5) AS BIGINT)) / 100.0
        |             * 100 + 0.5) / 100 AS revenue,
        |       count(*)::BIGINT AS n_items
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 11 AND 25
        |       AND l_quantity BETWEEN 5 AND 30)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 26 AND 50
        |       AND l_quantity BETWEEN 10 AND 40)""".stripMargin,


    "q187_priority_late_ship" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate)
        |GROUP BY 1 ORDER BY 1""".stripMargin,


    "q188_supplier_diversity" ->
      """SELECT p_brand, p_size,
        |       count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_name LIKE '%7')
        |GROUP BY 1, 2
        |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin,


    "q189_part_value_share" ->
      """WITH pp AS (
        |  SELECT l_partkey,
        |         sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |           ::BIGINT AS value_c
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT sum(value_c)::HUGEINT AS total_c FROM pp)
        |SELECT l_partkey, (value_c / 100.0)::DOUBLE AS value,
        |       (value_c::HUGEINT * 1000000 // total_c)::BIGINT AS share_ppm
        |FROM pp, tot
        |WHERE value_c::HUGEINT * 1000000 // total_c > 800
        |ORDER BY share_ppm DESC, l_partkey""".stripMargin,


    "q190_market_share" ->
      """WITH base AS (
        |  SELECT year(o_orderdate)::BIGINT AS yr,
        |         CAST(floor(l_extendedprice * (1.0 - l_discount) * 100
        |                    + 0.5) AS BIGINT) AS cents,
        |         (s_nationkey = 7) AS is_target
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  WHERE r_name = 'ASIA')
        |SELECT yr, (sum(cents) / 100.0)::DOUBLE AS total_rev,
        |       (sum(CASE WHEN is_target THEN cents ELSE 0 END) * 1000
        |          // sum(cents))::BIGINT AS share_permille
        |FROM base GROUP BY 1 ORDER BY 1""".stripMargin,


    "q191_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100
        |                        + 0.5) AS BIGINT))::BIGINT AS rev_c
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, (rev_c / 100.0)::DOUBLE AS total_rev
        |FROM rev JOIN supplier ON s_suppkey = l_suppkey
        |WHERE rev_c = (SELECT max(rev_c) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,


    "q192_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, sum(l_quantity) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300.0)
        |SELECT c_name, c_custkey, o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
        |       total_qty::BIGINT AS total_qty
        |FROM big
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |ORDER BY total_qty DESC, o_orderkey
        |LIMIT 20""".stripMargin,


    "q219_magnitude_histogram" ->
      """WITH c AS (
        |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM orders WHERE o_totalprice > 0)
        |SELECT length(printf('%b', c))::BIGINT AS bits,
        |       count(*)::BIGINT AS n_orders,
        |       (min(c) / 100.0)::DOUBLE AS min_amount,
        |       (max(c) / 100.0)::DOUBLE AS max_amount
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,


    // q220: identical fixed IEEE Wilson formula over exact integer
    // (returns, total) pairs.
    "q220_wilson_returns" ->
      """WITH pb AS (
        |  SELECT p_brand, count(*)::BIGINT AS n,
        |         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |           ::BIGINT AS r
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  GROUP BY 1)
        |SELECT p_brand, n, r,
        |       floor((r::DOUBLE / n::DOUBLE) * 10000 + 0.5) / 10000
        |         AS return_rate,
        |       floor(((r::DOUBLE / n::DOUBLE + 3.8416 / (2.0 * n::DOUBLE)
        |               - 1.96 * sqrt((r::DOUBLE / n::DOUBLE)
        |                   * (1.0 - r::DOUBLE / n::DOUBLE) / n::DOUBLE
        |                   + 3.8416 / (4.0 * n::DOUBLE * n::DOUBLE)))
        |              / (1.0 + 3.8416 / n::DOUBLE)) * 10000 + 0.5) / 10000
        |         AS wilson_lb
        |FROM pb
        |ORDER BY wilson_lb DESC, p_brand""".stripMargin,


    // q221: the same five exact integer moments in HUGEINT; the only
    // IEEE steps are the final divisions.
    "q221_brand_trend_ols" ->
      """WITH wk AS (
        |  SELECT p_brand,
        |         (date_diff('day', DATE '1992-01-01', o_orderdate) // 7)
        |           ::BIGINT AS wk,
        |         sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |             * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
        |           // 10000 AS y
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN part ON p_partkey = l_partkey
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT p_brand, count(*)::HUGEINT AS n,
        |         sum(wk)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
        |         sum(wk * y)::HUGEINT AS sxy,
        |         sum(wk * wk)::HUGEINT AS sxx,
        |         sum(y::HUGEINT * y::HUGEINT) AS syy
        |  FROM wk GROUP BY 1),
        |d AS (
        |  SELECT p_brand, n,
        |         n * sxy - sx * sy AS num,
        |         n * sxx - sx * sx AS dxx,
        |         n * syy - sy * sy AS dyy,
        |         sy * sxx - sx * sxy AS inum
        |  FROM m)
        |SELECT p_brand, n::BIGINT AS n_weeks,
        |       floor(num::DOUBLE / dxx::DOUBLE * 10000 + 0.5) / 10000
        |         AS slope_usd_wk,
        |       floor(inum::DOUBLE / dxx::DOUBLE * 10000 + 0.5) / 10000
        |         AS intercept_usd,
        |       floor((num * num)::DOUBLE / (dxx * dyy)::DOUBLE
        |             * 10000 + 0.5) / 10000 AS r2
        |FROM d WHERE n >= 10 AND dxx > 0 AND dyy > 0
        |ORDER BY p_brand""".stripMargin,


    // q222: identical monthly series, identical pair space, identical
    // nearest-rank pick — each slope one IEEE division of exact ints.
    "q222_theil_sen_trend" ->
      """WITH mo AS (
        |  SELECT p_brand,
        |         ((date_part('year', o_orderdate)::BIGINT - 1992) * 12
        |          + date_part('month', o_orderdate)::BIGINT - 1) AS mo,
        |         sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |             * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
        |           // 10000 AS y
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN part ON p_partkey = l_partkey
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.p_brand,
        |         (b.y - a.y)::DOUBLE / (b.mo - a.mo)::DOUBLE AS slope
        |  FROM mo a JOIN mo b
        |    ON a.p_brand = b.p_brand AND a.mo < b.mo),
        |rk AS (
        |  SELECT p_brand, slope,
        |         row_number() OVER (PARTITION BY p_brand
        |                            ORDER BY slope) AS rk,
        |         count(*) OVER (PARTITION BY p_brand) AS m
        |  FROM pairs)
        |SELECT p_brand, m::BIGINT AS n_pairs,
        |       floor(slope * 10000 + 0.5) / 10000 AS ts_slope_usd_mo
        |FROM rk WHERE rk = (m + 1) // 2
        |ORDER BY p_brand""".stripMargin,


    // q223: same per-cell IEEE contributions, same value-sorted left
    // fold (list_reduce seeds with element 0; 0.0+x0 = x0 exactly).
    "q223_chi2_flag_linestatus" ->
      """WITH cells AS (
        |  SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS o
        |  FROM lineitem GROUP BY 1, 2),
        |rt AS (SELECT l_returnflag, sum(o)::BIGINT AS rtot
        |       FROM cells GROUP BY 1),
        |ct AS (SELECT l_linestatus, sum(o)::BIGINT AS ctot
        |       FROM cells GROUP BY 1),
        |tot AS (SELECT sum(o)::BIGINT AS n,
        |               count(DISTINCT l_returnflag)::BIGINT AS nr,
        |               count(DISTINCT l_linestatus)::BIGINT AS nc
        |        FROM cells),
        |contrib AS (
        |  SELECT n, nr, nc,
        |         pow(o::DOUBLE - rtot::DOUBLE * ctot::DOUBLE / n::DOUBLE,
        |             2.0)
        |           / (rtot::DOUBLE * ctot::DOUBLE / n::DOUBLE) AS cell
        |  FROM cells
        |  JOIN rt USING (l_returnflag)
        |  JOIN ct USING (l_linestatus)
        |  CROSS JOIN tot),
        |folded AS (
        |  SELECT n, nr, nc,
        |         list_reduce(list_sort(list(cell)), (a, x) -> a + x)
        |           AS chi2r
        |  FROM contrib GROUP BY 1, 2, 3)
        |SELECT n, (nr - 1) * (nc - 1) AS dof,
        |       floor(chi2r * 10000 + 0.5) / 10000 AS chi2,
        |       floor(sqrt(chi2r / (n::DOUBLE
        |                           * (least(nr, nc) - 1)::DOUBLE))
        |             * 10000 + 0.5) / 10000 AS cramers_v
        |FROM folded""".stripMargin,


    // q224: identical (nation, value)-grain weights, identical
    // integer 2·cumw ≥ totw crossing rule.
    "q224_weighted_median_value" ->
      """WITH pv AS (
        |  SELECT n_name,
        |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v_c,
        |         sum(l_quantity::BIGINT)::BIGINT AS w
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON n_nationkey = c_nationkey
        |  GROUP BY 1, 2),
        |cw AS (
        |  SELECT n_name, v_c,
        |         sum(w) OVER (PARTITION BY n_name ORDER BY v_c
        |                      ROWS UNBOUNDED PRECEDING) AS cumw,
        |         sum(w) OVER (PARTITION BY n_name) AS totw
        |  FROM pv)
        |SELECT n_name, (min(v_c) / 100.0)::DOUBLE AS wmedian_value,
        |       max(totw)::BIGINT AS total_qty
        |FROM cw WHERE cumw * 2 >= totw
        |GROUP BY 1 ORDER BY 1""".stripMargin,


    // q225: same single-space tokenizer as q13; exact counts.
    "q225_vocab_richness" ->
      """WITH tk AS (
        |  SELECT source, token, count(*)::BIGINT AS c
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS token
        |        FROM documents)
        |  WHERE length(token) > 0
        |  GROUP BY 1, 2),
        |a AS (
        |  SELECT source, sum(c)::BIGINT AS n_tokens,
        |         count(*)::BIGINT AS n_types,
        |         sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax
        |  FROM tk GROUP BY 1)
        |SELECT source, n_tokens, n_types, n_hapax,
        |       floor(n_types::DOUBLE / n_tokens::DOUBLE * 10000 + 0.5)
        |         / 10000 AS ttr,
        |       floor(n_hapax::DOUBLE / n_types::DOUBLE * 10000 + 0.5)
        |         / 10000 AS hapax_rate
        |FROM a ORDER BY source""".stripMargin,


    // q226: identical integer revenue compares, identical island
    // construction and run-rank tie-break.
    "q226_revenue_streaks" ->
      """WITH d AS (
        |  SELECT n_name, o_orderdate AS d,
        |         sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |             * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
        |           ::BIGINT AS rev
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON n_nationkey = c_nationkey
        |  GROUP BY 1, 2),
        |b AS (
        |  SELECT n_name, d, rev,
        |         CASE WHEN rev > lag(rev) OVER w THEN 0 ELSE 1 END AS brk
        |  FROM d WINDOW w AS (PARTITION BY n_name ORDER BY d)),
        |g AS (
        |  SELECT n_name, d,
        |         sum(brk) OVER (PARTITION BY n_name ORDER BY d
        |                        ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM b),
        |runs AS (
        |  SELECT n_name, grp, count(*)::BIGINT AS len, max(d) AS end_d
        |  FROM g GROUP BY 1, 2),
        |rk AS (
        |  SELECT n_name, len, end_d,
        |         row_number() OVER (PARTITION BY n_name
        |                            ORDER BY len DESC, end_d) AS rk
        |  FROM runs)
        |SELECT n_name, len AS streak_days,
        |       strftime(end_d, '%Y-%m-%d') AS streak_end
        |FROM rk WHERE rk = 1 ORDER BY n_name""".stripMargin,


    // q227: same constraint set; PK checks count rows in repeated
    // key groups, FK checks count NOT EXISTS orphans.
    "q227_integrity_audit" ->
      """SELECT * FROM (
        |  SELECT 'pk_orders' AS check_name,
        |         COALESCE(sum(CASE WHEN c > 1 THEN c ELSE 0 END), 0)::BIGINT
        |           AS n_violations,
        |         count(*)::BIGINT AS n_checked
        |  FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)
        |  UNION ALL
        |  SELECT 'pk_customer',
        |         COALESCE(sum(CASE WHEN c > 1 THEN c ELSE 0 END), 0)::BIGINT,
        |         count(*)::BIGINT
        |  FROM (SELECT count(*) AS c FROM customer GROUP BY c_custkey)
        |  UNION ALL
        |  SELECT 'pk_part',
        |         COALESCE(sum(CASE WHEN c > 1 THEN c ELSE 0 END), 0)::BIGINT,
        |         count(*)::BIGINT
        |  FROM (SELECT count(*) AS c FROM part GROUP BY p_partkey)
        |  UNION ALL
        |  SELECT 'pk_supplier',
        |         COALESCE(sum(CASE WHEN c > 1 THEN c ELSE 0 END), 0)::BIGINT,
        |         count(*)::BIGINT
        |  FROM (SELECT count(*) AS c FROM supplier GROUP BY s_suppkey)
        |  UNION ALL
        |  SELECT 'fk_lineitem_orders',
        |         (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |            (SELECT 1 FROM orders o
        |             WHERE o.o_orderkey = l.l_orderkey))::BIGINT,
        |         (SELECT count(*) FROM lineitem)::BIGINT
        |  UNION ALL
        |  SELECT 'fk_lineitem_part',
        |         (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |            (SELECT 1 FROM part p
        |             WHERE p.p_partkey = l.l_partkey))::BIGINT,
        |         (SELECT count(*) FROM lineitem)::BIGINT
        |  UNION ALL
        |  SELECT 'fk_orders_customer',
        |         (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |            (SELECT 1 FROM customer c
        |             WHERE c.c_custkey = o.o_custkey))::BIGINT,
        |         (SELECT count(*) FROM orders)::BIGINT
        |  UNION ALL
        |  SELECT 'fk_customer_nation',
        |         (SELECT count(*) FROM customer c WHERE NOT EXISTS
        |            (SELECT 1 FROM nation n
        |             WHERE n.n_nationkey = c.c_nationkey))::BIGINT,
        |         (SELECT count(*) FROM customer)::BIGINT
        |  UNION ALL
        |  SELECT 'fk_supplier_nation',
        |         (SELECT count(*) FROM supplier s WHERE NOT EXISTS
        |            (SELECT 1 FROM nation n
        |             WHERE n.n_nationkey = s.s_nationkey))::BIGINT,
        |         (SELECT count(*) FROM supplier)::BIGINT
        |  UNION ALL
        |  SELECT 'fk_nation_region',
        |         (SELECT count(*) FROM nation n WHERE NOT EXISTS
        |            (SELECT 1 FROM region r
        |             WHERE r.r_regionkey = n.n_regionkey))::BIGINT,
        |         (SELECT count(*) FROM nation)::BIGINT
        |) ORDER BY check_name""".stripMargin,


    // q228: identical exact ntile bucketing (sp, custkey tie-break).
    "q228_decile_mobility" ->
      """WITH s96 AS (
        |  SELECT o_custkey,
        |         ntile(10) OVER (ORDER BY sp, o_custkey) AS dec_1996
        |  FROM (SELECT o_custkey,
        |               sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |                 ::BIGINT AS sp
        |        FROM orders WHERE date_part('year', o_orderdate) = 1996
        |        GROUP BY 1)),
        |s97 AS (
        |  SELECT o_custkey,
        |         ntile(10) OVER (ORDER BY sp, o_custkey) AS dec_1997
        |  FROM (SELECT o_custkey,
        |               sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |                 ::BIGINT AS sp
        |        FROM orders WHERE date_part('year', o_orderdate) = 1997
        |        GROUP BY 1))
        |SELECT dec_1996, dec_1997, count(*)::BIGINT AS n_customers
        |FROM s96 JOIN s97 USING (o_custkey)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,


    // q229: isodow (1=Mon..7) matches weekday()+1; permille integer
    // divisions.
    "q229_dow_seasonality" ->
      """WITH d AS (
        |  SELECT event_type, date_part('isodow', ts)::BIGINT AS isodow,
        |         count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT event_type, isodow, n,
        |         sum(n) OVER (PARTITION BY event_type) AS tot
        |  FROM d)
        |SELECT event_type, isodow, n,
        |       (n * 1000 // tot)::BIGINT AS share_permille,
        |       (n * 7000 // tot)::BIGINT AS index_permille
        |FROM t ORDER BY event_type, isodow""".stripMargin,


    "q216_balance_deciles" ->
      """WITH rk AS (
        |  SELECT c_nationkey::BIGINT AS nation,
        |         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c,
        |         row_number() OVER (PARTITION BY c_nationkey
        |           ORDER BY CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT),
        |                    c_custkey) AS r,
        |         count(*) OVER (PARTITION BY c_nationkey) AS n
        |  FROM customer)
        |SELECT nation, least((r - 1) * 10 // n, 9)::BIGINT AS decile,
        |       count(*)::BIGINT AS n_custs,
        |       (sum(bal_c) / 100.0)::DOUBLE AS total_bal
        |FROM rk GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,


    "q217_conversion_by_hour" ->
      """WITH s AS (
        |  SELECT user_id, min(ts) AS s_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |p AS (
        |  SELECT user_id, min(ts) AS p_ts FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |j AS (
        |  SELECT hour(s_ts)::BIGINT AS signup_hour,
        |         CASE WHEN p_ts IS NOT NULL AND p_ts > s_ts
        |                   AND epoch_us(p_ts) - epoch_us(s_ts) <= 86400000000
        |              THEN 1 ELSE 0 END AS converted
        |  FROM s LEFT JOIN p ON s.user_id = p.user_id)
        |SELECT signup_hour, count(*)::BIGINT AS n_signups,
        |       sum(converted)::BIGINT AS n_converted,
        |       (sum(converted) * 1000 // count(*))::BIGINT AS conv_permille
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,


    "q218_source_vocab_cosine" ->
      """WITH tok AS (
        |  SELECT source, unnest(list_filter(string_split(lower(text), ' '),
        |           x -> length(x) > 0)) AS tok
        |  FROM documents),
        |tc AS (
        |  SELECT source, tok, count(*)::BIGINT AS c
        |  FROM tok GROUP BY 1, 2),
        |norms AS (
        |  SELECT source, sum(c * c)::BIGINT AS n2 FROM tc GROUP BY 1),
        |dots AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |         sum(a.c * b.c)::BIGINT AS dot
        |  FROM tc a JOIN tc b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b,
        |       floor(dot::DOUBLE / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE))
        |             * 10000 + 0.5) / 10000 AS cos
        |FROM dots
        |JOIN norms na ON na.source = src_a
        |JOIN norms nb ON nb.source = src_b
        |ORDER BY 1, 2""".stripMargin,


    "q213_order_cadence" ->
      """WITH g AS (
        |  SELECT o_custkey,
        |         date_diff('day', lag(o_orderdate) OVER w, o_orderdate)
        |           ::BIGINT AS gap_d
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_orderdate, o_orderkey)),
        |a AS (
        |  SELECT o_custkey, count(*)::BIGINT AS n_gaps,
        |         sum(gap_d)::BIGINT AS s,
        |         sum(gap_d * gap_d)::BIGINT AS s2
        |  FROM g WHERE gap_d IS NOT NULL GROUP BY 1)
        |SELECT o_custkey, n_gaps,
        |       floor(s::DOUBLE / n_gaps::DOUBLE * 10000 + 0.5) / 10000
        |         AS mean_gap_d,
        |       floor(sqrt((n_gaps * s2 - s * s)::DOUBLE) / s::DOUBLE
        |             * 10000 + 0.5) / 10000 AS cv
        |FROM a WHERE n_gaps >= 5 AND s > 0
        |ORDER BY o_custkey""".stripMargin,


    "q214_dominant_type_segments" ->
      """WITH pt AS (
        |  SELECT o_custkey, p_type, sum(l_quantity::BIGINT)::BIGINT AS qty
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN part ON p_partkey = l_partkey
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT o_custkey, p_type, qty,
        |         sum(qty) OVER (PARTITION BY o_custkey) AS total_qty,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY qty DESC, p_type) AS rk
        |  FROM pt)
        |SELECT p_type AS dominant_type, count(*)::BIGINT AS n_custs,
        |       (sum(qty) * 1000 // sum(total_qty))::BIGINT
        |         AS avg_share_permille
        |FROM rk WHERE rk = 1
        |GROUP BY 1 ORDER BY 1""".stripMargin,


    "q215_trade_flow_matrix" ->
      """SELECT cr.r_name AS cust_region, sr.r_name AS supp_region,
        |       (sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100
        |                       + 0.5) AS BIGINT)) / 100.0)::DOUBLE
        |         AS revenue,
        |       count(*)::BIGINT AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN region cr ON cn.n_regionkey = cr.r_regionkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN region sr ON sn.n_regionkey = sr.r_regionkey
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,


    "q211_cold_parts" ->
      """WITH mx AS (SELECT max(l_shipdate) AS t_max FROM lineitem),
        |ok AS (SELECT DISTINCT l_partkey FROM lineitem, mx
        |       WHERE l_shipdate > t_max - INTERVAL 60 DAY),
        |p AS (
        |  SELECT p_partkey, p_brand, p_size,
        |         (l_partkey IS NOT NULL) AS is_ordered
        |  FROM part LEFT JOIN ok ON p_partkey = l_partkey),
        |c AS (
        |  SELECT p_partkey, p_brand, p_size, is_ordered,
        |    last_value(CASE WHEN is_ordered THEN p_size END IGNORE NULLS)
        |      OVER (PARTITION BY p_brand ORDER BY p_size ASC, p_partkey ASC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS below_s,
        |    last_value(CASE WHEN is_ordered THEN p_partkey END IGNORE NULLS)
        |      OVER (PARTITION BY p_brand ORDER BY p_size ASC, p_partkey ASC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS below_k,
        |    last_value(CASE WHEN is_ordered THEN p_size END IGNORE NULLS)
        |      OVER (PARTITION BY p_brand ORDER BY p_size DESC, p_partkey DESC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS above_s,
        |    last_value(CASE WHEN is_ordered THEN p_partkey END IGNORE NULLS)
        |      OVER (PARTITION BY p_brand ORDER BY p_size DESC, p_partkey DESC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS above_k
        |  FROM p),
        |pick AS (
        |  SELECT p_partkey, p_brand, p_size,
        |    CASE WHEN below_s IS NULL THEN above_k
        |         WHEN above_s IS NULL THEN below_k
        |         WHEN p_size - below_s <= above_s - p_size THEN below_k
        |         ELSE above_k END AS nearest_partkey,
        |    CASE WHEN below_s IS NULL THEN above_s
        |         WHEN above_s IS NULL THEN below_s
        |         WHEN p_size - below_s <= above_s - p_size THEN below_s
        |         ELSE above_s END AS nearest_size
        |  FROM c WHERE NOT is_ordered)
        |SELECT p_partkey, p_brand, p_size, nearest_partkey,
        |       nearest_size,
        |       abs(nearest_size - p_size) AS size_gap
        |FROM pick ORDER BY p_partkey""".stripMargin,


    "q212_supplier_attrition" ->
      """WITH mx AS (SELECT max(l_shipdate) AS t_max FROM lineitem)
        |SELECT l_suppkey, count(*)::BIGINT AS n_lines,
        |       date_diff('day', max(l_shipdate), t_max)::BIGINT
        |         AS days_idle
        |FROM lineitem, mx
        |GROUP BY l_suppkey, t_max
        |ORDER BY days_idle DESC, l_suppkey
        |LIMIT 10""".stripMargin,


    "q209_rfm_segmentation" ->
      """WITH mx AS (SELECT max(o_orderdate) AS t_max FROM orders),
        |rfm AS (
        |  SELECT o_custkey,
        |         date_diff('day', max(o_orderdate), t_max)::BIGINT AS r,
        |         count(*)::BIGINT AS f,
        |         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |           ::BIGINT AS m_c
        |  FROM orders, mx GROUP BY o_custkey, t_max),
        |sc AS (
        |  SELECT o_custkey, r, f, m_c,
        |         6 - ntile(5) OVER (ORDER BY r ASC, o_custkey) AS score_r,
        |         6 - ntile(5) OVER (ORDER BY f DESC, o_custkey) AS score_f,
        |         6 - ntile(5) OVER (ORDER BY m_c DESC, o_custkey) AS score_m
        |  FROM rfm),
        |seg AS (
        |  SELECT r, m_c,
        |         CASE WHEN score_r >= 4 AND score_f >= 4 THEN 'champion'
        |              WHEN score_r >= 4 AND score_f < 4 THEN 'recent'
        |              WHEN score_r <= 2 AND score_f >= 4 THEN 'at_risk'
        |              WHEN score_r <= 2 AND score_f <= 2 THEN 'lost'
        |              ELSE 'regular' END AS segment
        |  FROM sc)
        |SELECT segment, count(*)::BIGINT AS n_custs,
        |       (sum(m_c) / 100.0)::DOUBLE AS monetary,
        |       floor(sum(r)::DOUBLE / count(*)::DOUBLE * 10000 + 0.5)
        |         / 10000 AS avg_recency_days
        |FROM seg GROUP BY 1 ORDER BY 1""".stripMargin,


    "q210_discount_lift" ->
      """WITH pb AS (
        |  SELECT CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS disc_pct,
        |         count(*)::BIGINT AS n_items,
        |         sum(l_quantity::BIGINT)::BIGINT AS qty
        |  FROM lineitem GROUP BY 1),
        |base AS (SELECT n_items AS n0, qty AS q0 FROM pb WHERE disc_pct = 0)
        |SELECT disc_pct, n_items,
        |       floor(qty::DOUBLE / n_items::DOUBLE * 10000 + 0.5) / 10000
        |         AS avg_qty,
        |       (qty * n0 * 1000 // (n_items * q0))::BIGINT AS lift_permille
        |FROM pb, base
        |ORDER BY disc_pct""".stripMargin,


    "q206_abc_classification" ->
      """WITH pp AS (
        |  SELECT l_partkey,
        |         sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100
        |                        + 0.5) AS BIGINT))::BIGINT AS rev_c
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT sum(rev_c)::HUGEINT AS total_c FROM pp),
        |c AS (
        |  SELECT rev_c,
        |         (sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey
        |            ROWS UNBOUNDED PRECEDING)::HUGEINT * 1000000
        |            // total_c)::BIGINT AS cum_ppm
        |  FROM pp, tot),
        |cl AS (
        |  SELECT rev_c, cum_ppm,
        |         CASE WHEN cum_ppm <= 800000 THEN 'A'
        |              WHEN cum_ppm <= 950000 THEN 'B'
        |              ELSE 'C' END AS abc_class
        |  FROM c)
        |SELECT abc_class, count(*)::BIGINT AS n_parts,
        |       (sum(rev_c) / 100.0)::DOUBLE AS revenue,
        |       min(cum_ppm)::BIGINT AS min_cum_ppm,
        |       max(cum_ppm)::BIGINT AS max_cum_ppm
        |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin,


    "q207_demand_acceleration" ->
      """WITH mx AS (SELECT max(l_shipdate) AS t_max FROM lineitem),
        |agg AS (
        |  SELECT l_partkey,
        |         sum(CASE WHEN l_shipdate > t_max - INTERVAL 7 DAY
        |                  THEN l_quantity::BIGINT ELSE 0 END)::BIGINT AS q7,
        |         sum(CASE WHEN l_shipdate <= t_max - INTERVAL 7 DAY
        |                  THEN l_quantity::BIGINT ELSE 0 END)::BIGINT AS q28
        |  FROM lineitem, mx
        |  WHERE l_shipdate > t_max - INTERVAL 35 DAY
        |  GROUP BY 1)
        |SELECT l_partkey, q7, q28,
        |       (q7 * 28 * 1000 // (q28 * 7))::BIGINT AS accel_permille
        |FROM agg
        |WHERE q28 > 0 AND q7 * 28 > q28 * 14
        |ORDER BY accel_permille DESC, l_partkey
        |LIMIT 30""".stripMargin,


    "q208_double_charges" ->
      """WITH o AS (
        |  SELECT user_id, event_id, ts,
        |         CAST(floor(value) AS BIGINT) AS amount_d,
        |         lag(event_id) OVER w AS prev_id,
        |         (epoch_us(ts) - epoch_us(lag(ts) OVER w))
        |           // 1000000 AS gap_s
        |  FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id, CAST(floor(value) AS BIGINT)
        |               ORDER BY ts, event_id))
        |SELECT user_id, event_id AS dup_event_id,
        |       prev_id AS orig_event_id, amount_d,
        |       gap_s::BIGINT AS gap_s
        |FROM o
        |WHERE prev_id IS NOT NULL AND gap_s <= 604800
        |ORDER BY user_id, dup_event_id""".stripMargin,


    "q204_event_runs" ->
      """WITH isl AS (
        |  SELECT user_id, event_type,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id)
        |         - row_number() OVER (PARTITION BY user_id, event_type
        |                              ORDER BY ts, event_id) AS island
        |  FROM events),
        |runs AS (
        |  SELECT user_id, event_type, island, count(*)::BIGINT AS run_len
        |  FROM isl GROUP BY 1, 2, 3)
        |SELECT event_type, count(*)::BIGINT AS n_runs,
        |       max(run_len)::BIGINT AS max_run,
        |       floor(sum(run_len)::DOUBLE / count(*)::DOUBLE * 10000
        |             + 0.5) / 10000 AS avg_run
        |FROM runs GROUP BY 1 ORDER BY 1""".stripMargin,


    "q205_coordinated_pairs" ->
      """WITH um AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 60000000 AS minute
        |  FROM events),
        |capped AS (
        |  SELECT user_id, minute FROM (
        |    SELECT user_id, minute,
        |           count(*) OVER (PARTITION BY minute) AS m_n
        |    FROM um)
        |  WHERE m_n <= 50)
        |SELECT a.user_id AS user_a, b.user_id AS user_b,
        |       count(*)::BIGINT AS n_shared_minutes
        |FROM capped a JOIN capped b
        |  ON a.minute = b.minute AND a.user_id < b.user_id
        |GROUP BY 1, 2
        |HAVING count(*) >= 3
        |ORDER BY n_shared_minutes DESC, user_a, user_b
        |LIMIT 50""".stripMargin,


    "q203_gap_percentiles" ->
      """WITH g AS (
        |  SELECT event_type, event_id,
        |         ((epoch_us(ts) - epoch_us(lag(ts) OVER w)) // 1000000)
        |           ::BIGINT AS gap_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
        |r AS (
        |  SELECT event_type, gap_s,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY gap_s, event_id) AS rk,
        |         count(*) OVER (PARTITION BY event_type) AS n
        |  FROM g WHERE gap_s IS NOT NULL)
        |SELECT event_type, max(n)::BIGINT AS n_gaps,
        |       max(CASE WHEN rk = (n - 1) * 50 // 100 + 1
        |                THEN gap_s END)::BIGINT AS p50_s,
        |       max(CASE WHEN rk = (n - 1) * 90 // 100 + 1
        |                THEN gap_s END)::BIGINT AS p90_s,
        |       max(CASE WHEN rk = (n - 1) * 99 // 100 + 1
        |                THEN gap_s END)::BIGINT AS p99_s
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,


    "q202_trimmed_mean" ->
      """WITH rk AS (
        |  SELECT source, n_chars,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY n_chars, doc_id) AS rk,
        |         count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT source, count(*)::BIGINT AS n_kept,
        |       floor(sum(n_chars)::DOUBLE / count(*)::DOUBLE * 10000
        |             + 0.5) / 10000 AS trimmed_mean_chars
        |FROM rk
        |WHERE rk > n // 10 AND rk <= n - n // 10
        |GROUP BY source ORDER BY source""".stripMargin,


    "q198_epoch_interleave" ->
      """WITH si AS (
        |  SELECT source, row_number() OVER (ORDER BY source) - 1 AS src_idx
        |  FROM (SELECT DISTINCT source FROM documents)),
        |ns AS (SELECT count(*)::BIGINT AS n_src FROM si),
        |rk AS (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY md5(text), doc_id) AS r
        |  FROM documents)
        |SELECT doc_id, rk.source, rk.r::BIGINT AS r,
        |       ((rk.r - 1) * n_src + src_idx)::BIGINT AS epoch_key
        |FROM rk JOIN si ON si.source = rk.source, ns
        |ORDER BY epoch_key""".stripMargin,


    // q199/q200: the same exact-integer rule set, mirrored with the
    // q22 oracle's count formulas.
    "q199_quality_gate" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split(lower(text), ' '),
        |        x -> length(x) > 0))::BIGINT AS n_tok,
        |    length(text)::BIGINT AS n_chars,
        |    length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::BIGINT
        |      AS n_alpha,
        |    length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::BIGINT
        |      AS n_punct,
        |    len(list_filter(string_split(lower(text), ' '),
        |        x -> x IN ('the','a','of','and','in','to','is','it',
        |                   'that','for')))::BIGINT AS n_stop,
        |    len(list_transform(range(1,
        |        len(list_filter(string_split(lower(text),' '),
        |            x -> length(x) > 0)) - 1),
        |      i -> array_to_string(list_filter(string_split(lower(text),' '),
        |            x -> length(x) > 0)[i:i+2], ' ')))::BIGINT AS n_tri,
        |    len(list_distinct(list_transform(range(1,
        |        len(list_filter(string_split(lower(text),' '),
        |            x -> length(x) > 0)) - 1),
        |      i -> array_to_string(list_filter(string_split(lower(text),' '),
        |            x -> length(x) > 0)[i:i+2], ' '))))::BIGINT AS n_tri_d
        |  FROM documents),
        |v AS (
        |  SELECT doc_id, n_tok, n_chars,
        |    (CASE WHEN n_tok < 5 THEN 1 ELSE 0 END
        |     + CASE WHEN n_alpha * 1000 < n_chars * 600 THEN 2 ELSE 0 END
        |     + CASE WHEN n_punct * 1000 > n_chars * 100 THEN 4 ELSE 0 END
        |     + CASE WHEN n_stop = 0 THEN 8 ELSE 0 END
        |     + CASE WHEN n_tri > 0 AND n_tri_d * 1000 < n_tri * 800
        |            THEN 16 ELSE 0 END)::BIGINT AS reason_mask
        |  FROM m)
        |SELECT doc_id, n_tok AS n_tokens, n_chars, reason_mask,
        |       (reason_mask = 0) AS kept
        |FROM v ORDER BY doc_id""".stripMargin,


    "q200_clean_pipeline" ->
      """WITH t AS (
        |  SELECT doc_id, source, text,
        |    list_filter(string_split(lower(text), ' '),
        |        x -> length(x) > 0) AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, source, text, len(toks)::BIGINT AS n_tok,
        |    length(text)::BIGINT AS n_chars,
        |    length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::BIGINT
        |      AS n_alpha,
        |    length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::BIGINT
        |      AS n_punct,
        |    len(list_filter(toks,
        |        x -> x IN ('the','a','of','and','in','to','is','it',
        |                   'that','for')))::BIGINT AS n_stop,
        |    len(list_transform(range(1, len(toks) - 1),
        |        i -> array_to_string(toks[i:i+2], ' ')))::BIGINT AS n_tri,
        |    len(list_distinct(list_transform(range(1, len(toks) - 1),
        |        i -> array_to_string(toks[i:i+2], ' '))))::BIGINT AS n_tri_d
        |  FROM t),
        |clean AS (
        |  SELECT doc_id, source, text, n_tok
        |  FROM m
        |  WHERE n_tok >= 5 AND n_alpha * 1000 >= n_chars * 600
        |    AND n_punct * 1000 <= n_chars * 100 AND n_stop > 0
        |    AND NOT (n_tri > 0 AND n_tri_d * 1000 < n_tri * 800)),
        |surv AS (
        |  SELECT doc_id, source, text, n_tok
        |  FROM (SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS sv
        |        FROM clean)
        |  WHERE doc_id = sv),
        |fill AS (
        |  SELECT doc_id, source, n_tok,
        |         ('0x' || substring(md5(text), 1, 8))::BIGINT AS priority
        |  FROM surv)
        |SELECT doc_id, source, n_tok AS n_tokens,
        |       sum(n_tok) OVER (PARTITION BY source
        |                        ORDER BY priority, doc_id
        |                        ROWS UNBOUNDED PRECEDING)::BIGINT
        |         AS cum_tokens,
        |       (sum(n_tok) OVER (PARTITION BY source
        |                         ORDER BY priority, doc_id
        |                         ROWS UNBOUNDED PRECEDING) <= 800)
        |         AS kept
        |FROM fill ORDER BY doc_id""".stripMargin,


    "q194_source_diversity" ->
      """WITH ps AS (
        |  SELECT lang, source, count(*)::BIGINT AS c
        |  FROM documents GROUP BY 1, 2)
        |SELECT lang, count(*)::BIGINT AS n_sources,
        |       sum(c)::BIGINT AS n_docs,
        |       floor((sum(c) * sum(c))::DOUBLE / sum(c * c)::DOUBLE
        |             * 10000 + 0.5) / 10000 AS effective_sources,
        |       (max(c) * 1000 // sum(c))::BIGINT AS top_share_permille
        |FROM ps GROUP BY 1 ORDER BY 1""".stripMargin,


    "q196_generalization_ladder" ->
      """SELECT band_width::BIGINT AS band_width, n_groups, n_risky,
        |       (n_risky = 0) AS compliant
        |FROM (
        |  SELECT w.band_width, count(*)::BIGINT AS n_groups,
        |         sum(CASE WHEN n < 5 THEN 1 ELSE 0 END)::BIGINT AS n_risky
        |  FROM (VALUES (1000), (5000), (10000)) w(band_width),
        |  LATERAL (
        |    SELECT count(*)::BIGINT AS n
        |    FROM customer
        |    GROUP BY c_nationkey, c_mktsegment,
        |             floor(c_acctbal / w.band_width)) g
        |  GROUP BY 1)
        |ORDER BY band_width""".stripMargin,


    "q193_promo_share" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS month,
        |       (sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100
        |                       + 0.5) AS BIGINT)) / 100.0)::DOUBLE
        |         AS revenue,
        |       (sum(CASE WHEN p_type = 'PROMO'
        |                 THEN CAST(floor(l_extendedprice * (1.0 - l_discount)
        |                                 * 100 + 0.5) AS BIGINT)
        |                 ELSE 0 END) * 1000
        |          // sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
        |                            * 100 + 0.5) AS BIGINT)))::BIGINT
        |         AS promo_share_permille
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
