package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{AsOfJoin, Dedup, EntityResolution, GraphOps, Multimodal, PriceAlerts, Relational, Similarity, Sketches, TextAnalysis, TimeSeries}
import graft.QueryHelpers._

/** Sketch family: CMS, HLL (+union rollup), KMV, MRL quantiles, SpaceSaving, bloom.
  *
  * Registry split out of SparkEntry (round 9): the maps below are
  * merged back into `SparkEntry.queries` / `SparkEntry.oracleSql`,
  * so names, semantics, and the DuckDB-oracle pairing are unchanged.
  */
object SketchQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Count-min-sketch heavy hitters: bounded-memory token counting
    // (map-side partial agg = the per-partition sketch), estimates
    // reported against exact counts for the top 50 tokens.
    "q52_cms_heavy_hitters" -> ((s, dir) => {
      Sketches.cmsHeavyHitters(s, Tables.documents(s, dir))
        .orderBy("token", "cnt", "est_cms")
    }),


    // One-pass histogram quantile sketch per return flag — the
    // mergeable at-scale sibling of q33's exact percentiles; every
    // estimate is the bin upper edge at rank ceil(q·n), exact
    // arithmetic end to end.
    "q63_histogram_quantiles" -> ((s, dir) => {
      Sketches.histogramQuantiles(Tables.lineitem(s, dir),
          "l_extendedprice", "l_returnflag")
        .select(col("grp").as("l_returnflag"), col("n"),
          col("p25"), col("p50"), col("p75"), col("p95"))
        .orderBy("l_returnflag")
    }),


    // HyperLogLog distinct count: per-flag distinct orders via 256
    // integer registers — the shuffle carries <= m counter rows per
    // group instead of every distinct key (the 100 TB replacement for
    // q08's exact countDistinct); exact count rides along as ground
    // truth, registers verified bit-for-bit by the oracle.
    "q69_hll_distinct" -> ((s, dir) => {
      Sketches.hllDistinct(Tables.lineitem(s, dir), "l_orderkey",
          "l_returnflag")
        .orderBy("grp")
    }),


    // Bloom-prefiltered semi join — the manual runtime row-level
    // filter: customers holding an urgent-priority order, with the
    // customer scan probed against a 4 KB bloom of the urgent custkeys
    // BEFORE any exchange. The closing exact semi join removes the
    // bloom's false positives, so the result is byte-identical to a
    // plain semi join (the oracle) for any sketch size; at 100 TB the
    // fact-side shuffle drops from |fact| to |matches| + fpp·|fact|.
    "q70_bloom_semi_join" -> ((s, dir) => {
      val urgent = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
      Sketches.bloomSemiJoin(Tables.customer(s, dir), urgent,
          "c_custkey", "o_custkey")
        .groupBy(col("c_nationkey").cast("long").as("nationkey"))
        .agg(count(lit(1)).as("n_cust"),
          r2(sum(col("c_acctbal"))).as("sum_acctbal"))
        .orderBy("nationkey")
    }),


    // KMV k-minimum-values sketch: pairwise source overlap (Jaccard +
    // union cardinality) from k=64 retained hashes per source — the
    // set-INTERSECTION sketch q69's HLL cannot express. est columns
    // next to their exact ground truth, q52-style.
    "q95_kmv_overlap" -> ((s, dir) => {
      Sketches.kmvSourceOverlap(s, Tables.documents(s, dir))
    }),


    // Per-group top-k tokens via the mergeable SpaceSaving sketch —
    // capacity 64 ≥ the 31-token per-source vocabulary, so the sketch
    // is exact (err=0) and the DuckDB oracle certifies it; the
    // approximate regime is property-tested.
    "q126_spacesaving_topk" -> ((s, dir) => {
      Sketches.spaceSavingTopTokens(s, Tables.documents(s, dir))
    }),


    // Per-customer order-value quantiles via the MRL mergeable
    // quantile sketch — bounded groups keep it in the exact regime
    // (finish ≡ DuckDB quantile_disc), so the oracle certifies sketch
    // + merge; rank-error bounds are property-tested.
    "q128_mrl_quantiles" -> ((s, dir) => {
      val q = Sketches.mrlQuantilesPerCustomer(s, Tables.orders(s, dir))
      q.select(col("o_custkey"), col("n_orders"),
        r4(col("p25")).as("p25"), r4(col("p50")).as("p50"),
        r4(col("p75")).as("p75"), r4(col("p95")).as("p95"))
        .orderBy("o_custkey")
    }),


    // HLL rollup FROM SKETCHES: per-flag registers max-merge into the
    // 'ALL' union level — re-aggregation without revisiting keys, the
    // property that makes HLL the production distinct counter.
    "q135_hll_union_rollup" -> ((s, dir) => {
      Sketches.hllDistinctRollup(Tables.lineitem(s, dir),
        "l_orderkey", "l_returnflag")
        .orderBy("grp")
    }),
  )

  /** DuckDB oracle SQL for every query above (same keys). */
  val oracleSql: Map[String, String] = Map(
    "q52_cms_heavy_hitters" -> OracleHashSql.q52CmsHeavyHitters,


    // q63: same inverse-CDF rank rule (first bin edge with cum >=
    // ceil(q*n)); all-integer counts and literal*integer edges.
    "q63_histogram_quantiles" ->
      s"""WITH bins AS (
        |  SELECT l_returnflag, floor(l_extendedprice / ${Sketches.HistWidth})::BIGINT AS bin,
        |         count(*)::BIGINT AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT l_returnflag, bin, cnt,
        |         sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin)::BIGINT AS cum,
        |         sum(cnt) OVER (PARTITION BY l_returnflag)::BIGINT AS n
        |  FROM bins)
        |SELECT l_returnflag, max(n) AS n,
        |       min(CASE WHEN cum >= ceil(0.25 * n) THEN CAST(bin + 1 AS DOUBLE) * ${Sketches.HistWidth.toLong} END) AS p25,
        |       min(CASE WHEN cum >= ceil(0.5 * n)  THEN CAST(bin + 1 AS DOUBLE) * ${Sketches.HistWidth.toLong} END) AS p50,
        |       min(CASE WHEN cum >= ceil(0.75 * n) THEN CAST(bin + 1 AS DOUBLE) * ${Sketches.HistWidth.toLong} END) AS p75,
        |       min(CASE WHEN cum >= ceil(0.95 * n) THEN CAST(bin + 1 AS DOUBLE) * ${Sketches.HistWidth.toLong} END) AS p95
        |FROM c GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,


    // q69: registers reproduced bit-exactly (FNV-1a + splitmix on the
    // key string, integer rho ladder); single double division at the end.
    "q69_hll_distinct" -> OracleHashSql.q69HllDistinct,


    // q70: the bloom is an optimization, not a semantic — the oracle is
    // the plain semi join the prefiltered plan must reproduce exactly.
    "q70_bloom_semi_join" ->
      """SELECT c_nationkey::BIGINT AS nationkey,
        |       COUNT(*) AS n_cust,
        |       floor((SUM(c_acctbal)) * 100 + 0.5) / 100 AS sum_acctbal
        |FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders
        |                    WHERE o_orderpriority = '1-URGENT')
        |GROUP BY 1 ORDER BY 1""".stripMargin,


    // q95: bit-exact KMV sketches (fnv1a64Seeded mirror, signed rank).
    "q95_kmv_overlap" -> OracleHashSql.q95KmvOverlap,


    // q126: in the exact regime (capacity >= per-group distinct) the
    // SpaceSaving sketch equals the full groupBy count — top-5 per
    // source by (cnt desc, token asc), err identically 0.
    "q126_spacesaving_topk" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents),
        |cnts AS (
        |  SELECT source, tok, count(*)::BIGINT AS cnt
        |  FROM toks WHERE length(tok) > 0
        |  GROUP BY source, tok)
        |SELECT source, rank, tok AS token, cnt, 0::BIGINT AS err
        |FROM (SELECT source, tok, cnt,
        |             row_number() OVER (PARTITION BY source
        |                                ORDER BY cnt DESC, tok ASC)::BIGINT
        |               AS rank
        |      FROM cnts)
        |WHERE rank <= 5
        |ORDER BY source, rank""".stripMargin,


    // q128: bounded per-customer groups keep the MRL sketch exact, so
    // quantile_disc (index max(0, ceil(q*n)-1) of the sorted values)
    // is the definitional mirror of the sketch's finish.
    "q128_mrl_quantiles" ->
      """SELECT o_custkey, count(*)::BIGINT AS n_orders,
        |       floor(quantile_disc(o_totalprice::DOUBLE, 0.25) * 10000 + 0.5) / 10000 AS p25,
        |       floor(quantile_disc(o_totalprice::DOUBLE, 0.50) * 10000 + 0.5) / 10000 AS p50,
        |       floor(quantile_disc(o_totalprice::DOUBLE, 0.75) * 10000 + 0.5) / 10000 AS p75,
        |       floor(quantile_disc(o_totalprice::DOUBLE, 0.95) * 10000 + 0.5) / 10000 AS p95
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q135_hll_union_rollup" -> OracleHashSql.q135HllUnionRollup,
  )
}
