package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{AsOfJoin, Dedup, EntityResolution, GraphOps, Multimodal, PriceAlerts, Relational, Similarity, Sketches, TextAnalysis, TimeSeries}
import graft.QueryHelpers._

/** Graph family: PageRank, PPR, connected components, triangles, k-core, LPA, HITS over order/supplier bipartite edges.
  *
  * Registry split out of SparkEntry (round 9): the maps below are
  * merged back into `SparkEntry.queries` / `SparkEntry.oracleSql`,
  * so names, semantics, and the DuckDB-oracle pairing are unchanged.
  */
object GraphQueries {

  /** Rounds of q61's PageRank and q134's personalized PageRank; their
    * DuckDB mirrors in [[OracleHashSql]] unroll the same count.
    */
  private[graft] final val PageRankRounds = 10

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Fixed-iteration PageRank over the customer→supplier purchase
    // graph (suppliers offset by 100000 to disjoin the id spaces) —
    // link-authority scoring, the graph-centrality sibling of q49's
    // connected components. Deterministic: 10 rounds, not
    // convergence-tested.
    "q61_pagerank" -> ((s, dir) => {
      val edges = Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (lit(100000L) + col("l_suppkey")).as("dst"))
      GraphOps.pageRank(edges, iters = PageRankRounds)
        .select(col("v").as("node_id"), col("pr").as("pagerank"))
        .orderBy("node_id")
    }),


    // Exact triangle count on the market-basket parts graph: parts
    // co-purchased in >= 2 orders (the support threshold keeps the
    // graph sparse — the raw co-supplier graph is 90% of a complete
    // graph at sf0.1 and makes EXACT triangle counting quadratic by
    // construction; dense graphs want sampling estimators, not exact
    // counts). Engine orients edges by (degree, id) — O(sqrt(m))
    // out-neighborhoods even under skew; the oracle id-orients, valid
    // because the count is orientation-invariant.
    "q77_triangle_count" -> ((s, dir) => {
      val os = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("pk"))
        .distinct()
      val pairs = os.as("pa")
        .join(os.as("pb"),
          col("pa.o") === col("pb.o") && col("pa.pk") < col("pb.pk"))
        .groupBy(col("pa.pk").as("a"), col("pb.pk").as("b"))
        .agg(count(lit(1)).as("n_cooccur"))
        .filter(col("n_cooccur") >= 2)
        .select(col("a"), col("b"))
      GraphOps.triangleCount(pairs)
    }),


    // Personalized PageRank from 3 seed customers over the q61 graph —
    // teleport AND dangling mass confined to the seeds, so ranks
    // measure proximity to them (recommender primitive). Unreached
    // vertices (exactly 0.0 on both engines) are filtered out.
    "q134_personalized_pagerank" -> ((s, dir) => {
      val edges = Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (lit(100000L) + col("l_suppkey")).as("dst"))
      GraphOps.personalizedPageRank(edges, Seq(1L, 2L, 3L), iters = PageRankRounds)
        .filter(col("pr") > 0.0)
        .select(col("v").as("node_id"), col("pr").as("pagerank"))
        .orderBy("node_id")
    }),


    // Image dedup end-to-end: q117's decoded-domain perceptual pairs →
    // connected components → keep-largest-payload survivor flag — the
    // multimodal sibling of q91's text keep-best.
    "q132_image_dedup_survivors" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val pairs = Multimodal.perceptualNearDupPairs(s, docs)
        .select(col("doc_a"), col("doc_b"))
      val clusters = GraphOps.dedupClusters(pairs)
      val nb = docs.select(col("doc_id"),
        octet_length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"))
      val rk = row_number().over(Window.partitionBy(col("cluster_id"))
        .orderBy(col("n_bytes").desc, col("doc_id").asc))
      clusters.join(nb, "doc_id")
        .withColumn("is_survivor", rk === 1)
        .select(col("cluster_id"), col("doc_id"), col("cluster_size"),
          col("is_survivor"), col("n_bytes"))
        .orderBy("cluster_id", "doc_id")
    }),


    // k-core of the customer-supplier graph (q61's edge set) by
    // fixed-round iterative peeling — rounds pinned so the oracle
    // unrolls them; converged rounds are provable no-ops.
    "q130_kcore" -> ((s, dir) => {
      val edges = Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (lit(100000L) + col("l_suppkey")).as("dst"))
      GraphOps.kCore(edges, k = 10, rounds = 4)
        .select(col("v").as("node_id"), col("deg"))
        .orderBy("node_id")
    }),


    // Exact core NUMBER per vertex (the full decomposition q130's
    // single-k membership only bounds) via the h-index iteration —
    // rounds follow estimate-propagation depth (~6), not the
    // degeneracy (~60 a peel-per-k would pay). Integer-exact oracle
    // unrolls the same rounds.
    "q137_core_numbers" -> ((s, dir) => {
      val edges = Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (lit(100000L) + col("l_suppkey")).as("dst"))
      GraphOps.coreNumbers(edges, rounds = 8)
        .orderBy("node_id")
    }),


    // Synchronous label-propagation communities: most-frequent
    // neighbor label, ties to the smallest — the deterministic LPA
    // form (pure integers, fixed rounds, bit-exact unrolled oracle).
    "q138_label_propagation" -> ((s, dir) => {
      val edges = Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (lit(100000L) + col("l_suppkey")).as("dst"))
      GraphOps.labelPropagation(edges, rounds = 5)
        .orderBy("node_id")
    }),


    // HITS hubs & authorities on the DIRECTED customer→supplier graph
    // — q61's loop anatomy (fixed rounds, broadcast 1-row norms,
    // unrolled oracle, r4-rounded floats).
    "q139_hits" -> ((s, dir) => {
      val edges = Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (lit(100000L) + col("l_suppkey")).as("dst"))
      GraphOps.hits(edges, iters = 10)
        .select(col("node_id"), r4(col("hub")).as("hub"),
          r4(col("authority")).as("authority"))
        .orderBy("node_id")
    }),
  )

  /** DuckDB oracle SQL for every query above (same keys). */
  val oracleSql: Map[String, String] = Map(
    "q61_pagerank" -> OracleHashSql.q61PageRank,


    // q77: id-oriented wedge closure — same count as the engine's
    // degree-oriented join (orientation-invariant).
    "q77_triangle_count" ->
      """WITH os AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS s FROM lineitem),
        |e AS (
        |  SELECT a.s AS x, b.s AS y
        |  FROM os a JOIN os b ON a.o = b.o AND a.s < b.s
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |deg AS (
        |  SELECT v FROM (
        |    SELECT x AS v FROM e UNION ALL SELECT y FROM e)
        |  GROUP BY 1),
        |tri AS (
        |  SELECT COUNT(*)::BIGINT AS n
        |  FROM e e1 JOIN e e2 ON e1.x = e2.x AND e1.y < e2.y
        |  JOIN e e3 ON e3.x = e1.y AND e3.y = e2.y)
        |SELECT (SELECT COUNT(*) FROM deg)::BIGINT AS n_vertices,
        |       (SELECT COUNT(*) FROM e)::BIGINT AS n_edges,
        |       (SELECT n FROM tri) AS n_triangles""".stripMargin,

    "q134_personalized_pagerank" ->
      OracleHashSql.q134PersonalizedPageRank(Seq(1L, 2L, 3L)),

    "q132_image_dedup_survivors" -> OracleHashSql.q132ImageDedupSurvivors(),

    "q130_kcore" -> OracleHashSql.q130KCore(),

    "q137_core_numbers" -> OracleHashSql.q137CoreNumbers(),

    "q138_label_propagation" -> OracleHashSql.q138LabelPropagation(),

    "q139_hits" -> OracleHashSql.q139Hits(),
  )
}
