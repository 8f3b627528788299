package graft.operators

import org.apache.spark.sql.{Column, DataFrame, classic}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.classic.GraftPlanBridge
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The reference's one query — "price alerts" — as composable Spark
  * operators, usable both on batch DataFrames and (minus the final
  * orderBy) on streaming ones.
  *
  * Reference pipeline (SURVEY.md §2, dsl/PriceAlertsApp.java:81-137):
  *   purchases ⋈ products (FK on value, GlobalKTable broadcast)  [J1]
  *   → project PurchaseWithProduct                               [P1]
  *   → groupBy(tumbling 1-minute window, product_id)             [G1,W1]
  *   → sum(quantity * price)                                     [A1,P5]
  *   → filter(total > threshold)                                 [P2/P3]
  *   → project (product_id, window_start, total_sum_per_minute)  [P4,P7]
  *
  * Join semantics: the reference declares leftJoin but dereferences the
  * product unconditionally (dsl/PriceAlertsApp.java:155, NPE on miss;
  * same in PurchaseQuantityAlertTrasformer.java:44) — observable
  * behavior for all non-crashing inputs is an INNER join, which is what
  * we implement (SURVEY.md §7.1).
  *
  * Scale notes (100 TB): the dimension side is broadcast (GlobalKTable
  * analogue — one copy per executor, no shuffle of the fact table for
  * the join); the windowed aggregation is the only shuffle, hash
  * partitioned on (window, product_id) with map-side partial
  * aggregation; all expressions are Catalyst built-ins so the whole
  * pipeline stays inside WholeStageCodegen and filters/pruning push to
  * the parquet scan.
  */
object PriceAlerts {
  /** DSL-variant threshold (dsl/PriceAlertsApp.java:29). */
  val DslThreshold: Double = 3000.0
  /** Processor-variant threshold (processor/PriceAlertsApp.java:25). */
  val ProcessorThreshold: Double = 10.0

  /** J1/P1 — purchases × products inner broadcast join, projected to the
    * reference's 5-field PurchaseWithProduct plus the event time
    * (dsl/PriceAlertsApp.java:139-157). Expects the role-cast schemas of
    * [[graft.sources.Tables.purchases]] / [[graft.sources.Tables.products]].
    *
    * On a streaming `purchases`, an inline products frame is turned into
    * an RDD-backed frame once per query ([[streamingDimension]]), so the
    * per-trigger re-planning no longer walks its rows; a source-backed
    * dimension (parquet, a Kafka snapshot) is still re-read each
    * micro-batch.
    */
  def purchasesWithProducts(purchases: DataFrame, products: DataFrame): DataFrame = {
    val dim = streamingDimension(purchases, products)
    purchases.join(broadcast(dim),
        purchases("productid") === dim("id"), "inner")
      .select(
        purchases("id").as("purchase_id"),
        purchases("quantity").as("purchase_quantity"),
        purchases("productid").as("product_id"),
        dim("name").as("product_name"),
        dim("price").as("product_price"),
        purchases("ts").as("ts"))
  }

  /** The static side of a stream-static join, as the stream should see
    * it. Structured Streaming re-plans the whole query at every trigger,
    * static side included, and a `LocalRelation` carries its rows in the
    * plan node: every optimizer rule then walks all of them on every
    * trigger. Inline rows cannot change, so swapping in an RDD-backed
    * frame with the same rows and schema changes no result; the plan node
    * then holds no rows. The RDD is built from the relation's own internal
    * rows: a `products.rdd` round trip through external `Row`s cost
    * 15–20% of StreamBench `update_agg` throughput (4 shared vCPUs).
    * Batch plans (optimized once) and source-backed dimensions are
    * returned as they are: a parquet or Kafka source is re-read each
    * micro-batch, which keeps the dimension current, and materializing it
    * would pin a Kafka read to the offsets of its first batch.
    */
  private def streamingDimension(purchases: DataFrame, products: DataFrame): DataFrame =
    if (!purchases.isStreaming) products
    else products.queryExecution.optimizedPlan match {
      case l: LocalRelation =>
        val spark = products.sparkSession.asInstanceOf[classic.SparkSession]
        GraftPlanBridge.ofRows(spark,
          LogicalRDD(l.output, spark.sparkContext.parallelize(l.data))(spark))
      case _ => products
    }

  /** G1/W1/A1 — tumbling-window revenue per product:
    * groupBy(window(ts, size), product_id).agg(sum(quantity * price)).
    * Output: product_id, window_start (timestamp), total_sum_per_minute.
    */
  def windowedRevenue(joined: DataFrame, windowSize: String = "1 minute"): DataFrame =
    joined
      .groupBy(window(col("ts"), windowSize), col("product_id"))
      .agg(sum(col("purchase_quantity") * col("product_price"))
        .as("total_sum_per_minute"))
      .select(
        col("product_id"),
        col("window.start").as("window_start"),
        col("total_sum_per_minute"))

  /** P2/P3/P4 — threshold filter + output record shape. The Kafka key of
    * the reference's alert is the product id as a string
    * (dsl/PriceAlertsApp.java:117,132) — kept as a string column.
    */
  def alerts(revenue: DataFrame, threshold: Double): DataFrame =
    revenue
      .filter(col("total_sum_per_minute") > threshold)
      .select(
        col("product_id").cast("string").as("product_id"),
        col("window_start"),
        col("total_sum_per_minute"))

  /** Whole DSL pipeline: join → window → threshold (eager/update
    * semantics are a streaming concern; on batch input this is the final
    * answer either way). Both streaming entry points of
    * [[graft.streaming.PriceAlertsStream]] run this composition; the
    * processor variant hands it a watermarked stream.
    */
  def dslPipeline(purchases: DataFrame, products: DataFrame,
                  threshold: Double = DslThreshold,
                  windowSize: String = "1 minute"): DataFrame =
    alerts(windowedRevenue(purchasesWithProducts(purchases, products), windowSize), threshold)

  /** Processor-variant emission: only CLOSED windows are emitted — the
    * wall-clock punctuator scans strictly below the current minute floor
    * (PurchaseQuantityAlertTrasformer.java:56-90). Batch analogue: drop
    * the window containing the max event time (still "open").
    *
    * The bound comes from a scan of `purchases` pruned to the ts column
    * (broadcast 1-row aggregate), NOT from re-aggregating `revenue` —
    * re-using the revenue subtree would evaluate the join+agg twice.
    * Equivalent because every purchase contributes to revenue (inner
    * join with FK integrity, J2).
    */
  def closedWindowsOnly(revenue: DataFrame, purchases: DataFrame): DataFrame = {
    val bound = purchases.agg(
      date_trunc("minute", max(col("ts"))).as("open_window_start"))
    revenue.join(broadcast(bound),
      revenue("window_start") < bound("open_window_start"), "inner")
      .select(revenue("product_id"), revenue("window_start"),
        revenue("total_sum_per_minute"))
  }
}
