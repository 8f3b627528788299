package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table loaders for the driver-generated TPC-H-ish fixtures
  * (TESTDATA.md), plus the role-casts that map the reference's Kafka
  * topics onto them (FIXTURES.md §B).
  *
  * Reference inputs (ru/netology/dsw, see SURVEY.md §1.2):
  *   - topic `purchases`: Purchase { id, quantity, productid } + record ts
  *     (TestUtils.java:7-13)
  *   - topic `products`:  Product { id, name, description, price }
  *     (TestUtils.java:15-22)
  *
  * At 100 TB these would be partitioned parquet/iceberg tables; the
  * loaders deliberately go through `spark.read.parquet` so partition
  * pruning, predicate pushdown and column pruning all apply — nothing
  * here materializes or caches eagerly.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` is INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false) in
    * every fixture (FIXTURES.md §B), which Spark reads as TIMESTAMP_NTZ;
    * the cast to TimestampType is exact under the session's UTC zone. A
    * TIMESTAMP(NANOS) file fails loudly with Spark's own
    * PARQUET_TYPE_ILLEGAL.
    */
  def events(s: SparkSession, d: String): DataFrame =
    load(s, d, "events").withColumn("ts", col("ts").cast("timestamp"))
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Role-cast of `lineitem` as the reference's `purchases` stream
    * (FIXTURES.md §B): l_orderkey→id, l_quantity→quantity,
    * l_partkey→productid, l_shipdate→event time. FK integrity to `part`
    * holds, which the inner-join semantics rely on (SURVEY.md §2.5 J2).
    */
  def purchases(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).select(
      col("l_orderkey").as("id"),
      col("l_quantity").as("quantity"),
      col("l_partkey").as("productid"),
      col("l_shipdate").as("ts"))

  /** Role-cast of `part` as the reference's `products` dimension:
    * p_partkey→id, p_name→name, p_type→description, p_retailprice→price.
    * Small relative to the fact side at every scale factor → the
    * stream×GlobalKTable join (SURVEY.md §2.5 J1) becomes a broadcast
    * hash join.
    */
  def products(s: SparkSession, d: String): DataFrame =
    part(s, d).select(
      col("p_partkey").as("id"),
      col("p_name").as("name"),
      col("p_type").as("description"),
      col("p_retailprice").as("price"))
}
