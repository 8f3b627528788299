package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.Row

import graft.functions.GraftFunctions

/** Kafka wiring for the reference's topics (SURVEY.md §2.1 S1-S4,
  * §2.2 K1-K2). The offline harness has no broker and no
  * spark-sql-kafka connector jar, so these builders are the DEPLOYMENT
  * surface: they compile against the stable `format("kafka")` string
  * API and are exercised in production with the connector on the
  * classpath.
  *
  * Wire format is Avro with Confluent Schema Registry framing — the
  * reference's GenericAvroSerde layer (dsl/PriceAlertsApp.java:84-85) —
  * decoded by the custom expressions FromAvroGraft/ToAvroGraft
  * (functions/AvroExpressions.scala, avro-core only, F1). The schema
  * JSONs below mirror TestUtils.java:7-22 and
  * dsl/PriceAlertsApp.java:119-127 field-for-field.
  */
object KafkaIO {

  /** Purchase Avro schema (TestUtils.java:7-13). */
  val purchaseAvroSchema: String =
    """{"type":"record","name":"Purchase","fields":[
      |{"name":"id","type":"long"},
      |{"name":"quantity","type":"long"},
      |{"name":"productid","type":"long"}]}""".stripMargin

  /** Product Avro schema (TestUtils.java:15-22). */
  val productAvroSchema: String =
    """{"type":"record","name":"Product","fields":[
      |{"name":"id","type":"long"},
      |{"name":"name","type":"string"},
      |{"name":"description","type":"string"},
      |{"name":"price","type":"double"}]}""".stripMargin

  /** PriceAlert Avro schema with the timestamp-millis logical type
    * (dsl/PriceAlertsApp.java:119-127).
    */
  val priceAlertAvroSchema: String =
    """{"type":"record","name":"PriceAlert","fields":[
      |{"name":"window_start","type":{"type":"long","logicalType":"timestamp-millis"}},
      |{"name":"total_sum_per_minute","type":"double"}]}""".stripMargin

  /** PurchaseWithProduct Avro schema (dsl/PriceAlertsApp.java:141-148). */
  val purchaseWithProductAvroSchema: String =
    """{"type":"record","name":"PurchaseWithProduct","fields":[
      |{"name":"purchase_id","type":"long"},
      |{"name":"purchase_quantity","type":"long"},
      |{"name":"product_id","type":"long"},
      |{"name":"product_name","type":"string"},
      |{"name":"product_price","type":"double"}]}""".stripMargin

  /** Purchase payload schema as a Spark StructType (decode target). */
  val purchaseSchema: StructType =
    StructType.fromDDL("id LONG, quantity LONG, productid LONG")

  /** Product payload schema as a Spark StructType (decode target). */
  val productSchema: StructType =
    StructType.fromDDL("id LONG, name STRING, description STRING, price DOUBLE")

  /** Malformed-frame policy for Confluent-framed Avro decode — the Avro
    * analogue of [[CsvIO.readCsv]]'s mode option: real topics
    * eventually carry garbage (torn frames, non-Confluent producers,
    * unregistered schema ids), and one poison message must not kill
    * the stream unless that is the declared policy.
    *
    *  - FAILFAST: any malformed frame fails the task (strict decode).
    *  - DROPMALFORMED: malformed frames are silently dropped.
    *  - PERMISSIVE: malformed frames yield a NULL `decoded` struct and
    *    the raw frame bytes in `_corrupt_record` (NULL for good rows)
    *    — the observable-failure-rate form, same shape as
    *    [[CsvIO.readCsvWithCorrupt]].
    *
    * Input: any DataFrame (batch or streaming) with a binary `value`
    * column; other columns pass through. A non-empty
    * `writerSchemasById` (frame id → writer schema JSON, the offline
    * analogue of the reference's CachedSchemaRegistryClient) resolves
    * each frame's writer schema to `schemaJson`; a frame with an id not
    * in the map is malformed. Caveat shared with every Avro
    * consumer: the binary body is not self-describing, so a garbage
    * body can occasionally decode "successfully" into nonsense values
    * — the framing checks (magic byte, header length, known schema id)
    * catch the common corruptions, not all of them.
    */
  def decodeAvroFrames(raw: DataFrame, schemaJson: String,
                       mode: String = "PERMISSIVE",
                       writerSchemasById: Map[Int, String] = Map.empty): DataFrame = {
    import org.apache.spark.sql.classic.GraftPlanBridge
    val m = mode.toUpperCase
    require(Set("PERMISSIVE", "DROPMALFORMED", "FAILFAST")(m),
      s"unknown Avro decode mode '$mode' (PERMISSIVE | DROPMALFORMED | FAILFAST)")
    val expr = graft.functions.FromAvroGraft(
      GraftPlanBridge.expression(col("value")), schemaJson,
      confluentFraming = true, permissive = m != "FAILFAST",
      writerSchemasById = writerSchemasById)
    val decoded = raw.withColumn("decoded", GraftPlanBridge.column(expr))
    // Null VALUES (compacted-topic tombstones) bypass the decode in
    // every mode, FAILFAST included — the expression is null-safe, so
    // a null value yields decoded=null rather than a task failure.
    // FAILFAST's contract is "any malformed FRAME fails"; a null value
    // is not a frame. Snapshot consumers treat the null struct as a
    // delete (productsSnapshot); stream consumers that must reject
    // tombstones should filter value.isNull upstream.
    m match {
      case "FAILFAST"      => decoded
      case "DROPMALFORMED" => decoded.filter(col("decoded").isNotNull)
      case "PERMISSIVE"    => decoded.withColumn("_corrupt_record",
        when(col("decoded").isNull, col("value")))
    }
  }

  /** S1/S3 — the purchases stream: subscribe, decode the Confluent-
    * framed Avro payload, surface the Kafka record timestamp as the
    * event-time column `ts` (the reference reads record.timestamp(),
    * PurchaseQuantityAlertTrasformer.java:38). `mode` is the
    * malformed-frame policy ([[decodeAvroFrames]]); FAILFAST preserves
    * the historical strict behavior, PERMISSIVE adds a
    * `_corrupt_record` column carrying each malformed frame's bytes.
    */
  def purchasesStream(spark: SparkSession, bootstrap: String,
                      topic: String = "purchases",
                      mode: String = "FAILFAST"): DataFrame = {
    GraftFunctions.register(spark)
    val raw = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "latest")
      .load()
    val decoded = decodeAvroFrames(raw, purchaseAvroSchema, mode)
      .withColumnRenamed("decoded", "p")
    val base = Seq(col("p.id").as("id"), col("p.quantity").as("quantity"),
      col("p.productid").as("productid"), col("timestamp").as("ts"))
    val cols = if (mode.toUpperCase == "PERMISSIVE")
      base :+ col("_corrupt_record") else base
    decoded.select(cols: _*)
  }

  /** S2/S4 — the products dimension: read the topic as a bounded batch
    * (earliest→latest) and compact to latest-per-key — the GlobalKTable
    * materialization. Re-run per deploy or wrapped in a refresh loop;
    * stream-static joins re-read this source-backed side each
    * micro-batch (`PriceAlerts.purchasesWithProducts` turns only inline
    * dimensions into an RDD-backed frame, once per query: materializing
    * this one would pin the snapshot to the Kafka offsets of its first
    * read).
    */
  def productsSnapshot(spark: SparkSession, bootstrap: String,
                       topic: String = "products"): DataFrame = {
    GraftFunctions.register(spark)
    val raw = spark.read.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()
      .select(col("key").cast("string").as("k"),
        GraftFunctions.fromAvro(col("value"), productAvroSchema,
          confluentFraming = true).as("v"),
        col("offset").as("off"))
    // latest-per-key BY OFFSET, not by record timestamp: a KTable/
    // GlobalKTable is last-by-offset, and same key → same partition →
    // the offset is a total order; CreateTime timestamps can be
    // producer-skewed or tie at the same millisecond (nondeterministic
    // pick). A null decoded value is a compacted-topic TOMBSTONE: if
    // it is the latest record for a key, the key is DELETED from the
    // snapshot (not surfaced as an all-null row).
    raw.groupBy(col("k"))
      .agg(max_by(struct(col("v")), col("off")).as("latest"))
      .filter(col("latest.v").isNotNull)
      .select(col("latest.v.id").as("id"), col("latest.v.name").as("name"),
        col("latest.v.description").as("description"),
        col("latest.v.price").as("price"))
  }

  /** K1/K2 — the alerts sink: key = product id string (the reference's
    * output Kafka key, dsl/PriceAlertsApp.java:117,132), value =
    * Confluent-framed Avro PriceAlert record (window_start as
    * timestamp-millis, dsl/PriceAlertsApp.java:128-131).
    */
  def alertsSink(alerts: DataFrame, bootstrap: String, topic: String,
                 checkpoint: String): DataStreamWriter[Row] = {
    GraftFunctions.register(alerts.sparkSession)
    alerts
      .select(col("product_id").cast("string").as("key"),
        GraftFunctions.toAvro(
          struct(col("window_start").cast("timestamp").as("window_start"),
            col("total_sum_per_minute").cast("double").as("total_sum_per_minute")),
          priceAlertAvroSchema, confluentFraming = true)
          .as("value"))
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
  }
}
