package graft

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Approximate-aggregate tier (HLL distinct, t-digest percentiles) and
  * non-parquet source formats — Spark built-ins the engine exposes for
  * the cases where exactness can be traded for a single pass at scale.
  */
class ApproxAndSourcesSpec extends SparkSpec {
  import spark.implicits._

  test("approx_count_distinct within 5% of exact on fixture events") {
    val ev = Tables.events(spark, sf001)
    val r = ev.agg(
      countDistinct(col("user_id")).as("exact"),
      approx_count_distinct(col("user_id"), 0.02).as("approx")).head
    val (exact, approx) = (r.getLong(0), r.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx=$approx exact=$exact")
  }

  test("approx_percentile brackets the exact percentile") {
    val ev = Tables.events(spark, sf001)
    val r = ev.agg(
      expr("percentile(value, 0.5)").as("exact"),
      expr("approx_percentile(value, 0.5, 1000)").as("approx")).head
    val (exact, approx) = (r.getDouble(0), r.getDouble(1))
    assert(math.abs(approx - exact) / math.max(math.abs(exact), 1e-9) < 0.05)
  }

  test("csv and json sources round-trip the documents table") {
    val docs = Tables.documents(spark, sf001)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val base = new java.io.File("target/spec-sources").getAbsolutePath
    docs.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
    docs.write.mode("overwrite").json(s"$base/json")
    val fromCsv = spark.read.option("header", "true")
      .schema("doc_id LONG, lang STRING, n_chars LONG").csv(s"$base/csv")
    val fromJson = spark.read.schema("doc_id LONG, lang STRING, n_chars LONG")
      .json(s"$base/json")
    assert(fromCsv.count() == 500 && fromJson.count() == 500)
    val orig = docs.collect().map(_.toString).sorted.toSeq
    assert(fromCsv.collect().map(_.toString).sorted.toSeq == orig)
    assert(fromJson.collect().map(_.toString).sorted.toSeq == orig)
  }

  test("jsonl malformed-record policies: permissive captures, drop skips, failfast aborts") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createDirectories(
      Paths.get("target/spec-sources/jsonl-corrupt"))
    Files.write(dir.resolve("part-0.jsonl"), java.util.Arrays.asList(
      """{"doc_id": 1, "text": "good line"}""",
      """{"doc_id": 2, "text": "also fine"}""",
      """{"doc_id": 3 "text": "MISSING COMMA"}""",
      """{"doc_id": 4, "text": "fine again"}"""))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING")
    val path = dir.toAbsolutePath.toString

    val permissive = graft.sources.JsonIO.readJsonl(spark, path,
      schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)).cache()
    assert(permissive.count() == 4)
    val corrupt = permissive.filter(col("_corrupt_record").isNotNull)
      .collect()
    assert(corrupt.length == 1 &&
      corrupt.head.getAs[String]("_corrupt_record").contains("MISSING COMMA"))
    assert(permissive.filter(col("_corrupt_record").isNull)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 4L))
    permissive.unpersist()

    val dropped = graft.sources.JsonIO
      .readJsonl(spark, path, schema, mode = "DROPMALFORMED")
    assert(dropped.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 4L))

    val failfast = graft.sources.JsonIO
      .readJsonl(spark, path, schema, mode = "FAILFAST")
    val err = intercept[org.apache.spark.SparkException] { failfast.collect() }
    assert(err.getMessage.toLowerCase.contains("malformed") ||
      err.getCause != null)
  }

  test("csv malformed policies and RFC-4180 quoting survive round-trip") {
    import java.nio.file.{Files, Paths}
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING, n LONG")

    // embedded commas, doubled quotes, unicode: the writer must quote
    // and the reader must un-quote to the same strings
    val tricky = Seq((1L, """a,b "quoted" c""", 10L),
      (2L, "plain", 20L), (3L, "tab\tand ; semi", 30L))
      .toDF("doc_id", "text", "n")
    val base = new java.io.File("target/spec-sources/csv-rt").getAbsolutePath
    graft.sources.CsvIO.writeCsv(tricky, base)
    val back = graft.sources.CsvIO.readCsv(spark, base, schema)
    assert(back.orderBy("doc_id").collect().map(_.toSeq).toSeq ==
      tricky.orderBy("doc_id").collect().map(_.toSeq).toSeq)

    // malformed row: wrong arity / untypable field
    val dir = Files.createDirectories(
      Paths.get("target/spec-sources/csv-corrupt"))
    Files.write(dir.resolve("part-0.csv"), java.util.Arrays.asList(
      "doc_id,text,n",
      "1,good,10",
      "2,also fine,20",
      "3,BAD ARITY",
      "4,fine again,40"))
    val path = dir.toAbsolutePath.toString
    val permissive = graft.sources.CsvIO
      .readCsvWithCorrupt(spark, path, schema).cache()
    val corrupt = permissive.filter(col("_corrupt_record").isNotNull)
      .collect()
    assert(corrupt.length == 1 &&
      corrupt.head.getAs[String]("_corrupt_record").contains("BAD ARITY"))
    assert(permissive.filter(col("_corrupt_record").isNull)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 4L))
    permissive.unpersist()
    val dropped = graft.sources.CsvIO
      .readCsv(spark, path, schema, mode = "DROPMALFORMED")
    assert(dropped.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 4L))
  }

  test("streaming file source: readStream over parquet dir reaches the pipeline") {
    val ev = spark.readStream
      .schema(Tables.events(spark, sf001).schema)
      .parquet(s"$sf001/events.parquet")
    assert(ev.isStreaming)
    // plan-level check only: the same pipeline operators accept the
    // streaming frame (full drives are covered by the MemoryStream specs)
    val agg = ev.groupBy(window(col("ts"), "1 minute")).count()
    assert(agg.isStreaming)
  }

  test("q168 Avro OCF round-trip: values, nulls, and per-partition containers preserved") {
    import graft.sources.AvroFileIO
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("txt", StringType),
      StructField("score", DoubleType), StructField("ok", BooleanType)))
    val rows = Seq(
      Row(1L, "alpha", 1.5, true),
      Row(2L, null, 2.5, false),
      Row(3L, "gamma", null, true))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val path = java.nio.file.Files
      .createTempDirectory("graft-avro-ocf").toFile.getAbsolutePath
    AvroFileIO.writeOcf(df, path)
    // one container per partition
    assert(new java.io.File(path).listFiles()
      .count(_.getName.endsWith(".avro")) == 2)
    val back = AvroFileIO.readOcf(spark, path, schema)
      .collect().sortBy(_.getLong(0))
    assert(back.length == 3)
    assert(back(0) == Row(1L, "alpha", 1.5, true))
    assert(back(1).isNullAt(1) && back(1).getDouble(2) == 2.5)
    assert(back(2).getString(1) == "gamma" && back(2).isNullAt(2))
  }

  test("writeOcf overwrite refuses a directory holding foreign files") {
    import graft.sources.AvroFileIO
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L)), 1), schema)
    val path = java.nio.file.Files
      .createTempDirectory("graft-avro-guard").toFile.getAbsolutePath
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "precious.txt"), "keep")
    val e = intercept[IllegalArgumentException] {
      AvroFileIO.writeOcf(df, path)
    }
    assert(e.getMessage.contains("refusing to overwrite"))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, "precious.txt")))
    // a dir holding only its own previous output IS replaced
    val ok = java.nio.file.Files
      .createTempDirectory("graft-avro-ok").toFile.getAbsolutePath
    AvroFileIO.writeOcf(df, ok)
    AvroFileIO.writeOcf(df, ok)
    assert(AvroFileIO.readOcf(spark, ok, schema).count() == 1)
  }
}
