package graft

import java.io.ByteArrayOutputStream

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampType}

import graft.functions.GraftFunctions
import graft.sources.KafkaIO

/** F1 — Avro wire-format serde (FromAvroGraft/ToAvroGraft) against the
  * reference's schemas (TestUtils.java:7-22,
  * dsl/PriceAlertsApp.java:119-127), cross-checked against the plain
  * avro library so the bytes are wire-compatible, not just
  * self-consistent.
  */
class AvroSpec extends SparkSpec {
  import spark.implicits._

  private def avroEncode(schema: Schema, fill: GenericRecord => Unit): Array[Byte] = {
    val rec = new GenericData.Record(schema)
    fill(rec)
    val bos = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(bos, null)
    new GenericDatumWriter[GenericRecord](schema).write(rec, enc)
    enc.flush()
    bos.toByteArray
  }

  private def avroDecode(schema: Schema, bytes: Array[Byte], skip: Int = 0): GenericRecord =
    new GenericDatumReader[GenericRecord](schema).read(null,
      DecoderFactory.get().binaryDecoder(bytes, skip, bytes.length - skip, null))

  test("Purchase: bytes from the plain avro library decode to the right struct") {
    GraftFunctions.register(spark)
    val schema = new Schema.Parser().parse(KafkaIO.purchaseAvroSchema)
    val bytes = avroEncode(schema, r => {
      r.put("id", 42L); r.put("quantity", 7L); r.put("productid", 99L)
    })
    val row = Seq(Tuple1(bytes)).toDF("value")
      .select(GraftFunctions.fromAvro(col("value"), KafkaIO.purchaseAvroSchema).as("p"))
      .select("p.*").head
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == ((42L, 7L, 99L)))
  }

  test("Product: to_avro bytes are readable by the plain avro library") {
    GraftFunctions.register(spark)
    val df = Seq((1L, "widget", "a widget", 19.99))
      .toDF("id", "name", "description", "price")
    val bytes = df.select(GraftFunctions.toAvro(
        struct(col("id"), col("name"), col("description"), col("price")),
        KafkaIO.productAvroSchema).as("value"))
      .head.getAs[Array[Byte]]("value")
    val schema = new Schema.Parser().parse(KafkaIO.productAvroSchema)
    val rec = avroDecode(schema, bytes)
    assert(rec.get("id") == 1L)
    assert(rec.get("name").toString == "widget")
    assert(rec.get("description").toString == "a widget")
    assert(rec.get("price") == 19.99)
  }

  test("PurchaseWithProduct round-trips through to_avro -> from_avro") {
    GraftFunctions.register(spark)
    val df = Seq((10L, 3L, 5L, "gizmo", 7.5))
      .toDF("purchase_id", "purchase_quantity", "product_id", "product_name",
        "product_price")
    val back = df.select(GraftFunctions.toAvro(
        struct(df.columns.map(col).toIndexedSeq: _*),
        KafkaIO.purchaseWithProductAvroSchema).as("value"))
      .select(GraftFunctions.fromAvro(col("value"),
        KafkaIO.purchaseWithProductAvroSchema).as("r"))
      .select("r.*")
    assert(back.collect().toSeq == df.collect().toSeq)
  }

  test("PriceAlert: timestamp-millis maps to TimestampType and round-trips") {
    GraftFunctions.register(spark)
    val ts = java.sql.Timestamp.valueOf("2024-03-01 12:34:56.789")
    val df = Seq((ts, 3600.5)).toDF("window_start", "total_sum_per_minute")
    val encoded = df.select(GraftFunctions.toAvro(
        struct(col("window_start"), col("total_sum_per_minute")),
        KafkaIO.priceAlertAvroSchema).as("value"))
    val decodedDf = encoded.select(GraftFunctions.fromAvro(col("value"),
        KafkaIO.priceAlertAvroSchema).as("r"))
      .select("r.*")
    assert(decodedDf.schema("window_start").dataType == TimestampType)
    val row = decodedDf.head
    assert(row.getTimestamp(0) == ts)
    assert(row.getDouble(1) == 3600.5)
    // the wire value is epoch MILLIS (logical type), not micros
    val schema = new Schema.Parser().parse(KafkaIO.priceAlertAvroSchema)
    val rec = avroDecode(schema, encoded.head.getAs[Array[Byte]]("value"))
    assert(rec.get("window_start") == ts.getTime)
  }

  test("Confluent framing: magic byte + big-endian schema id + avro body") {
    GraftFunctions.register(spark)
    val df = Seq((42L, 7L, 99L)).toDF("id", "quantity", "productid")
    val bytes = df.select(GraftFunctions.toAvro(
        struct(col("id"), col("quantity"), col("productid")),
        KafkaIO.purchaseAvroSchema, confluentFraming = true).as("value"))
      .head.getAs[Array[Byte]]("value")
    assert(bytes(0) == 0, "magic byte")
    assert(bytes.slice(1, 5).toSeq == Seq(0, 0, 0, 1), "schema id 1 big-endian")
    val schema = new Schema.Parser().parse(KafkaIO.purchaseAvroSchema)
    assert(avroDecode(schema, bytes, skip = 5).get("id") == 42L)
    // and the framed decode path strips the header
    val row = Seq(Tuple1(bytes)).toDF("value")
      .select(GraftFunctions.fromAvro(col("value"), KafkaIO.purchaseAvroSchema,
        confluentFraming = true).as("p"))
      .select("p.*").head
    assert(row.getLong(0) == 42L)
  }

  test("property: random records round-trip across all primitive types") {
    GraftFunctions.register(spark)
    val schemaJson =
      """{"type":"record","name":"P","fields":[
        |{"name":"b","type":"boolean"},{"name":"i","type":"int"},
        |{"name":"l","type":"long"},{"name":"f","type":"float"},
        |{"name":"d","type":"double"},{"name":"s","type":"string"},
        |{"name":"y","type":"bytes"}]}""".stripMargin
    val rng = new scala.util.Random(12345)
    val rows = (1 to 100).map { _ =>
      (rng.nextBoolean(), rng.nextInt(), rng.nextLong(), rng.nextFloat(),
        rng.nextDouble(),
        // include non-ASCII + empty strings
        if (rng.nextBoolean()) rng.alphanumeric.take(rng.nextInt(20)).mkString
        else "üñïçødé-" + rng.nextInt(100),
        Array.fill(rng.nextInt(16))(rng.nextInt().toByte))
    }
    val df = rows.toDF("b", "i", "l", "f", "d", "s", "y")
    val back = df.select(GraftFunctions.toAvro(
        struct(df.columns.map(col).toIndexedSeq: _*), schemaJson).as("v"))
      .select(GraftFunctions.fromAvro(col("v"), schemaJson).as("r"))
      .select("r.*")
      .collect().map(r => (r.getBoolean(0), r.getInt(1), r.getLong(2),
        r.getFloat(3), r.getDouble(4), r.getString(5),
        r.getAs[Array[Byte]](6).toSeq))
    val expect = rows.map(t => (t._1, t._2, t._3, t._4, t._5, t._6, t._7.toSeq))
    assert(back.toSeq == expect)
  }

  test("end-to-end wire path: framed Avro in -> stream join+window+filter -> framed Avro out") {
    // The reference's full Kafka path (S1 -> J1 -> A1 -> P2 -> K1) with
    // real Confluent-framed Avro bytes on both ends; only the broker is
    // replaced (MemoryStream / memory sink). Golden scenario: 6
    // purchases x qty 2 x price 300 in minute 02:00 => alert 3600.0.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    GraftFunctions.register(spark)
    val t0230 = java.sql.Timestamp.valueOf("2024-01-01 02:00:30")
    val w0200 = java.sql.Timestamp.valueOf("2024-01-01 02:00:00")

    def framed(bytes: Array[Byte]): Array[Byte] =
      Array[Byte](0, 0, 0, 0, 1) ++ bytes
    val purchaseSchema = new Schema.Parser().parse(KafkaIO.purchaseAvroSchema)
    val productSchema = new Schema.Parser().parse(KafkaIO.productAvroSchema)

    val purchaseBytes = (1L to 6L).map { i =>
      (framed(avroEncode(purchaseSchema, r => {
        r.put("id", i); r.put("quantity", 2L); r.put("productid", 1L)
      })), t0230)
    }
    val productBytes = Seq(framed(avroEncode(productSchema, r => {
      r.put("id", 1L); r.put("name", "widget"); r.put("description", "d")
      r.put("price", 300.0)
    })))

    val products = productBytes.map(Tuple1(_)).toDF("value")
      .select(GraftFunctions.fromAvro(col("value"), KafkaIO.productAvroSchema,
        confluentFraming = true).as("v"))
      .select("v.*")

    val in = MemoryStream[(Array[Byte], java.sql.Timestamp)]
    val purchases = in.toDF().toDF("value", "ts")
      .select(GraftFunctions.fromAvro(col("value"), KafkaIO.purchaseAvroSchema,
        confluentFraming = true).as("p"), col("ts"))
      .select(col("p.id").as("id"), col("p.quantity").as("quantity"),
        col("p.productid").as("productid"), col("ts"))

    val alerts = graft.streaming.PriceAlertsStream
      .dslAlertsUpdate(purchases, products, threshold = 300.0)
    val wire = alerts.select(col("product_id").as("key"),
      GraftFunctions.toAvro(
        struct(col("window_start"), col("total_sum_per_minute")),
        KafkaIO.priceAlertAvroSchema, confluentFraming = true).as("value"))

    val q = wire.writeStream.format("memory").queryName("avro_wire_out")
      .outputMode("update").start()
    try {
      in.addData(purchaseBytes)
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.table("avro_wire_out").collect()
    assert(out.nonEmpty, "alert must reach the sink")
    val last = out.last
    assert(last.getAs[String]("key") == "1")
    val valueBytes = last.getAs[Array[Byte]]("value")
    assert(valueBytes(0) == 0, "framed output")
    val alertSchema = new Schema.Parser().parse(KafkaIO.priceAlertAvroSchema)
    val rec = avroDecode(alertSchema, valueBytes, skip = 5)
    assert(rec.get("window_start") == w0200.getTime, "timestamp-millis on the wire")
    assert(rec.get("total_sum_per_minute") == 3600.0)
  }

  test("permissive decode: corrupt bytes become NULL, valid rows survive") {
    GraftFunctions.register(spark)
    val schema = new Schema.Parser().parse(KafkaIO.purchaseAvroSchema)
    val good = avroEncode(schema, r => {
      r.put("id", 1L); r.put("quantity", 2L); r.put("productid", 3L)
    })
    val corrupt = Array[Byte](-1, -2, -3) // truncated varint garbage
    val df = Seq(Tuple1(good), Tuple1(corrupt)).toDF("value")
    // FAILFAST default throws on the corrupt record (raw IO error in
    // local mode; wrapped in SparkException on a cluster)
    intercept[Exception] {
      df.select(GraftFunctions.fromAvro(col("value"),
        KafkaIO.purchaseAvroSchema).as("p")).collect()
    }
    // permissive mode nulls it and keeps the good row
    import org.apache.spark.sql.classic.GraftPlanBridge
    val permissive = df.select(GraftPlanBridge.column(
      graft.functions.FromAvroGraft(
        GraftPlanBridge.expression(col("value")),
        KafkaIO.purchaseAvroSchema, confluentFraming = false,
        permissive = true)).as("p"))
    val rows = permissive.collect()
    assert(rows.length == 2)
    assert(rows.count(_.isNullAt(0)) == 1)
    assert(rows.filterNot(_.isNullAt(0))
      .head.getStruct(0).getLong(0) == 1L)
  }

  test("nested records with arrays and maps round-trip and cross-check vs plain avro") {
    GraftFunctions.register(spark)
    val schemaJson =
      """{"type":"record","name":"Outer","fields":[
        |{"name":"id","type":"long"},
        |{"name":"meta","type":{"type":"record","name":"Meta","fields":[
        |  {"name":"name","type":"string"},
        |  {"name":"tags","type":{"type":"array","items":"string"}},
        |  {"name":"attrs","type":{"type":"map","values":"long"}},
        |  {"name":"inner","type":{"type":"record","name":"Inner","fields":[
        |    {"name":"x","type":"double"},{"name":"y","type":["null","string"]}]}}]}},
        |{"name":"scores","type":{"type":"array","items":"double"}}]}""".stripMargin
    val df = Seq(Tuple1(1L)).toDF("id").select(
      col("id"),
      struct(lit("n1").as("name"),
        array(lit("a"), lit("b")).as("tags"),
        map(lit("k1"), lit(10L), lit("k2"), lit(20L)).as("attrs"),
        struct(lit(2.5).as("x"), lit("hello").as("y")).as("inner")).as("meta"),
      array(lit(0.25), lit(0.75)).as("scores"))
    val bytes = df.select(GraftFunctions.toAvro(
        struct(col("id"), col("meta"), col("scores")), schemaJson).as("v"))
      .head.getAs[Array[Byte]]("v")
    // cross-check: plain avro library reads the same structure
    val schema = new Schema.Parser().parse(schemaJson)
    val rec = avroDecode(schema, bytes)
    assert(rec.get("id") == 1L)
    val meta = rec.get("meta").asInstanceOf[GenericRecord]
    assert(meta.get("name").toString == "n1")
    assert(meta.get("tags").asInstanceOf[java.util.List[AnyRef]].toString == "[a, b]")
    val attrs = meta.get("attrs").asInstanceOf[java.util.Map[AnyRef, AnyRef]]
    assert(attrs.size == 2)
    val inner = meta.get("inner").asInstanceOf[GenericRecord]
    assert(inner.get("x") == 2.5 && inner.get("y").toString == "hello")
    // and the expression decode round-trips
    val back = Seq(Tuple1(bytes)).toDF("v")
      .select(GraftFunctions.fromAvro(col("v"), schemaJson).as("r"))
      .select(col("r.id"), col("r.meta.name"), col("r.meta.tags"),
        col("r.meta.attrs"), col("r.meta.inner.x"), col("r.meta.inner.y"),
        col("r.scores"))
      .head
    assert(back.getLong(0) == 1L)
    assert(back.getString(1) == "n1")
    assert(back.getSeq[String](2) == Seq("a", "b"))
    assert(back.getMap[String, Long](3) == Map("k1" -> 10L, "k2" -> 20L))
    assert(back.getDouble(4) == 2.5 && back.getString(5) == "hello")
    assert(back.getSeq[Double](6) == Seq(0.25, 0.75))
  }

  test("enum, fixed, date and decimal logical types round-trip") {
    GraftFunctions.register(spark)
    val schemaJson =
      """{"type":"record","name":"L","fields":[
        |{"name":"color","type":{"type":"enum","name":"Color","symbols":["RED","GREEN","BLUE"]}},
        |{"name":"fx","type":{"type":"fixed","name":"F8","size":8}},
        |{"name":"d","type":{"type":"int","logicalType":"date"}},
        |{"name":"amount","type":{"type":"bytes","logicalType":"decimal","precision":10,"scale":2}},
        |{"name":"famount","type":{"type":"fixed","name":"DecF","size":6,"logicalType":"decimal","precision":12,"scale":3}}]}""".stripMargin
    val df = Seq(Tuple1(1)).toDF("i").select(
      lit("GREEN").as("color"),
      lit(Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)).as("fx"),
      lit(java.sql.Date.valueOf("2024-03-01")).as("d"),
      lit(BigDecimal("12345.67")).cast("decimal(10,2)").as("amount"),
      lit(BigDecimal("-42.125")).cast("decimal(12,3)").as("famount"))
    val bytes = df.select(GraftFunctions.toAvro(
        struct(col("color"), col("fx"), col("d"), col("amount"), col("famount")),
        schemaJson).as("v")).head.getAs[Array[Byte]]("v")
    // cross-check with the plain avro library
    val schema = new Schema.Parser().parse(schemaJson)
    val rec = avroDecode(schema, bytes)
    assert(rec.get("color").toString == "GREEN")
    assert(rec.get("d") == java.sql.Date.valueOf("2024-03-01").toLocalDate.toEpochDay.toInt)
    val unscaled = {
      val b = rec.get("amount").asInstanceOf[java.nio.ByteBuffer]
      val arr = new Array[Byte](b.remaining()); b.duplicate().get(arr)
      new java.math.BigInteger(arr)
    }
    assert(unscaled == java.math.BigInteger.valueOf(1234567L))
    // round-trip through the expression decode
    val back = Seq(Tuple1(bytes)).toDF("v")
      .select(GraftFunctions.fromAvro(col("v"), schemaJson).as("r"))
      .select("r.*").head
    assert(back.getString(0) == "GREEN")
    assert(back.getAs[Array[Byte]](1).toSeq == Seq[Byte](1, 2, 3, 4, 5, 6, 7, 8))
    assert(back.getDate(2) == java.sql.Date.valueOf("2024-03-01"))
    assert(back.getDecimal(3) == new java.math.BigDecimal("12345.67"))
    assert(back.getDecimal(4) == new java.math.BigDecimal("-42.125"))
  }

  test("pre-1970 timestamps with sub-ms micros round-trip (floorDiv encode)") {
    GraftFunctions.register(spark)
    // 1969-12-31 23:59:59.999 — millis = -1; truncating division of the
    // micros value (-1000) would give 0 and shift the wire value +1 ms
    val ts = java.sql.Timestamp.valueOf("1969-12-31 23:59:59.999")
    val df = Seq((ts, 1.0)).toDF("window_start", "total_sum_per_minute")
    val encoded = df.select(GraftFunctions.toAvro(
        struct(col("window_start"), col("total_sum_per_minute")),
        KafkaIO.priceAlertAvroSchema).as("value"))
    val schema = new Schema.Parser().parse(KafkaIO.priceAlertAvroSchema)
    val rec = avroDecode(schema, encoded.head.getAs[Array[Byte]]("value"))
    assert(rec.get("window_start") == -1L, "wire millis must floor, not truncate")
    val back = encoded.select(GraftFunctions.fromAvro(col("value"),
        KafkaIO.priceAlertAvroSchema).as("r")).select("r.*").head
    assert(back.getTimestamp(0) == ts)
  }

  test("writer-schema resolution by frame id: two schema versions in one batch") {
    GraftFunctions.register(spark)
    val v1 =
      """{"type":"record","name":"Purchase","fields":[
        |{"name":"id","type":"long"},{"name":"quantity","type":"long"}]}""".stripMargin
    // v2 reorders fields and adds one — resolution must match by NAME
    val v2 =
      """{"type":"record","name":"Purchase","fields":[
        |{"name":"quantity","type":"long"},{"name":"note","type":"string"},
        |{"name":"id","type":"long"}]}""".stripMargin
    // reader wants the common shape
    val reader =
      """{"type":"record","name":"Purchase","fields":[
        |{"name":"id","type":"long"},{"name":"quantity","type":"long"}]}""".stripMargin
    def framed(id: Int, bytes: Array[Byte]): Array[Byte] =
      Array[Byte](0, (id >>> 24).toByte, (id >>> 16).toByte, (id >>> 8).toByte,
        id.toByte) ++ bytes
    val b1 = framed(1, avroEncode(new Schema.Parser().parse(v1), r => {
      r.put("id", 10L); r.put("quantity", 2L)
    }))
    val b2 = framed(2, avroEncode(new Schema.Parser().parse(v2), r => {
      r.put("quantity", 5L); r.put("note", "hi"); r.put("id", 20L)
    }))
    val rows = KafkaIO.decodeAvroFrames(Seq(Tuple1(b1), Tuple1(b2)).toDF("value"),
        reader, "FAILFAST", Map(1 -> v1, 2 -> v2))
      .select("decoded.*").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == Set((10L, 2L), (20L, 5L)),
      "both schema versions must decode through the reader shape")
    // unknown id: permissive -> NULL row, strict -> failure
    val b3 = framed(9, avroEncode(new Schema.Parser().parse(v1), r => {
      r.put("id", 30L); r.put("quantity", 1L)
    }))
    intercept[Exception] {
      KafkaIO.decodeAvroFrames(Seq(Tuple1(b3)).toDF("value"), reader,
        "FAILFAST", Map(1 -> v1, 2 -> v2)).select(col("decoded").as("p")).collect()
    }
    val permissive = KafkaIO.decodeAvroFrames(Seq(Tuple1(b3)).toDF("value"),
        reader, "PERMISSIVE", Map(1 -> v1, 2 -> v2))
      .select(col("decoded").as("p")).collect()
    assert(permissive.length == 1 && permissive.head.isNullAt(0))
  }

  test("streaming wire path with MIXED schema versions: resolving decode end-to-end") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    GraftFunctions.register(spark)
    val v1 = KafkaIO.purchaseAvroSchema
    // evolved topic version: extra field, different order
    val v2 =
      """{"type":"record","name":"Purchase","fields":[
        |{"name":"productid","type":"long"},{"name":"channel","type":"string"},
        |{"name":"id","type":"long"},{"name":"quantity","type":"long"}]}""".stripMargin
    def framed(id: Int, bytes: Array[Byte]): Array[Byte] =
      Array[Byte](0, (id >>> 24).toByte, (id >>> 16).toByte, (id >>> 8).toByte,
        id.toByte) ++ bytes
    val s1 = new Schema.Parser().parse(v1)
    val s2 = new Schema.Parser().parse(v2)
    val batch = (1L to 3L).map(i => framed(1, avroEncode(s1, r => {
      r.put("id", i); r.put("quantity", 2L); r.put("productid", 7L)
    }))) ++ (4L to 6L).map(i => framed(2, avroEncode(s2, r => {
      r.put("productid", 7L); r.put("channel", "web"); r.put("id", i)
      r.put("quantity", 3L)
    })))
    val in = MemoryStream[Array[Byte]]
    val decoded = KafkaIO.decodeAvroFrames(in.toDF().toDF("value"), v1,
        "FAILFAST", Map(1 -> v1, 2 -> v2))
      .select("decoded.*")
    val q = decoded.writeStream.format("memory").queryName("resolve_out")
      .outputMode("append").start()
    try {
      in.addData(batch)
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("resolve_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == ((1L to 3L).map(i => (i, 2L, 7L)) ++
      (4L to 6L).map(i => (i, 3L, 7L))).toSet,
      "both wire versions must decode through the reader schema in one stream")
  }

  test("nullable [null, T] union fields decode/encode null") {
    GraftFunctions.register(spark)
    val schemaJson =
      """{"type":"record","name":"N","fields":[
        |{"name":"id","type":"long"},
        |{"name":"note","type":["null","string"]}]}""".stripMargin
    val df = Seq((1L, Some("hi")), (2L, None)).toDF("id", "note")
    val back = df.select(GraftFunctions.toAvro(
        struct(col("id"), col("note")), schemaJson).as("value"))
      .select(GraftFunctions.fromAvro(col("value"), schemaJson).as("r"))
      .select("r.*")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(back == Set((1L, Some("hi")), (2L, None)))
  }

  test("multi-branch union of two records decodes to member struct and round-trips") {
    GraftFunctions.register(spark)
    val schemaJson =
      """{"type":"record","name":"Evt","fields":[
        |{"name":"id","type":"long"},
        |{"name":"body","type":["null",
        |  {"type":"record","name":"Click","fields":[
        |    {"name":"x","type":"int"},{"name":"y","type":"int"}]},
        |  {"type":"record","name":"View","fields":[
        |    {"name":"url","type":"string"}]}]}]}""".stripMargin
    val schema = new Schema.Parser().parse(schemaJson)
    val clickS = schema.getField("body").schema().getTypes.get(1)
    val viewS = schema.getField("body").schema().getTypes.get(2)

    // bytes written by the PLAIN avro library, one per branch + a null
    val click = new GenericData.Record(clickS)
    click.put("x", 3); click.put("y", 4)
    val view = new GenericData.Record(viewS)
    view.put("url", new org.apache.avro.util.Utf8("/home"))
    val bytes = Seq[(Long, AnyRef)]((1L, click), (2L, view), (3L, null)).map {
      case (id, body) => avroEncode(schema, r => { r.put("id", id); r.put("body", body) })
    }

    val df = bytes.map(Tuple1(_)).toDF("value")
      .select(GraftFunctions.fromAvro(col("value"), schemaJson).as("r"))
    // spark-avro member-struct convention: body.member0 = Click, member1 = View
    val rows = df.select("r.id", "r.body.member0.x", "r.body.member0.y",
        "r.body.member1.url").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(3)))).toSet
    assert(rows == Set((1L, Some(3), None), (2L, None, Some("/home")),
      (3L, None, None)), s"got $rows")

    // round-trip: re-encode through ToAvroGraft, decode with PLAIN avro
    val wire = df.select(col("r.id"),
        GraftFunctions.toAvro(col("r"), schemaJson).as("value"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("value")).toMap
    val back1 = avroDecode(schema, wire(1L))
    assert(back1.get("body").asInstanceOf[GenericRecord].get("x") == 3)
    val back2 = avroDecode(schema, wire(2L))
    assert(back2.get("body").asInstanceOf[GenericRecord].get("url").toString == "/home")
    assert(avroDecode(schema, wire(3L)).get("body") == null)
  }

  test("schema evolution matrix: default-fill, int->long and float->double promotion, field alias") {
    // The registry lifecycle the reference lives on
    // (dsl/PriceAlertsApp.java:33-38, auto-register): frames written
    // under OLD schema ids must decode through an EVOLVED reader via
    // Avro schema resolution. Cross-checked field-for-field against
    // the plain avro resolving reader so the semantics are the spec's,
    // not just self-consistent.
    GraftFunctions.register(spark)
    val v1 =
      """{"type":"record","name":"Purchase","fields":[
        |{"name":"id","type":"int"},
        |{"name":"amount","type":"float"},
        |{"name":"name","type":"string"}]}""".stripMargin
    // evolved reader: id promoted int->long, amount float->double,
    // name renamed with an alias, discount added with a default,
    // note added as nullable-with-null-default
    val v2 =
      """{"type":"record","name":"Purchase","fields":[
        |{"name":"id","type":"long"},
        |{"name":"amount","type":"double"},
        |{"name":"name_full","type":"string","aliases":["name"]},
        |{"name":"discount","type":"double","default":0.25},
        |{"name":"note","type":["null","string"],"default":null}]}""".stripMargin
    val s1 = new Schema.Parser().parse(v1)
    val s2 = new Schema.Parser().parse(v2)
    def framed(id: Int, bytes: Array[Byte]): Array[Byte] =
      Array[Byte](0, (id >>> 24).toByte, (id >>> 16).toByte, (id >>> 8).toByte,
        id.toByte) ++ bytes
    val oldFrame = framed(1, avroEncode(s1, r => {
      r.put("id", 7); r.put("amount", 1.5f); r.put("name", "widget")
    }))
    val newFrame = framed(2, avroEncode(s2, r => {
      r.put("id", 8L); r.put("amount", 2.5); r.put("name_full", "gizmo")
      r.put("discount", 0.1); r.put("note", new org.apache.avro.util.Utf8("hi"))
    }))

    // ground truth: the plain avro RESOLVING reader (writer=v1, reader=v2)
    val resolved = new GenericDatumReader[GenericRecord](s1, s2).read(null,
      DecoderFactory.get().binaryDecoder(oldFrame, 5, oldFrame.length - 5, null))
    assert(resolved.get("id") == 7L, "int->long promotion (plain avro)")
    assert(resolved.get("amount") == 1.5, "float->double promotion (plain avro)")
    assert(resolved.get("name_full").toString == "widget", "alias (plain avro)")
    assert(resolved.get("discount") == 0.25, "default fill (plain avro)")
    assert(resolved.get("note") == null, "null default fill (plain avro)")

    // the engine decodes BOTH wire versions through the evolved reader
    val rows = KafkaIO.decodeAvroFrames(
        Seq(Tuple1(oldFrame), Tuple1(newFrame)).toDF("value"), v2,
        "FAILFAST", Map(1 -> v1, 2 -> v2))
      .select("decoded.*").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getDouble(3),
        Option(r.getString(4)))).toSet
    assert(rows == Set(
      (7L, 1.5, "widget", 0.25, None),
      (8L, 2.5, "gizmo", 0.1, Some("hi"))),
      s"evolution matrix must match the avro resolving reader, got $rows")

    // encode direction: rows written under the EVOLVED schema by
    // ToAvroGraft are readable by the plain avro library under v2
    val ts2 = Seq((9L, 3.5, "gadget", 0.0, Option.empty[String]))
      .toDF("id", "amount", "name_full", "discount", "note")
    val wire = ts2.select(GraftFunctions.toAvro(
        struct(col("id"), col("amount"), col("name_full"), col("discount"),
          col("note")), v2).as("v"))
      .head.getAs[Array[Byte]]("v")
    val back = avroDecode(s2, wire)
    assert(back.get("id") == 9L && back.get("amount") == 3.5 &&
      back.get("name_full").toString == "gadget" && back.get("note") == null)
  }

  test("corrupt-frame policy: PERMISSIVE / DROPMALFORMED / FAILFAST over a poisoned batch") {
    GraftFunctions.register(spark)
    val schema = new Schema.Parser().parse(KafkaIO.purchaseAvroSchema)
    def framed(id: Int, bytes: Array[Byte]): Array[Byte] =
      Array[Byte](0, (id >>> 24).toByte, (id >>> 16).toByte, (id >>> 8).toByte,
        id.toByte) ++ bytes
    val good1 = framed(1, avroEncode(schema, r => {
      r.put("id", 1L); r.put("quantity", 2L); r.put("productid", 3L)
    }))
    val good2 = framed(1, avroEncode(schema, r => {
      r.put("id", 4L); r.put("quantity", 5L); r.put("productid", 6L)
    }))
    val torn = good1.take(3) // shorter than the 5-byte header
    val badMagic = { val b = good1.clone(); b(0) = 1; b }
    val unknownId = framed(99, avroEncode(schema, r => {
      r.put("id", 7L); r.put("quantity", 8L); r.put("productid", 9L)
    }))
    val garbageBody = framed(1, Array[Byte](-1)) // truncated varint body
    val all = Seq(good1, torn, badMagic, unknownId, garbageBody, good2)
    val df = all.map(Tuple1(_)).toDF("value")
    val byId = Map(1 -> KafkaIO.purchaseAvroSchema)

    // PERMISSIVE: every row survives; malformed ones carry NULL decoded
    // + the raw frame in _corrupt_record; good rows the reverse
    val perm = KafkaIO.decodeAvroFrames(df, KafkaIO.purchaseAvroSchema,
        mode = "PERMISSIVE", writerSchemasById = byId)
      .select(col("decoded"), col("_corrupt_record")).collect()
    assert(perm.length == 6)
    val corrupt = perm.filter(_.isNullAt(0))
    assert(corrupt.length == 4, "torn, bad magic, unknown id, garbage body")
    assert(corrupt.forall(r => !r.isNullAt(1)), "corrupt rows keep raw bytes")
    assert(corrupt.map(_.getAs[Array[Byte]](1).toSeq).toSet ==
      Set(torn, badMagic, unknownId, garbageBody).map(_.toSeq))
    val goodRows = perm.filterNot(_.isNullAt(0))
    assert(goodRows.forall(_.isNullAt(1)), "good rows have NULL _corrupt_record")
    assert(goodRows.map(_.getStruct(0).getLong(0)).toSet == Set(1L, 4L))

    // DROPMALFORMED: only the good rows, no corrupt column
    val dropped = KafkaIO.decodeAvroFrames(df, KafkaIO.purchaseAvroSchema,
      mode = "DROPMALFORMED", writerSchemasById = byId)
    assert(!dropped.columns.contains("_corrupt_record"))
    val keptIds = dropped.select("decoded.id").collect().map(_.getLong(0)).toSet
    assert(keptIds == Set(1L, 4L))

    // FAILFAST: the first malformed frame fails the task
    intercept[Exception] {
      KafkaIO.decodeAvroFrames(df, KafkaIO.purchaseAvroSchema,
        mode = "FAILFAST", writerSchemasById = byId).collect()
    }
    // and an unknown mode is rejected eagerly
    intercept[IllegalArgumentException] {
      KafkaIO.decodeAvroFrames(df, KafkaIO.purchaseAvroSchema, mode = "LENIENT")
    }
  }

  test("multi-branch primitive union [int, string] keeps each branch's member") {
    GraftFunctions.register(spark)
    val schemaJson =
      """{"type":"record","name":"P","fields":[
        |{"name":"v","type":["int","string"]}]}""".stripMargin
    val schema = new Schema.Parser().parse(schemaJson)
    val bytes = Seq[AnyRef](Integer.valueOf(7), new org.apache.avro.util.Utf8("seven"))
      .map(v => avroEncode(schema, _.put("v", v)))
    val df = bytes.map(Tuple1(_)).toDF("value")
      .select(GraftFunctions.fromAvro(col("value"), schemaJson).as("r"))
    val got = df.select("r.v.member0", "r.v.member1").collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
    assert(got == Set((Some(7), None), (None, Some("seven"))), s"got $got")
    // no-null union: the field itself is non-nullable, encode restores wire
    val wire = df.select(GraftFunctions.toAvro(col("r"), schemaJson))
      .collect().map(_.getAs[Array[Byte]](0).toSeq).toSet
    assert(wire == bytes.map(_.toSeq).toSet, "encoded bytes match originals")
  }
}
