package graft.functions

import java.io.ByteArrayOutputStream

import org.apache.avro.{LogicalTypes, Schema}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericFixed, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.avro.util.Utf8

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Avro wire-format serde as native Catalyst expressions, built on the
  * avro *core* jar only (no spark-avro module needed) — the Spark
  * counterpart of the reference's GenericAvroSerde layer
  * (dsl/PriceAlertsApp.java:84-85, schemas at TestUtils.java:7-22).
  *
  * Scope: RECURSIVE — records (nested to any depth), arrays, maps,
  * enums, fixed, the primitive types, plus the logical types
  * `timestamp-millis`/`timestamp-micros` on long (→ TimestampType,
  * micros), `date` on int (→ DateType) and `decimal` on bytes/fixed
  * (→ DecimalType). `["null", T]` unions are nullable fields.
  * Multi-branch unions (2+ non-null branches, with or without null)
  * decode to a struct of nullable `member0..memberN-1` fields —
  * spark-avro's convention — with exactly the written branch's member
  * set; encode requires exactly one non-null member and writes that
  * branch. (spark-avro's numeric-promotion shortcut — [int,long]→long
  * — is deliberately NOT applied: every branch keeps its own member,
  * so no information about which branch was written is lost.) Struct
  * fields map to schema fields BY POSITION. The reference itself needs
  * only flat records (TestUtils.java:7-22); the nested support is what
  * any real user hits at the first schema evolution.
  *
  * `confluentFraming` handles the Schema Registry wire format the
  * reference produces on Kafka: 1 magic byte (0) + 4-byte big-endian
  * schema id + Avro binary body. When `writerSchemasById` is non-empty
  * the decode resolves the WRITER schema from that frame id per record
  * (the offline analogue of the reference's CachedSchemaRegistryClient,
  * dsl/PriceAlertsApp.java:33-38) and Avro schema resolution maps it to
  * the declared reader schema — so a topic carrying several schema
  * versions decodes correctly in one batch.
  *
  * Known limitation (shared with spark-avro): for a multi-branch union
  * whose branches share a RUNTIME representation — e.g. `[long,
  * long+timestamp-micros]` — `GenericData.resolveUnion` identifies the
  * branch from the runtime value and picks the FIRST matching branch,
  * so a value written under the second branch decodes into `member0`:
  * branch identity is not recoverable for such (pathological) schemas.
  * Unions whose branches have distinct runtime classes (the normal
  * case — record/string/int/...) are unaffected.
  */
object AvroStructConverter {
  /** Union-aware split of a FIELD schema: (non-null branches, had a
    * null branch). Non-union schemas are a single "branch".
    */
  def branches(fs: Schema): (IndexedSeq[Schema], Boolean) = fs.getType match {
    case Schema.Type.UNION =>
      val all = fs.getTypes
      val nn = Vector.newBuilder[Schema]
      var nullable = false
      val it = all.iterator()
      while (it.hasNext) {
        val b = it.next()
        if (b.getType == Schema.Type.NULL) nullable = true else nn += b
      }
      val out = nn.result()
      require(out.nonEmpty, s"union with no non-null branch: $fs")
      (out, nullable)
    case _ => (Vector(fs), false)
  }

  /** Spark type of a FIELD schema, union-aware: single non-null branch
    * unwraps to the branch type; 2+ branches become the spark-avro
    * member struct (one nullable `memberI` per branch, exactly one
    * set per value).
    */
  def fieldType(fs: Schema): (DataType, Boolean) = {
    val (bs, nullable) = branches(fs)
    if (bs.length == 1) (sparkType(bs.head), nullable)
    else (StructType(bs.zipWithIndex.map { case (b, i) =>
      StructField(s"member$i", sparkType(b), nullable = true)
    }.toArray), nullable)
  }

  def isTsMillis(s: Schema): Boolean =
    s.getType == Schema.Type.LONG && s.getLogicalType != null &&
      s.getLogicalType.getName == "timestamp-millis"

  def isTsMicros(s: Schema): Boolean =
    s.getType == Schema.Type.LONG && s.getLogicalType != null &&
      s.getLogicalType.getName == "timestamp-micros"

  def isDate(s: Schema): Boolean =
    s.getType == Schema.Type.INT && s.getLogicalType != null &&
      s.getLogicalType.getName == "date"

  def decimalOf(s: Schema): Option[(Int, Int)] = s.getLogicalType match {
    case d: LogicalTypes.Decimal => Some((d.getPrecision, d.getScale))
    case _ => None
  }

  /** Recursive Avro schema → Spark DataType. */
  def sparkType(s: Schema): DataType = s.getType match {
    case Schema.Type.BOOLEAN => BooleanType
    case Schema.Type.INT => if (isDate(s)) DateType else IntegerType
    case Schema.Type.LONG =>
      if (isTsMillis(s) || isTsMicros(s)) TimestampType else LongType
    case Schema.Type.FLOAT => FloatType
    case Schema.Type.DOUBLE => DoubleType
    case Schema.Type.STRING => StringType
    case Schema.Type.ENUM => StringType
    case Schema.Type.BYTES =>
      decimalOf(s).map { case (p, sc) => DecimalType(p, sc) }.getOrElse(BinaryType)
    case Schema.Type.FIXED =>
      decimalOf(s).map { case (p, sc) => DecimalType(p, sc) }.getOrElse(BinaryType)
    case Schema.Type.RECORD =>
      StructType(s.getFields.toArray.map { f0 =>
        val f = f0.asInstanceOf[Schema.Field]
        val (dt, nullable) = fieldType(f.schema())
        StructField(f.name(), dt, nullable)
      })
    case Schema.Type.ARRAY =>
      val (dt, nullable) = fieldType(s.getElementType)
      ArrayType(dt, containsNull = nullable)
    case Schema.Type.MAP =>
      val (dt, nullable) = fieldType(s.getValueType)
      MapType(StringType, dt, valueContainsNull = nullable)
    case other => throw new IllegalArgumentException(s"unsupported avro type: $other")
  }
}

class AvroStructConverter(val schemaJson: String, val confluentFraming: Boolean,
                          val schemaId: Int,
                          val writerSchemasById: Map[Int, String] = Map.empty)
    extends Serializable {
  import AvroStructConverter._

  /** The declared schema: what the bytes are encoded with unless
    * `writerSchemasById` names another writer schema per frame, and
    * always what the decode reads into.
    */
  @transient private lazy val schema: Schema =
    new Schema.Parser().parse(schemaJson)
  @transient private lazy val reader = new GenericDatumReader[GenericRecord](schema)
  /** Frame-id → resolving reader cache (writer = registry schema for
    * that id, reader = the declared schema). ConcurrentHashMap because
    * one converter instance is shared across a whole-stage-codegen task.
    */
  @transient private lazy val readersById =
    new java.util.concurrent.ConcurrentHashMap[Int, GenericDatumReader[GenericRecord]]()
  @transient private lazy val writer = new GenericDatumWriter[GenericRecord](schema)
  @transient private lazy val decoderFactory = DecoderFactory.get()
  @transient private lazy val encoderFactory = EncoderFactory.get()

  /** The Spark struct type this converter decodes to. */
  lazy val structType: StructType = {
    // dataType runs on the driver too, so parse fresh (non-transient path)
    sparkType(new Schema.Parser().parse(schemaJson)).asInstanceOf[StructType]
  }

  private val headerLen = if (confluentFraming) 5 else 0

  private def readerFor(bytes: Array[Byte]): GenericDatumReader[GenericRecord] = {
    if (!confluentFraming || writerSchemasById.isEmpty) return reader
    val id = ((bytes(1) & 0xff) << 24) | ((bytes(2) & 0xff) << 16) |
      ((bytes(3) & 0xff) << 8) | (bytes(4) & 0xff)
    readersById.computeIfAbsent(id, { id: Int =>
      val json = writerSchemasById.getOrElse(id,
        throw new org.apache.avro.AvroRuntimeException(
          s"unknown writer schema id $id (known: ${writerSchemasById.keys.toSeq.sorted})"))
      new GenericDatumReader[GenericRecord](new Schema.Parser().parse(json), schema)
    })
  }

  /** Avro binary (optionally Confluent-framed) -> InternalRow.
    * Framed decode validates the header first: a torn frame (shorter
    * than the 5-byte header) or a wrong magic byte fails with a clear
    * message instead of silently decoding 4 header bytes as Avro body
    * — real topics accumulate non-Confluent garbage (heartbeats,
    * tombstone fragments, a producer misconfigured to plain Avro).
    */
  def decode(bytes: Array[Byte]): InternalRow = {
    if (confluentFraming) {
      if (bytes.length < 5)
        throw new org.apache.avro.AvroRuntimeException(
          s"torn Confluent frame: ${bytes.length} bytes (< 5-byte header)")
      if (bytes(0) != 0)
        throw new org.apache.avro.AvroRuntimeException(
          f"bad Confluent magic byte 0x${bytes(0)}%02x (expected 0x00)")
    }
    val decoder = decoderFactory.binaryDecoder(bytes, headerLen,
      bytes.length - headerLen, null)
    val rec = readerFor(bytes).read(null, decoder)
    fromRecord(rec, schema)
  }

  /** Permissive decode: malformed records become NULL instead of
    * failing the task — at corpus scale some corrupt records are a
    * certainty, and one poison message must not kill the stream.
    * (The FAILFAST counterpart is [[decode]].)
    */
  def decodeOrNull(bytes: Array[Byte]): InternalRow =
    try decode(bytes) catch {
      case _: java.io.IOException => null
      case _: org.apache.avro.AvroRuntimeException => null
      case _: ArrayIndexOutOfBoundsException => null
      case _: java.nio.BufferUnderflowException => null
    }

  private def fromRecord(rec: GenericRecord, rs: Schema): InternalRow = {
    val fields = rs.getFields
    val out = new Array[Any](fields.size)
    var i = 0
    while (i < fields.size) {
      out(i) = fromAvroField(rec.get(i), fields.get(i).schema())
      i += 1
    }
    InternalRow.fromSeq(out.toSeq)
  }

  /** Avro FIELD value → Catalyst value: resolves unions. Single
    * non-null branch → plain nullable conversion; multi-branch → the
    * member struct with only the written branch's member set
    * (`GenericData.resolveUnion` identifies the branch by the runtime
    * value, the same dispatch GenericDatumWriter uses).
    */
  private def fromAvroField(v: AnyRef, fs: Schema): Any = {
    if (v == null) return null
    if (fs.getType != Schema.Type.UNION) return fromAvroValue(v, fs)
    val all = fs.getTypes
    var nn = 0
    var firstNonNull = -1
    var j = 0
    while (j < all.size) {
      if (all.get(j).getType != Schema.Type.NULL) {
        if (firstNonNull < 0) firstNonNull = j
        nn += 1
      }
      j += 1
    }
    if (nn == 1) return fromAvroValue(v, all.get(firstNonNull))
    val idx = GenericData.get().resolveUnion(fs, v)
    var member = 0
    j = 0
    while (j < idx) {
      if (all.get(j).getType != Schema.Type.NULL) member += 1
      j += 1
    }
    val out = new Array[Any](nn)
    out(member) = fromAvroValue(v, all.get(idx))
    InternalRow.fromSeq(out.toSeq)
  }

  /** Avro runtime value → Catalyst value (recursive). `fs` is already
    * union-unwrapped.
    */
  private def fromAvroValue(v: AnyRef, fs: Schema): Any = {
    if (v == null) return null
    fs.getType match {
      case Schema.Type.RECORD => fromRecord(v.asInstanceOf[GenericRecord], fs)
      case Schema.Type.ARRAY =>
        val es = fs.getElementType
        val coll = v.asInstanceOf[java.util.Collection[AnyRef]]
        val out = new Array[Any](coll.size)
        val it = coll.iterator(); var i = 0
        while (it.hasNext) { out(i) = fromAvroField(it.next(), es); i += 1 }
        new GenericArrayData(out)
      case Schema.Type.MAP =>
        val vs = fs.getValueType
        val m = v.asInstanceOf[java.util.Map[AnyRef, AnyRef]]
        val keys = new Array[Any](m.size)
        val vals = new Array[Any](m.size)
        val it = m.entrySet().iterator(); var i = 0
        while (it.hasNext) {
          val e = it.next()
          keys(i) = UTF8String.fromString(e.getKey.toString)
          vals(i) = fromAvroField(e.getValue, vs)
          i += 1
        }
        new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
      case Schema.Type.ENUM => UTF8String.fromString(v.toString)
      case Schema.Type.FIXED =>
        val bytes = v.asInstanceOf[GenericFixed].bytes().clone()
        decimalOf(fs) match {
          case Some((p, sc)) => Decimal(
            new java.math.BigDecimal(new java.math.BigInteger(bytes), sc), p, sc)
          case None => bytes
        }
      case Schema.Type.BYTES =>
        val b = v.asInstanceOf[java.nio.ByteBuffer]
        val arr = new Array[Byte](b.remaining()); b.duplicate().get(arr)
        decimalOf(fs) match {
          case Some((p, sc)) => Decimal(
            new java.math.BigDecimal(new java.math.BigInteger(arr), sc), p, sc)
          case None => arr
        }
      case Schema.Type.STRING => v match {
        case u: Utf8 => UTF8String.fromBytes(u.getBytes, 0, u.getByteLength)
        case s => UTF8String.fromString(s.toString)
      }
      case Schema.Type.LONG =>
        val l = v.asInstanceOf[java.lang.Long].longValue()
        if (isTsMillis(fs)) l * 1000L else l // micros for both ts types
      case _ => v // boxed boolean/int/float/double (date ints stay days)
    }
  }

  /** InternalRow (field order = schema order) -> Avro binary. */
  def encode(row: InternalRow): Array[Byte] = {
    val rec = toRecord(row, schema)
    val bos = new ByteArrayOutputStream()
    if (confluentFraming) {
      bos.write(0)
      bos.write((schemaId >>> 24) & 0xff); bos.write((schemaId >>> 16) & 0xff)
      bos.write((schemaId >>> 8) & 0xff); bos.write(schemaId & 0xff)
    }
    val encoder = encoderFactory.binaryEncoder(bos, null)
    writer.write(rec, encoder)
    encoder.flush()
    bos.toByteArray
  }

  private def toRecord(row: InternalRow, rs: Schema): GenericData.Record = {
    val rec = new GenericData.Record(rs)
    val fields = rs.getFields
    var i = 0
    while (i < fields.size) {
      val fschema = fields.get(i).schema()
      val (dt, _) = fieldType(fschema)
      rec.put(i,
        if (row.isNullAt(i)) null
        else toAvroField(row.get(i, dt), fschema))
      i += 1
    }
    rec
  }

  /** Catalyst FIELD value → Avro runtime value: resolves unions.
    * Multi-branch values arrive as the member struct; exactly one
    * member must be non-null and that branch is written.
    */
  private def toAvroField(v: Any, fs: Schema): AnyRef = {
    if (fs.getType != Schema.Type.UNION) return toAvroValue(v, fs)
    val (bs, _) = branches(fs)
    if (bs.length == 1) return toAvroValue(v, bs.head)
    val row = v.asInstanceOf[InternalRow]
    var member = -1
    var i = 0
    while (i < bs.length) {
      if (!row.isNullAt(i)) {
        require(member < 0,
          s"multi-branch union value sets members $member and $i; exactly one required")
        member = i
      }
      i += 1
    }
    require(member >= 0, "multi-branch union value must set exactly one member")
    toAvroValue(row.get(member, sparkType(bs(member))), bs(member))
  }

  /** Catalyst value → Avro runtime value (recursive). `fs` is already
    * union-unwrapped and `v` is non-null.
    */
  private def toAvroValue(v: Any, fs: Schema): AnyRef = fs.getType match {
    case Schema.Type.RECORD => toRecord(v.asInstanceOf[InternalRow], fs)
    case Schema.Type.ARRAY =>
      val es = fs.getElementType
      val (esType, _) = fieldType(es)
      val ad = v.asInstanceOf[ArrayData]
      val out = new java.util.ArrayList[AnyRef](ad.numElements())
      var i = 0
      while (i < ad.numElements()) {
        out.add(if (ad.isNullAt(i)) null else toAvroField(ad.get(i, esType), es))
        i += 1
      }
      out
    case Schema.Type.MAP =>
      val vs = fs.getValueType
      val (vsType, _) = fieldType(vs)
      val md = v.asInstanceOf[MapData]
      val keys = md.keyArray(); val vals = md.valueArray()
      // LinkedHashMap: preserve Catalyst entry order so encoded bytes
      // are deterministic (map wire order is writer-defined in Avro)
      val out = new java.util.LinkedHashMap[String, AnyRef](md.numElements())
      var i = 0
      while (i < md.numElements()) {
        out.put(keys.getUTF8String(i).toString,
          if (vals.isNullAt(i)) null else toAvroField(vals.get(i, vsType), vs))
        i += 1
      }
      out
    case Schema.Type.ENUM =>
      new GenericData.EnumSymbol(fs, v.asInstanceOf[UTF8String].toString)
    case Schema.Type.FIXED =>
      val bytes = decimalOf(fs) match {
        case Some((_, _)) =>
          val unscaled = v.asInstanceOf[Decimal].toJavaBigDecimal.unscaledValue()
          val raw = unscaled.toByteArray
          val size = fs.getFixedSize
          require(raw.length <= size, s"decimal overflows fixed($size)")
          val padded = new Array[Byte](size)
          // sign-extend on the left (big-endian two's complement)
          if (unscaled.signum() < 0) java.util.Arrays.fill(padded, 0xff.toByte)
          System.arraycopy(raw, 0, padded, size - raw.length, raw.length)
          padded
        case None => v.asInstanceOf[Array[Byte]]
      }
      new GenericData.Fixed(fs, bytes)
    case Schema.Type.BYTES => decimalOf(fs) match {
      case Some((_, _)) => java.nio.ByteBuffer.wrap(
        v.asInstanceOf[Decimal].toJavaBigDecimal.unscaledValue().toByteArray)
      case None => java.nio.ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
    }
    case Schema.Type.STRING => new Utf8(v.asInstanceOf[UTF8String].getBytes)
    case Schema.Type.LONG =>
      val l = v.asInstanceOf[Long]
      // floorDiv, not truncating /: pre-1970 timestamps with sub-ms
      // micros must floor toward -inf to round-trip (decode is * 1000)
      java.lang.Long.valueOf(if (isTsMillis(fs)) Math.floorDiv(l, 1000L) else l)
    case Schema.Type.BOOLEAN => java.lang.Boolean.valueOf(v.asInstanceOf[Boolean])
    case Schema.Type.INT => java.lang.Integer.valueOf(v.asInstanceOf[Int])
    case Schema.Type.FLOAT => java.lang.Float.valueOf(v.asInstanceOf[Float])
    case Schema.Type.DOUBLE => java.lang.Double.valueOf(v.asInstanceOf[Double])
    case other => throw new IllegalArgumentException(s"unsupported avro type: $other")
  }
}

/** `from_avro_graft(binary)` — decode Avro binary into a struct.
  * `permissive = true` yields NULL for malformed records instead of
  * failing the task (spark-avro's PERMISSIVE vs FAILFAST modes).
  * The decode always reads the full declared schema `schemaJson`.
  * `writerSchemasById`, when non-empty (requires `confluentFraming`),
  * resolves each record's writer schema from its Confluent frame id —
  * the injectable offline analogue of the reference's
  * CachedSchemaRegistryClient — and Avro schema resolution maps it to
  * `schemaJson`; [[graft.sources.KafkaIO.decodeAvroFrames]] is the
  * builder that sets it.
  */
case class FromAvroGraft(child: Expression, schemaJson: String,
                         confluentFraming: Boolean = false,
                         permissive: Boolean = false,
                         writerSchemasById: Map[Int, String] = Map.empty)
    extends UnaryExpression {
  private def mkConv = new AvroStructConverter(schemaJson, confluentFraming, 0,
    writerSchemasById)
  @transient private lazy val conv = mkConv
  // the analyzer and optimizer ask for dataType many times per plan:
  // parse the schema once per expression instance, not once per call
  override def dataType: DataType = conv.structType
  override def nullable: Boolean = permissive || super.nullable
  override protected def nullSafeEval(input: Any): Any =
    if (permissive) conv.decodeOrNull(input.asInstanceOf[Array[Byte]])
    else conv.decode(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("avroConv", mkConv,
      classOf[AvroStructConverter].getName)
    if (permissive) {
      // decodeOrNull can return null → set the null flag from the result
      nullSafeCodeGen(ctx, ev, c => s"""
        ${ev.value} = $ref.decodeOrNull($c);
        ${ev.isNull} = (${ev.value} == null);""")
    } else {
      defineCodeGen(ctx, ev, c => s"$ref.decode($c)")
    }
  }
  override protected def withNewChildInternal(c: Expression): FromAvroGraft =
    copy(child = c)
}

/** `to_avro_graft(struct)` — encode a struct as Avro binary (fields by
  * position), optionally with Confluent Schema Registry framing.
  */
case class ToAvroGraft(child: Expression, schemaJson: String,
                       confluentFraming: Boolean = false, schemaId: Int = 1)
    extends UnaryExpression {
  @transient private lazy val conv =
    new AvroStructConverter(schemaJson, confluentFraming, schemaId)
  override def dataType: DataType = BinaryType
  override protected def nullSafeEval(input: Any): Any =
    conv.encode(input.asInstanceOf[InternalRow])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("avroConv",
      new AvroStructConverter(schemaJson, confluentFraming, schemaId),
      classOf[AvroStructConverter].getName)
    defineCodeGen(ctx, ev, c => s"$ref.encode($c)")
  }
  override protected def withNewChildInternal(c: Expression): ToAvroGraft =
    copy(child = c)
}
