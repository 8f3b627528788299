package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

/** Registration + Column-level API for the custom expressions. Queries
  * call [[GraftFunctions.register]] (idempotent) and then use either the
  * Column wrappers or SQL names (`polyhash64`, `simhash64`,
  * `hash64_seeded`, `cosine_sim`).
  */
object GraftFunctions {
  private[functions] val builders: Map[String, Seq[Expression] => Expression] = Map(
    "polyhash64"    -> (es => PolyHash64(es.head)),
    "simhash64"     -> (es => SimHash64(es.head)),
    "hash64_seeded" -> (es => Hash64Seeded(es(0), es(1))),
    "cosine_sim"    -> (es => CosineSim(es(0), es(1))),
    "minhash_sig"   -> (es => MinHashSig(es(0), foldInt(es(1)))),
    "band_hash"     -> (es => BandHash(es(0), foldInt(es(1)), foldInt(es(2)))),
    "minhash_est"   -> (es => MinHashEst(es(0), es(1))),
    "first_shared_band" -> (es => FirstSharedBand(es(0), es(1),
      foldInt(es(2)), foldInt(es(3)))),
    "word_shingles" -> (es => WordShingles(es(0), foldInt(es(1)))),
    "first_shared_index" -> (es => FirstSharedIndex(es(0), es(1))),
    "first_shared_probe" -> (es => FirstSharedProbe(es(0), es(1), foldInt(es(2)))),
    "jaccard_sorted" -> (es => JaccardSorted(es(0), es(1))),
    "zorder64"      -> (es => ZOrder64(es(0), es(1))),
    "clz64"         -> (es => Clz64(es.head)),
    "cdc_chunks"    -> (es => CdcChunks(es(0), foldInt(es(1)),
      foldInt(es(2)).toLong)),
    "quantize_i8_stats" -> (es => QuantizeI8Stats(es.head)),
    "from_avro_graft" -> (es => FromAvroGraft(es(0), foldString(es(1)),
      es.length > 2 && foldBool(es(2)))),
    "to_avro_graft" -> (es => ToAvroGraft(es(0), foldString(es(1)),
      es.length > 2 && foldBool(es(2)))))

  /** Extract a constant int argument (the k/bands params are literals). */
  private def foldInt(e: Expression): Int = e.eval() match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"expected a constant int argument, got: $other")
  }

  private def foldString(e: Expression): String = e.eval() match {
    case s: org.apache.spark.unsafe.types.UTF8String => s.toString
    case other => throw new IllegalArgumentException(
      s"expected a constant string argument, got: $other")
  }

  private def foldBool(e: Expression): Boolean = e.eval() match {
    case b: Boolean => b
    case other => throw new IllegalArgumentException(
      s"expected a constant boolean argument, got: $other")
  }

  def register(spark: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      // Only register once per session: createOrReplaceTempFunction on an
      // existing name logs a "replaced a previously registered function"
      // WARN per call, which pollutes the bench's stdout JSON line.
      if (!registry.functionExists(FunctionIdentifier(name))) {
        registry.createOrReplaceTempFunction(name, builder, "scala_udf")
      }
    }
  }

  def polyhash64(c: Column): Column = call_function("polyhash64", c)
  def simhash64(tokens: Column): Column = call_function("simhash64", tokens)
  def hash64Seeded(seed: Column, s: Column): Column = call_function("hash64_seeded", seed, s)
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
  def minhashSig(shingles: Column, k: Int): Column =
    call_function("minhash_sig", shingles, lit(k))
  def bandHash(sig: Column, bands: Int, rowsPerBand: Int): Column =
    call_function("band_hash", sig, lit(bands), lit(rowsPerBand))
  def minhashEst(a: Column, b: Column): Column = call_function("minhash_est", a, b)
  def firstSharedBand(a: Column, b: Column, bands: Int, rowsPerBand: Int): Column =
    call_function("first_shared_band", a, b, lit(bands), lit(rowsPerBand))
  def wordShingles(tokens: Column, n: Int): Column =
    call_function("word_shingles", tokens, lit(n))
  def firstSharedIndex(a: Column, b: Column): Column =
    call_function("first_shared_index", a, b)
  def firstSharedProbe(qb: Column, cb: Column, probes: Int): Column =
    call_function("first_shared_probe", qb, cb, lit(probes))
  def jaccardSorted(a: Column, b: Column): Column =
    call_function("jaccard_sorted", a, b)
  /** Morton z-order clustering key from two long dimensions (low 32
    * bits each) — sort/range-partition by it for 2-D scan pruning.
    */
  def zorder64(x: Column, y: Column): Column =
    call_function("zorder64", x, y)
  /** Leading-zero count of a 64-bit value (HyperLogLog rho primitive). */
  def clz64(v: Column): Column = call_function("clz64", v)
  /** Content-defined chunks: boundaries where the rolling w-byte
    * Karp-Rabin hash has all `mask` bits zero (avg chunk ≈ mask+1 B).
    */
  def cdcChunks(text: Column, w: Int, mask: Int): Column =
    call_function("cdc_chunks", text, lit(w), lit(mask))
  /** Absmax int8 quantization stats: struct(scale, q_sum, q_min, q_max)
    * — the oracle-checkable integer surface of [[quantizeI8]].
    */
  def quantizeI8Stats(vec: Column): Column =
    call_function("quantize_i8_stats", vec)
  /** Absmax int8 quantization of an embedding (the storage form): each
    * component floor(x/scale*127 + 0.5); zero vectors → all zeros.
    */
  def quantizeI8(vec: Column): Column = {
    val scale = array_max(transform(vec, x => abs(x.cast("double"))))
    when(scale === 0.0, transform(vec, x => lit(0)))
      .otherwise(transform(vec,
        x => floor(x.cast("double") / scale * 127 + lit(0.5)).cast("int")))
  }
  def fromAvro(value: Column, schemaJson: String,
               confluentFraming: Boolean = false): Column =
    call_function("from_avro_graft", value, lit(schemaJson), lit(confluentFraming))
  def toAvro(struct: Column, schemaJson: String,
             confluentFraming: Boolean = false): Column =
    call_function("to_avro_graft", struct, lit(schemaJson), lit(confluentFraming))
}
