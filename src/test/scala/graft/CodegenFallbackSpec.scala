package graft

import java.sql.Timestamp

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Guard against SILENT codegen fallback (VERDICT r13 #2).
  *
  * Spark's `UnsafeProjection.create` wraps codegen in
  * `CodeGeneratorWithInterpretedFallback`: when Janino cannot compile
  * the generated projection (e.g. the target is a `private` case class
  * whose accessors aren't visible from generated code), it logs one
  * WARN and silently runs interpreted — correct results, degraded serde
  * on every state row in production. The r13 parity spec only proved
  * interpreted ≡ codegen by FORCING the interpreted path (NO_CODEGEN),
  * so a codegen *failure* passed unnoticed; that is exactly how
  * `StreamingDedup.SeenEntry` shipped with an interpreted state serde.
  *
  * This spec closes the gap from both ends:
  *   1. every streaming state / aggregator-buffer case class round-trips
  *      through its encoder under `factoryMode=CODEGEN_ONLY`, where a
  *      codegen failure THROWS instead of falling back;
  *   2. a negative control proves the guard detects the failure class —
  *      a deliberately `private` case class must fail under
  *      CODEGEN_ONLY (and must round-trip fine under default FALLBACK,
  *      showing the silence it guards against is real);
  *   3. the streaming near-dup dedup pipeline (the path that shipped
  *      with the fallback) runs end-to-end with a log capture that
  *      fails the test on any "falling back to interpreter mode" WARN —
  *      catching fallbacks on task threads and on any projection path
  *      this spec's encoder list misses.
  */
class CodegenFallbackSpec extends SparkSpec {
  import CodegenFallbackSpec._

  private val modeKey = "spark.sql.codegen.factoryMode"

  private def withFactoryMode[A](mode: String)(body: => A): A = {
    SparkSession.setActiveSession(spark)
    withConf(modeKey -> mode)(body)
  }

  /** Round-trip `value` through its ExpressionEncoder. UnsafeProjection
    * (serializer) and SafeProjection (deserializer) are both created
    * lazily on first apply, so the round-trip — not construction — is
    * what exercises codegen.
    */
  private def roundTrip[T: TypeTag](value: T): T = {
    val enc = ExpressionEncoder[T]().resolveAndBind()
    val row = enc.createSerializer()(value)
    enc.createDeserializer()(row.copy())
  }

  test("every streaming state and aggregator buffer codegens its serde (CODEGEN_ONLY)") {
    withFactoryMode("CODEGEN_ONLY") {
      // streaming state element types (getValueState/getListState)
      assert(roundTrip(graft.streaming.StreamingDedup.SeenEntry(7L, 42L))
        == graft.streaming.StreamingDedup.SeenEntry(7L, 42L))
      assert(roundTrip(graft.streaming.StreamingDedup.ChunkDoc(
          1, 2L, 3L, 4L, Timestamp.valueOf("2024-01-01 00:00:01"), "t"))
        .doc_id == 3L)
      assert(roundTrip(graft.streaming.StreamingDedup.BucketVerdict(
          3L, Timestamp.valueOf("2024-01-01 00:00:01"), "t", dup = true)).dup)
      assert(roundTrip(graft.streaming.StreamingAnomaly.Stats(3L, 1.5, 0.25)).n == 3L)
      assert(roundTrip(graft.streaming.StreamingCusum.CState(0.5, -0.5)).sPos == 0.5)
      assert(roundTrip(graft.streaming.RateLimiter.Bucket(2.0, 99L)).lastMs == 99L)
      assert(roundTrip(graft.streaming.FunnelStream.StageState(2, 123L)).stage == 2)
      assert(roundTrip(graft.streaming.StreamingAsof.Buf(
        List((1L, 2L)), List((3L, 4L)))).purchases == List((1L, 2L)))
      // typed Aggregator buffers (Welford, vec mean, gram, space
      // saving, MRL quantiles) — same UnsafeProjection machinery
      assert(roundTrip(graft.functions.Aggregators.WelfordBuf(2L, 1.0, 4.0)).n == 2L)
      assert(roundTrip(graft.functions.Aggregators.GramBuf(Seq(1.0, 2.0))).v
        == Seq(1.0, 2.0))
      assert(roundTrip(graft.functions.Aggregators.VecBuf(Seq(1.0, 2.0))).v
        == Seq(1.0, 2.0))
      assert(roundTrip(graft.functions.Aggregators.SSBuf(
        Seq(graft.functions.Aggregators.SSEntry("k", 3L, 1L)))).entries.head.cnt == 3L)
      assert(roundTrip(graft.functions.Aggregators.QBuf(
        Seq(Seq(1.0, 2.0)), Seq(4))).comps == Seq(4))
      // processor INPUT/OUTPUT row types — serialized per row at the
      // groupByKey / emission seams, same UnsafeProjection machinery
      val ts = Timestamp.valueOf("2024-01-01 00:00:01")
      assert(roundTrip(graft.streaming.ProcessorAlerts.PurchaseAmount(
        "p1", ts, 3.5)).amount == 3.5)
      assert(roundTrip(graft.streaming.StreamingAnomaly.Pt(
        "k", ts, 1L, 2.0)).value == 2.0)
      assert(roundTrip(graft.streaming.StreamingAnomaly.Verdict(
        "k", ts, 1L, 2.0, 1.0, 0.5, is_anomaly = false)).mean == 1.0)
      assert(roundTrip(graft.streaming.StreamingAsof.Ev(
        1L, 2L, ts, "purchase")).event_type == "purchase")
      assert(roundTrip(graft.streaming.StreamingAsof.FwdMatch(
        1L, 2L, ts, 3L, 4L)).delta_s == 4L)
      assert(roundTrip(graft.streaming.FunnelStream.FunnelEvent(
        1L, "view", ts)).event_type == "view")
      assert(roundTrip(graft.streaming.RateLimiter.Ev("k", ts, "p")).payload == "p")
      assert(roundTrip(graft.streaming.RateLimiter.Decision(
        "k", ts, "p", admitted = true)).admitted)
      assert(roundTrip(graft.streaming.StreamingCusum.CPt(
        "k", ts, 1L, 2.0, 1.5)).mean == 1.5)
      // multimodal record types (binary payload columns at the codec seam)
      assert(roundTrip(graft.operators.Multimodal.MediaRecord(
        1L, "image", Array[Byte](1, 2, 3), 3L)).payload.toSeq == Seq[Byte](1, 2, 3))
      assert(roundTrip(graft.operators.Multimodal.PerceptualHash(
        1L, 2L, 3L)).dhash == 2L)
    }
  }

  test("negative control: a private case class FAILS under CODEGEN_ONLY, passes under FALLBACK") {
    // under default FALLBACK mode the same round-trip succeeds silently
    // (interpreted) — the exact degradation this spec exists to catch
    withFactoryMode("FALLBACK") { assert(privRoundTripOk()) }
    // ... and the suite-wide guard's detection channel must have seen
    // it: drain the DELIBERATE warning (so afterAll doesn't flag this
    // suite) and assert the capture worked end-to-end
    val captured = CodegenFallbackGuard.drain()
    assert(captured.exists(_.contains("falling back to interpreter mode")),
      s"global fallback guard missed the deliberate fallback: $captured")
    withFactoryMode("CODEGEN_ONLY") {
      val e = intercept[Throwable] { privRoundTripOk() }
      def causes(t: Throwable): List[Throwable] =
        if (t == null) Nil else t :: causes(t.getCause)
      assert(causes(e).exists(_.getClass.getName.contains("Compile")),
        s"expected a Janino CompileException chain, got $e")
    }
  }

  test("streaming near-dup dedup path emits NO codegen-fallback warnings") {
    // rides the suite-wide CodegenFallbackGuard (whose capture channel
    // the negative control above just proved live): drain, run the
    // exact pipeline that shipped with the r13 fallback, assert quiet
    CodegenFallbackGuard.install()
    CodegenFallbackGuard.drain()
    graft.functions.GraftFunctions.register(spark)
    withRocksDb {
      implicit val sq = spark.sqlContext
      import spark.implicits._
      val in = MemoryStream[Doc2]
      val deduped = graft.streaming.StreamingDedup.bySimhashNearDup(
        in.toDF(), "ts", "10 minutes")
      val q = deduped.writeStream.format("memory")
        .queryName("cg_guard_out").outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("cg_guard_ckpt").toString)
        .start()
      try {
        in.addData(
          Doc2(1L, "the quick brown fox jumps over the lazy dog",
            Timestamp.valueOf("2024-01-01 00:00:01")),
          Doc2(2L, "completely unrelated content about databases",
            Timestamp.valueOf("2024-01-01 00:00:05")))
        q.processAllAvailable()
        in.addData(Doc2(3L, "watermark mover row",
          Timestamp.valueOf("2024-01-01 00:30:00")))
        q.processAllAvailable()
      } finally q.stop()
      assert(spark.table("cg_guard_out").count() >= 2)
    }
    val hits = CodegenFallbackGuard.drain()
    assert(hits.isEmpty,
      s"codegen silently fell back to interpreted mode:\n${hits.mkString("\n")}")
  }
}

object CodegenFallbackSpec {
  case class Doc2(doc_id: Long, text: String, ts: Timestamp)

  /** Deliberately `private`: scalac emits a class generated projection
    * code cannot access, reproducing the r13 SeenEntry defect on
    * purpose. Round-tripped via a companion method so the spec class
    * never names the type.
    */
  private case class PrivEntry(sh: Long, tsMs: Long)

  def privRoundTripOk(): Boolean = {
    val enc = ExpressionEncoder[PrivEntry]().resolveAndBind()
    val row = enc.createSerializer()(PrivEntry(7L, 42L))
    enc.createDeserializer()(row.copy()) == PrivEntry(7L, 42L)
  }
}
