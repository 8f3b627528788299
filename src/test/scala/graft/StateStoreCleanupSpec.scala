package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.streaming.state.{GraftStateStoreBridge, MaintenancePause}

import graft.streaming.StateStoreCleanupListener

/** Production-scoped state-store teardown (r15 verdict #1): with TWO
  * concurrent RocksDB-backed streaming queries, stopping one must
  * close exactly that query's providers — eagerly, via the
  * [[StateStoreCleanupListener]] on the listener-bus thread — while
  * the survivor's providers stay loaded and the survivor keeps
  * processing. The harness-grade `unloadAllStateStores()` cannot do
  * this (all-or-nothing); this spec is the evidence the per-query
  * bridge path is the production form.
  *
  * The maintenance task is PAUSED for the duration
  * (`MaintenancePause`), so the only code that can remove a
  * provider during the assertion window is the listener — without the
  * pause a 60 s tick landing inside the window could unload the
  * deactivated providers itself and mask a dead listener.
  */
class StateStoreCleanupSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** Poll until `cond` holds (listener events are async), max ~15 s. */
  private def awaitCond(hint: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (!cond && System.nanoTime() < deadline) Thread.sleep(50L)
    assert(cond, s"timed out waiting for: $hint")
  }

  test("stopping one of two RocksDB queries closes only its providers (listener-scoped unload)") {
    withRocksDb {
      StateStoreCleanupListener.install(spark)
      MaintenancePause.set(true)
      // quiesce leftovers from earlier suites so the id sets below are ours
      GraftStateStoreBridge.unloadAllStateStores()
      try {
        val inA = MemoryStream[Long]
        val inB = MemoryStream[Long]
        // dropDuplicates = one stateful operator → one provider per
        // shuffle partition, the minimal RocksDB-backed shape
        def dedup(s: MemoryStream[Long]) =
          s.toDF().toDF("k").dropDuplicates("k")
        val qA = dedup(inA).writeStream.format("noop")
          .option("checkpointLocation", tmpDir("graft-ssc-a"))
          .outputMode("append").start()
        val qB = dedup(inB).writeStream.format("noop")
          .option("checkpointLocation", tmpDir("graft-ssc-b"))
          .outputMode("append").start()
        try {
          inA.addData(1L, 2L, 3L); qA.processAllAvailable()
          inB.addData(10L, 20L); qB.processAllAvailable()

          val loaded0 = GraftStateStoreBridge.loadedProviderIds
          val runsLoaded0 = loaded0.map(_.queryRunId).toSet
          assert(runsLoaded0.contains(qA.runId) && runsLoaded0.contains(qB.runId),
            s"both runs must have loaded providers, got $runsLoaded0")
          val nB = loaded0.count(_.queryRunId == qB.runId)
          assert(nB > 0)

          qA.stop()
          // the listener (async, listener-bus thread) must close qA's
          // providers; maintenance is paused, so nobody else can
          awaitCond("stopped query's providers closed by the listener") {
            !GraftStateStoreBridge.loadedProviderIds.exists(_.queryRunId == qA.runId)
          }
          // SURVIVOR: providers still loaded, same count — not evicted
          val bAfter = GraftStateStoreBridge.loadedProviderIds
            .count(_.queryRunId == qB.runId)
          assert(bAfter == nB,
            s"survivor's providers must stay loaded ($nB), got $bAfter")

          // and the survivor still processes (its state was not yanked)
          inB.addData(20L, 30L); qB.processAllAvailable()
          assert(qB.isActive)
          assert(GraftStateStoreBridge.loadedProviderIds
            .count(_.queryRunId == qB.runId) == nB)

          qB.stop()
          awaitCond("second query's providers closed on termination") {
            !GraftStateStoreBridge.loadedProviderIds.exists(_.queryRunId == qB.runId)
          }
        } finally {
          try { if (qA.isActive) qA.stop(); if (qB.isActive) qB.stop() }
          finally GraftStateStoreBridge.unloadAllStateStores()
        }
      } finally {
        MaintenancePause.set(false)
        StateStoreCleanupListener.uninstall(spark)
      }
    }
  }
}
