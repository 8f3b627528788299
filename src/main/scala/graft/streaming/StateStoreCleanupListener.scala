package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.state.GraftStateStoreBridge
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{
  QueryIdleEvent, QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Production-scoped state-store teardown: eagerly close exactly the
  * terminated query's providers the moment it terminates, leaving
  * every other (live) query's providers loaded.
  *
  * WHY (see [[GraftStateStoreBridge]] for the root cause): a stopped
  * query's providers are otherwise closed LAZILY by the maintenance
  * thread (default tick 60 s), concurrently with whatever else the
  * session runs by then — under the RocksDB provider that teardown
  * window is where the upstream rocksdbjni `LoggerJniCallback::Logv`
  * use-after-free fires (both r14 SIGSEGVs). The harness mitigation,
  * `unloadAllStateStores()` at quiesced points, is all-or-nothing and
  * therefore wrong for the regime this engine actually claims: a
  * long-lived application running several streaming queries that stop
  * and start independently. unloadAll there would evict live queries'
  * providers (forcing full state reloads next micro-batch), while NOT
  * unloading leaves the maintenance-tick race window open. This
  * listener is the per-query middle: `onQueryTerminated` carries the
  * run id, the bridge filters `loadedProviders` by
  * `StateStoreProviderId.queryRunId`, and only that run's providers
  * close — on the listener-bus thread, after the query has fully
  * terminated (no commits in flight for that run by construction).
  *
  * At cluster scale the driver-side listener closes driver-loaded
  * providers; executor-side providers are likewise owned per run id
  * and fall to the same scoped filter wherever the bridge runs — in
  * `local[*]` (this harness and the reference's own deployment shape,
  * one JVM) the listener covers every provider.
  *
  * Usage: `StateStoreCleanupListener.install(spark)` once per session
  * (idempotent); queries need no per-query wiring.
  */
final class StateStoreCleanupListener extends StreamingQueryListener {
  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryProgress(event: QueryProgressEvent): Unit = ()
  override def onQueryIdle(event: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = {
    GraftStateStoreBridge.unloadStateStoresForRun(event.runId)
  }
}

object StateStoreCleanupListener {
  private val installed =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, StateStoreCleanupListener]()

  /** Register one cleanup listener on the session (idempotent). */
  def install(spark: SparkSession): Unit =
    installed.computeIfAbsent(spark, { s =>
      val l = new StateStoreCleanupListener
      s.streams.addListener(l)
      l
    })

  /** Deregister (test hermeticity; production sessions keep it). */
  private[graft] def uninstall(spark: SparkSession): Unit = {
    val l = installed.remove(spark)
    if (l != null) spark.streams.removeListener(l)
  }
}
