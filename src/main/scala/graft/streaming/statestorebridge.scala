package org.apache.spark.sql.execution.streaming.state

/** Deterministic state-store teardown (private[sql] API bridge).
  *
  * WHY: by default, stopped queries' loaded state-store providers are
  * closed LAZILY by the maintenance thread (default tick 60 s) — i.e.
  * concurrently with whatever the driver is running by then. Under the
  * RocksDB provider that concurrency window is where both observed JVM
  * SIGSEGVs landed (r14: `hs_err_pid1376` / `hs_err_pid12602`, both
  * `rocksdb::LoggerJniCallback::Logv` called from a background
  * flush/compaction thread ~100 s into a StreamBench battery — exactly
  * the first maintenance tick unloading the earlier shapes' providers
  * while the current shape churned the shared RocksDB env thread
  * pool). Spark's `RocksDB.close()` disposes the JNI logger right
  * after `db.close()` (`closeDB(); …; rocksDbOptions.close();
  * dbLogger.close()`), so a background job that dequeues a final log
  * line for that instance during the dispose window writes through a
  * freed `LoggerJniCallback` — an upstream rocksdbjni use-after-free
  * the application cannot patch and no `RocksDBConf` key can silence
  * (the native info-log level floor is ERROR_LEVEL and the callback's
  * own level check already reads freed memory).
  *
  * MITIGATION: close providers eagerly, on the caller's thread, at a
  * QUIESCED point (all queries stopped, no commits in flight, RocksDB
  * background queues drained since the last commit) instead of letting
  * the maintenance thread race them against live load. This does not
  * fix the upstream bug — it removes the busy-pool teardown windows
  * where it fires.
  */
object GraftStateStoreBridge {
  /** Close every loaded state-store provider now, synchronously.
    *
    * HARNESS form — correct ONLY at fully quiesced boundaries (every
    * streaming query of the session stopped: bench shape ends, suite
    * `afterAll`, equivalence-harness teardown). In a long-lived app
    * where several streaming queries stop and start independently this
    * is the WRONG tool: it would evict LIVE queries' providers (each
    * forced to reload its full state next micro-batch). The production
    * form is [[unloadStateStoresForRun]] driven per terminated query
    * by [[graft.streaming.StateStoreCleanupListener]].
    */
  def unloadAllStateStores(): Unit = StateStore.unloadAll()

  /** `loadedProviders` is object-private inside `StateStore`, with no
    * public enumeration — only `unloadAll` (all-or-nothing) and
    * per-id `removeFromLoadedProvidersAndClose` (`private[sql]`,
    * reachable from this bridge package) are exposed. One reflective
    * field read bridges the gap; the map object itself is the lock
    * Spark's own paths synchronize on, so snapshotting under
    * `m.synchronized` is race-free against load/unload.
    */
  private lazy val loadedProvidersField = {
    val f = StateStore.getClass.getDeclaredField("loadedProviders")
    f.setAccessible(true)
    f
  }

  /** Snapshot of the provider ids currently loaded in THIS JVM
    * (driver-side view; in `local[*]` that is every provider).
    */
  def loadedProviderIds: Seq[StateStoreProviderId] = {
    val m = loadedProvidersField.get(StateStore).asInstanceOf[
      scala.collection.mutable.HashMap[StateStoreProviderId, StateStoreProvider]]
    m.synchronized { m.keysIterator.toSeq }
  }

  /** PRODUCTION form of the teardown mitigation: close only the
    * providers belonging to one (terminated) query run, eagerly, on
    * the caller's thread — live queries' providers stay loaded.
    *
    * `StateStoreProviderId.queryRunId` is the run id Spark stamps on
    * every provider a query loads (and the same id
    * `StreamingQueryListener.QueryTerminatedEvent.runId` reports), so
    * the filter is exact: no shared-provider ambiguity exists across
    * runs. Each id is closed via Spark's own
    * `removeFromLoadedProvidersAndClose`, which removes it under the
    * map lock and then `close()`s outside it — the same serialization
    * `unloadAll` uses, minus the collateral eviction.
    *
    * Returns the number of providers closed (0 when the run had no
    * loaded state in this JVM — stateless query or already unloaded).
    */
  def unloadStateStoresForRun(queryRunId: java.util.UUID): Int = {
    val mine = loadedProviderIds.filter(_.queryRunId == queryRunId)
    mine.foreach(id => StateStore.removeFromLoadedProvidersAndClose(id))
    mine.size
  }
}
