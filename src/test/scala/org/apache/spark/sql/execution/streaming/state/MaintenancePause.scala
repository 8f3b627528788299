package org.apache.spark.sql.execution.streaming.state

/** Pause/resume the state-store maintenance task (package-private in
  * Spark, so re-exported here for specs outside the `state` package):
  * holds the 60 s tick still while a spec asserts WHO unloaded a provider.
  */
object MaintenancePause {
  def set(paused: Boolean): Unit = StateStore.setMaintenancePaused(paused)
}
