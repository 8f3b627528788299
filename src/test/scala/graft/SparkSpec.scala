package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session).
  *
  * Every suite also runs under [[CodegenFallbackGuard]]: `afterAll`
  * fails the suite if ANY "falling back to interpreter mode" WARN was
  * logged while it ran. Spark keeps results correct on codegen failure
  * by silently interpreting the projection — exactly how the r13
  * SeenEntry state-serde defect stayed invisible — so the silent
  * degradation is promoted to a test failure suite-wide, not only on
  * the paths CodegenFallbackSpec enumerates. (Forked tests run suites
  * sequentially — `Test / testForkedParallel` defaults to false — so
  * per-suite attribution is exact.)
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // streaming specs checkpoint through the file system the mains use
    sources.LocalFs.install(s)
    s
  }

  def sf001 = "/root/testdata/sf0.001"

  /** Runs `body` with each conf key set to its value, then restores each
    * key's prior value, or unsets a key that had none.
    */
  protected def withConf[T](settings: (String, String)*)(body: => T): T = {
    val prior = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `body` on the RocksDB state-store provider (transformWithState
    * keeps state and timers in column families, which only RocksDB
    * has).
    */
  protected def withRocksDb[T](body: => T): T =
    withConf("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  override protected def beforeAll(): Unit = {
    // Session FIRST: Spark's first-init REPLACES the log4j configuration
    // (DefaultConfiguration, root=ERROR → Spark's, root=INFO), which
    // would discard an appender attached before it
    spark
    CodegenFallbackGuard.install()
    // A hit landing BETWEEN suites (a prior suite's still-draining
    // streaming/task thread logging after its afterAll drain) belongs
    // to no suite — surface it on stderr rather than silently dropping
    // the signal (it cannot fail THIS suite: the fallback is not ours).
    val stragglers = CodegenFallbackGuard.drain()
    if (stragglers.nonEmpty)
      Console.err.println(
        s"[between-suites] codegen fallback logged after the previous " +
          s"suite's drain, before ${getClass.getName}:\n" +
          stragglers.mkString("\n"))
    super.beforeAll()
  }

  override protected def afterAll(): Unit = {
    try {
      // Close any state-store providers THIS suite's (now stopped)
      // streaming queries loaded — on this thread, quiesced — instead
      // of leaving them for the maintenance thread to tear down under
      // a later suite's load (the RocksDB JNI logger use-after-free
      // window both r14 hs_err dumps landed in; see
      // GraftStateStoreBridge).
      org.apache.spark.sql.execution.streaming.state.GraftStateStoreBridge
        .unloadAllStateStores()
      val hits = CodegenFallbackGuard.drain()
      assert(hits.isEmpty,
        s"SILENT codegen fallback during ${getClass.getName} — results stay " +
          s"correct but the path runs interpreted in production; fix the " +
          s"expression/encoder instead of shipping the degradation:\n" +
          hits.mkString("\n"))
    } finally super.afterAll()
  }
}

/** JVM-global capture of Spark's codegen-fallback WARNs (one log4j2
  * appender on the root logger, installed once). Suites drain it in
  * `afterAll`; the deliberate negative control drains it inline.
  */
object CodegenFallbackGuard {
  private val hits = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val AppenderName = "graft-global-fallback-guard"
  private lazy val appender = {
    import org.apache.logging.log4j.core.LogEvent
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val a = new AbstractAppender(
        AppenderName, null, null, false, Property.EMPTY_ARRAY) {
      override def append(event: LogEvent): Unit = {
        val msg = event.getMessage.getFormattedMessage
        // two silent-degradation classes: projection-level interpreted
        // fallback (the r13 SeenEntry defect) and whole-stage codegen
        // bailout (a stage whose generated method exceeds JVM limits
        // runs un-fused — logged once, then silently slow forever)
        if (msg.contains("falling back to interpreter mode") ||
            msg.contains("Whole-stage codegen disabled for plan"))
          hits.add(s"${event.getLoggerName}: ${msg.linesIterator.next()}")
      }
    }
    a.start()
    a
  }

  /** Attach to the CURRENT configuration's root LoggerConfig. Re-checks
    * on every call (cheap): Spark's logging first-init REPLACES the
    * whole log4j Configuration object, so an appender attached to the
    * pre-Spark DefaultConfiguration (root=ERROR — WARNs never even
    * reach appender refs there) is silently discarded. Callers must
    * therefore install AFTER the shared session exists; this guard
    * re-attaches if any later reconfigure drops it again.
    */
  def install(): Unit = synchronized {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.LoggerContext
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    if (!root.getAppenders.containsKey(AppenderName)) {
      root.addAppender(appender, org.apache.logging.log4j.Level.WARN, null)
      ctx.updateLoggers()
    }
  }

  /** Return all captured fallback warnings and clear the buffer. */
  def drain(): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var e = hits.poll()
    while (e != null) { out += e; e = hits.poll() }
    out.toSeq
  }
}
