package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{NumericType, StringType}

import graft.SparkEntry

/** batch_tail / batch_iterative: timed passes over a list of registry
  * queries, each pass running every query in the given order.
  *
  * Each query is built through `SparkEntry.queries` (which reads its
  * tables through `Tables`) and every result row is collected to the
  * driver, so projections and sorts run as a user would see them (a
  * `count()` lets the optimizer drop them). Blocks a query leaves
  * persisted are freed after it, outside the timed region, as the
  * repository's own bench does. The first three passes are warm-up and
  * belong to set-up; at least three timed passes follow, more if
  * `--seconds` allows.
  */
object BatchWorkload {
  private val WarmupPasses = 3

  private final case class QueryRun(name: String, ms: Double, buildMs: Double, rows: Long,
                                    phases: Map[String, Double], blocksLeft: Int)

  def run(spark: SparkSession, a: Main.Args): Main.Result = {
    val r = new Main.Result
    val sc = spark.sparkContext
    val fns = a.queries.map(n => n -> SparkEntry.queries(n))
    val tracer = if (a.trace) Some(new TraceListener) else None
    tracer.foreach(sc.addSparkListener)
    val errors = mutable.LinkedHashMap[String, String]()
    val lastRows = mutable.Map[String, (Array[Row], org.apache.spark.sql.types.StructType)]()

    def runQuery(name: String, fn: (SparkSession, String) => DataFrame): Option[QueryRun] = {
      val before = sc.getPersistentRDDs.keySet
      try {
        val t0 = System.nanoTime()
        val df = fn(spark, a.data)
        val t1 = System.nanoTime()
        val rows = df.collect()
        val t2 = System.nanoTime()
        val phases = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
          .queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
        lastRows(name) = (rows, df.schema)
        val left = sc.getPersistentRDDs.keySet.count(id => !before.contains(id))
        Some(QueryRun(name, (t2 - t0) / 1e6, (t1 - t0) / 1e6, rows.length.toLong, phases, left))
      } catch {
        case e: Throwable =>
          errors.getOrElseUpdate(name, s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
          None
      } finally {
        sc.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!before.contains(id)) rdd.unpersist(blocking = false) }
      }
    }

    def pass(unit: String): (Double, Seq[QueryRun], Long) = {
      sc.setLocalProperty(TraceListener.UnitKey, unit)
      val gc0 = Trace.gcMillis()
      val runs = fns.filterNot(f => errors.contains(f._1)).flatMap { case (n, f) => runQuery(n, f) }
      sc.setLocalProperty(TraceListener.UnitKey, null)
      // the pass's wall time is the sum of its queries' timed regions:
      // the block sweep between queries is the benchmark's, not the program's
      (runs.map(_.ms).sum, runs, Trace.gcMillis() - gc0)
    }

    // warm-up (set-up): query planning and launch code keeps speeding up
    // over the first three passes or so as the JIT compiles it
    for (i <- 1 to WarmupPasses) pass(s"w$i")
    r.metrics("setup_s") = Main.setupSeconds()
    val t0 = System.nanoTime()
    val passes = mutable.ArrayBuffer[(Double, Seq[QueryRun], Long)]()
    // at least three passes, for the per-query best below; more while the
    // next one is expected to end within half a pass of --seconds
    while (passes.size < 3 ||
        (System.nanoTime() - t0) / 1e9 + passes.last._1 / 2000.0 < a.seconds)
      passes += pass(s"p${passes.size}")

    // each query's best time over the timed passes, as the repository's
    // bench takes it: a burst of host contention (CPU steal on a shared
    // host) lands on different queries in different passes and is shed
    val perQueryMs = passes.flatMap(_._2).groupBy(_.name).map { case (n, rs) => n -> rs.map(_.ms).min }
    val perQuery = perQueryMs.values.toSeq
    r.metrics("pass_s") = perQuery.sum / 1000.0
    r.metrics("events_per_s") = passes.head._2.map(_.rows).sum / r.metrics("pass_s")
    // typical query latency as the mean of the best times, pass_s over the
    // query count: a median over six queries, or over every (query, pass)
    // time, sits between two queries and spread more across seeds
    r.metrics("lat_p50_ms") = perQuery.sum / perQuery.size
    r.metrics("lat_p99_ms") = Main.quantile(perQuery, 0.99)

    tracer.foreach { t =>
      def perPass(f: Seq[QueryRun] => Double) = Main.median(passes.map(p => f(p._2)).toSeq)
      r.layers("queries.build_ms") = perPass(_.map(_.buildMs).sum)
      for ((phase, metric) <- Seq("analysis" -> "plans.analysis_ms",
          "optimization" -> "plans.optimization_ms", "planning" -> "plans.planning_ms"))
        r.layers(metric) = perPass(_.map(_.phases.getOrElse(phase, 0.0)).sum)
      r.layers("operators.blocks_left") = perPass(_.map(_.blocksLeft.toDouble).sum)
      r.layers("engine.gc_ms") = Main.median(passes.map(_._3.toDouble).toSeq)
      val units = passes.zipWithIndex.map { case (p, i) => s"p$i" -> p._1 }.toMap
      t.engine(units, a.cores).foreach { case (k, v) => r.layers(k) = Main.median(v) }
      t.writeSpans(s"${a.work}/spans.jsonl")
    }

    // oracle dumps of each query's last timed result, outside the timed region
    val corruptAt = if (a.corrupt == "query_hash")
      fns.map(_._1).find(n => lastRows.get(n).exists(_._1.nonEmpty)) else None
    for ((name, _) <- fns if !errors.contains(name); (rows, schema) <- lastRows.get(name)) {
      val out = if (corruptAt.contains(name)) alter(rows) else rows
      spark.createDataFrame(out.toSeq.asJava, schema).coalesce(1).write
        .mode("overwrite").parquet(s"${a.work}/results/$name")
      r.dumped += name
    }
    val sql = fns.flatMap { case (n, _) => SparkEntry.oracleSql.get(n).map(n -> _) }.toMap
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"${a.work}/results"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${a.work}/results/oracle_sql.json"),
      Main.toJsonStrings(sql))
    r.attempted = fns.size
    r.failed = errors.size
    r.notes ++= errors.values
    r.notes += "per-pass query ms: " + passes.map(_._2.map(q => f"${q.name}=${q.ms}%.1f").mkString(",")).mkString(" | ")
    r.notes += s"timed passes: ${passes.size}; per-query best ms: " +
      perQueryMs.toSeq.sortBy(-_._2).map { case (n, ms) => f"$n=$ms%.0f" }.mkString(" ")
    r
  }

  /** A copy of the rows with the first row's first numeric or string
    * field changed (or the first row duplicated): the self-test's
    * corrupted result.
    */
  private def alter(rows: Array[Row]): Array[Row] = {
    val first = rows.head
    val i = first.schema.fields.indexWhere(f =>
      f.dataType.isInstanceOf[NumericType] || f.dataType == StringType)
    if (i < 0 || first.isNullAt(i)) rows :+ first
    else {
      val v = first.get(i) match {
        case s: String => s + "#"
        case x: java.lang.Integer => x + 1
        case x: java.lang.Long => x + 1L
        case x: java.lang.Double => x + 1.0
        case x: java.lang.Float => x + 1.0f
        case x: java.lang.Short => (x + 1).toShort
        case x: java.lang.Byte => (x + 1).toByte
        case x: java.math.BigDecimal => x.add(java.math.BigDecimal.ONE)
        case other => other
      }
      Row.fromSeq(first.toSeq.updated(i, v)) +: rows.tail
    }
  }
}
