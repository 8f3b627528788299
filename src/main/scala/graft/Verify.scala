package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Budget-resilient by construction (the r8 artifact came back empty because
  * the sequential dump outgrew the driver's time budget):
  *   1. oracle_sql.json is written FIRST — a mid-dump kill leaves a
  *      truncated-but-usable artifact instead of an empty one.
  *   2. Queries run cheapest-first (cost map from BENCH.json via
  *      [[QueryCosts]]), so a cut loses only the most expensive tail.
  *   3. Queries run concurrently on a fixed thread pool over one
  *      SparkSession (FAIR scheduler) — Spark schedules concurrent jobs
  *      across the local[N] slots; wall-clock drops ~6× vs sequential.
  *   4. repartition(1) instead of coalesce(1): the final single-file write
  *      no longer collapses the upstream stages to one thread.
  *
  * Usage: tools/run.sh graft.Verify <sfDir> <outDir> [name-prefix...] —
  * prefixes restrict the dump to the queries whose name starts with one
  * of them (the dev loop); a full run passes none.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Verify <sfDir> <outDir> [name-prefix...]")
    val (sfDir, outDir) = (args(0), args(1))
    val selected = Harness.select(SparkEntry.queries.toSeq, args.toSeq.drop(2))
    val spark = Harness.session(math.min(32, Runtime.getRuntime.availableProcessors()),
      "WARN", "spark.scheduler.mode" -> "FAIR")
    new java.io.File(outDir).mkdirs()
    import Harness.json
    val sqlJson = oracleSql(selected.map(_._1).toSet, outDir)
      .map { case (k, v) => s"${json(k)}: ${json(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), sqlJson)
    val ordered = selected.sortBy { case (n, _) =>
      (QueryCosts.sf01Seconds.getOrElse(n, 1.0), n) }

    // 8 concurrent queries fit comfortably in the 8 GiB dev heap; if
    // the driver launches this JVM smaller, scale the pool down rather
    // than risk trading the r8 empty-artifact failure for an OOM one
    val heapGib = Runtime.getRuntime.maxMemory().toDouble / (1L << 30)
    val workers = if (heapGib >= 6.0) 8 else if (heapGib >= 3.0) 4 else 2
    val pool = Executors.newFixedThreadPool(workers)
    val done = new AtomicInteger(0)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // Output schema of every dumped query (name → "col:CATALYST_TYPE"),
    // written as schemas.json beside oracle_sql.json: type drift (e.g.
    // r9's decimal-vs-double q239) is then catchable by diffing
    // artifacts across rounds, not only by the driver's value hash.
    val schemas =
      new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
    val t0 = System.nanoTime()
    ordered.foreach { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val tq = System.nanoTime()
          try {
            val df = fn(spark, sfDir)
            df.repartition(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            // schema recorded only AFTER a successful dump: schemas.json
            // must never carry an entry with no verified parquet behind
            // it (regenerating the schemas-baseline from a partially
            // failed run would otherwise bake unverified entries in)
            schemas.put(name,
              df.schema.fields.toSeq.map(f => s"${f.name}:${f.dataType.sql}"))
            val n = done.incrementAndGet()
            System.err.println(f"[verify] $n%3d/${ordered.size} $name " +
              f"${(System.nanoTime() - tq) / 1e9}%.1fs " +
              f"(elapsed ${(System.nanoTime() - t0) / 1e9}%.0fs)")
          } catch { case e: Throwable =>
            done.incrementAndGet()
            failures.add(name)
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
        }
      })
    }
    pool.shutdown()
    pool.awaitTermination(24, TimeUnit.HOURS)
    val failed = {
      import scala.jdk.CollectionConverters._
      failures.asScala.toSeq.sorted
    }
    val schemaJson = {
      import scala.jdk.CollectionConverters._
      schemas.asScala.toSeq.sortBy(_._1).map { case (k, cols) =>
        s"${json(k)}: ${cols.map(json).mkString("[", ",", "]")}"
      }.mkString("{", ",", "}")
    }
    Files.writeString(Paths.get(s"$outDir/schemas.json"), schemaJson)
    // A truncated/partial dump must be detectable from THIS run, not
    // only from check_oracle's NO-OUTPUT lines downstream: summary line
    // + a marker file when anything failed (exit stays 0 — the parquet
    // that did land is still a usable artifact for the driver).
    Files.writeString(Paths.get(s"$outDir/_verify_summary.json"),
      s"""{"total": ${ordered.size}, "ok": ${ordered.size - failed.size},""" +
        s""" "failed": ${failed.map(json).mkString("[", ",", "]")}}""")
    System.err.println(s"[verify] SUMMARY: ${ordered.size - failed.size}/" +
      s"${ordered.size} ok" +
      (if (failed.nonEmpty) s", FAILED: ${failed.mkString(", ")}" else ""))
    spark.stop()
  }

  /** Oracle SQL for the selected queries PLUS every query dump already
    * present in `outDir`: two prefix runs into the same outDir would
    * otherwise leave the first run's parquet with no SQL entry, silently
    * downgrading its check to rows-only, while SQL for queries never
    * dumped would turn every prefix run into a wall of NO-OUTPUT. The
    * dump dirs are the source of truth (each is a registry name by
    * construction).
    */
  private[graft] def oracleSql(selected: Set[String], outDir: String): Map[String, String] = {
    val dumped = Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName).toSet
    SparkEntry.oracleSql.filter { case (k, _) => selected(k) || dumped(k) }
  }
}
