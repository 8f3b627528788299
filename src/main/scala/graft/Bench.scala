package graft

/** Driver-run benchmark: times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line as the final stdout line, and
  * also writes the same JSON to a file (`BENCH.json` in the cwd, or
  * `SPARK_GRAFT_BENCH_OUT`) so callers never have to scrape build-tool
  * prefixed stdout.
  *
  * The whole battery runs `SPARK_GRAFT_BENCH_PASSES` times (default 3)
  * ROUND-ROBIN — pass 1 of every query, then pass 2 of every query, …
  * — and each query reports its MINIMUM wall time across passes. The
  * first pass pays whole-stage-codegen compilation and file-footer
  * reads; interleaving whole-battery passes (instead of timing each
  * query back-to-back) means a multi-second host-contention burst —
  * this VM shows 3–90 s steal swings on identical plans — lands on
  * DIFFERENT queries in different passes, so the per-query min across
  * passes sheds it. r3's artifact recorded 247.9 s for a battery that
  * runs in 68.9 s idle; this layout is the fix.
  *
  * A query that throws is recorded in an `errors` map (name → message)
  * instead of being silently timed as a no-op (it is not retried on
  * later passes).
  *
  * Usage: tools/run.sh graft.Bench [name-prefix...] — prefixes restrict
  * the battery (dev loop); a full run passes none.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passesRaw = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3")
    val passes = try passesRaw.toInt catch {
      case _: NumberFormatException =>
        sys.error(s"SPARK_GRAFT_BENCH_PASSES must be an integer >= 1, got '$passesRaw'")
    }
    require(passes >= 1, s"SPARK_GRAFT_BENCH_PASSES must be >= 1, got $passes")
    val spark = Harness.session(4, "ERROR")
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // benchQueries: production-path twins (e.g. tol-mode PageRank)
    // timed here but excluded from the declared correctness surface
    val queries = Harness.select(
      (SparkEntry.queries ++ SparkEntry.benchQueries).toSeq.sortBy(_._1), args.toSeq)
    val best = scala.collection.mutable.LinkedHashMap[String, Double]()
    for (_ <- 1 to passes; (name, fn) <- queries if !errors.contains(name)) {
      val blocksBefore = spark.sparkContext.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch {
        case e: Throwable => errors(name) = Harness.errorText(e)
      }
      val dt = (System.nanoTime() - t0) / 1e9
      best(name) = math.min(best.getOrElse(name, Double.MaxValue), dt)
      // Free the storage blocks the query left behind (OUTSIDE the timed
      // region). Query-level localCheckpoints (the q209/q319/q235 chain
      // seams, funnelLatency, q170) are eager persists that nothing
      // frees once the query's count() returns — only the GraphOps
      // loops clean up after themselves — so across 3×343 executions
      // the battery accumulated storage generations, and the resulting
      // JVM memory pressure was the proven cause of the r12-close
      // minhash/shingle drift cluster (q16 1.86×, q182 1.51×, q37
      // 1.40×, q127 1.31× — each re-benches at its snapshot value in
      // isolation; SCALING.md "r12-close drift"). `localCheckpoint`
      // registers its RDD via persist(), so the public
      // getPersistentRDDs enumeration reaches every stray block; the
      // frames are per-query and fully materialized by now, so
      // dropping them cannot invalidate anything later. Only ids the
      // QUERY added are dropped (diff against the pre-query snapshot):
      // a future cache meant to span queries must not be silently
      // evicted 343 times per pass (r13 ADVICE).
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) =>
          if (!blocksBefore.contains(id)) rdd.unpersist(blocking = false) }
    }
    // Errored queries are excluded from the timing map entirely — a
    // duration of "one failed attempt" is not a measurement, and leaving
    // it in lets a consumer misread the JSON without checking `errors`.
    val results = queries.collect {
      case (name, _) if !errors.contains(name) => name -> best(name)
    }
    val qs = Harness.obj(results.map { case (k, v) => k -> v.toString })
    val errJson = Harness.obj(errors.map { case (k, v) => k -> ("\"" + v + "\"") })
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // Round-over-round diagnosis INSIDE the artifact: per-query ratios
    // vs the checked-in QueryCosts snapshot (the prior round's sf0.1
    // mins). The repo's SCALING.md rule — a uniform ratio distribution
    // is host drift, a localized outlier is a plan regression — becomes
    // readable from ONE run: median/p10/p90 ride the JSON, the top
    // outliers print to stderr. (Only meaningful on the sf0.1 battery
    // QueryCosts was cut from; other SFs still print, labeled.)
    val ratios = results.collect {
      case (n, v) if QueryCosts.sf01Seconds.getOrElse(n, 0.0) > 0.0 =>
        (n, v / QueryCosts.sf01Seconds(n))
    }.sortBy(_._2)
    def pct(p: Double): Double = if (ratios.isEmpty) 0.0
      else ratios(math.min(ratios.size - 1,
        math.round(p * (ratios.size - 1)).toInt))._2
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val ratioJson = s"""{"n":${ratios.size},"median":${f3(pct(0.5))},""" +
      s""""p10":${f3(pct(0.1))},"p90":${f3(pct(0.9))}}"""
    if (ratios.nonEmpty) {
      System.err.println(s"[bench] ratio vs QueryCosts (sf0.1 prior): " +
        s"median ${f3(pct(0.5))} p10 ${f3(pct(0.1))} p90 ${f3(pct(0.9))} " +
        s"over ${ratios.size} queries; slowest-growing:")
      ratios.takeRight(8).reverse.foreach { case (n, r) =>
        System.err.println(f"[bench]   $n ${f3(r)}x " +
          f"(${QueryCosts.sf01Seconds(n)}%.2fs -> ${best(n)}%.2fs)")
      }
    }
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$passes,"queries":$qs,"errors":$errJson,"ratio_vs_prior":$ratioJson,"sf":"$sfDir"}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    // The harness that collects this run keeps only a ~2000-byte tail of
    // stdout; a 150-query map (~5 KB) never fits, so its JSON parse of
    // the final line always failed (BENCH_r05–r07: parsed=null). The
    // final stdout line is therefore a COMPACT summary — true total, the
    // top-slowest per-query timings (the fast tail is uniform ~0.1-0.4 s
    // noise), error count, and a pointer to the full map on disk.
    val topN = 20
    val top = Harness.obj(results.sortBy(-_._2).take(topN).map { case (k, v) => k -> f3(v) })
    // head-truncating the ESCAPED value can split a '\\' pair; strip any
    // trailing backslash run so the closing quote stays a quote
    val errHead = Harness.obj(errors.take(3).map { case (k, v) =>
      k -> ("\"" + v.take(60).replaceAll("\\\\+$", "") + "\"") })
    val line =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","runs":$passes,"n_queries":${results.size},"queries":$top,"queries_note":"top $topN slowest; per-query MIN across $passes interleaved passes; full map in queries_file","n_errors":${errors.size},"errors":$errHead,"ratio_vs_prior":$ratioJson,"sf":"$sfDir","queries_file":"$outPath"}"""
    Harness.finish(spark, outPath, fullLine, line)
  }
}
