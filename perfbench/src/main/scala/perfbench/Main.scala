package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in its own JVM. `run.py` launches it, after
  * building the program and generating the inputs from the seed:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --cores <n> --work <dir> --out <result.json>
  *   [--data <tables dir>] [--queries q1,q2,...] [--corrupt <kind>]
  * }}}
  *
  * It writes one JSON object to `--out`: `attempted`, `failed`, the
  * end-to-end `metrics`, the per-layer `layers` (traced runs only) and,
  * for batch workloads, the query names whose last-pass rows were dumped
  * under `<work>/results` for the DuckDB oracle.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, work: String, out: String, data: String,
                        queries: Seq[String], corrupt: String)

  /** What a workload hands back to be written out. */
  final class Result {
    var attempted = 0L
    var failed = 0L
    val metrics = mutable.LinkedHashMap[String, Double]()
    val layers = mutable.LinkedHashMap[String, Double]()
    val notes = mutable.ArrayBuffer[String]()
    val dumped = mutable.ArrayBuffer[String]()
  }

  /** Wall clock at JVM start, the origin of `setup_s`. */
  val jvmStartMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv("cores").toInt, kv("work"), kv("out"),
      kv.getOrElse("data", ""), kv.getOrElse("queries", "").split(",").filter(_.nonEmpty).toSeq,
      kv.getOrElse("corrupt", ""))
    val spark = session(a)
    val result = try {
      if (a.workload.startsWith("batch_")) BatchWorkload.run(spark, a)
      else AlertsWorkload.run(spark, a)
    } finally spark.stop()
    result.metrics("peak_rss_mb") = peakRssMb()
    Files.write(Paths.get(a.out), toJson(result).getBytes(StandardCharsets.UTF_8))
  }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def setupSeconds(): Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  /** VmHWM of this process, from /proc. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) 0.0 else {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def toJsonStrings(m: Map[String, String]): String =
    m.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")

  def toJson(r: Result): String = {
    def obj(m: collection.Map[String, Double]) =
      m.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
    s"""{"attempted":${r.attempted},"failed":${r.failed},"metrics":${obj(r.metrics)},""" +
      s""""layers":${obj(r.layers)},"notes":${r.notes.map(str).mkString("[", ",", "]")},""" +
      s""""dumped":${r.dumped.map(str).mkString("[", ",", "]")}}"""
  }
}
