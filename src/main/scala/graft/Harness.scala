package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** What every artifact main (Bench, Verify, Recall, StreamBench,
  * ScaleUp, Explain) shares: the session policy, the JSON
  * format of the artifacts, name-prefix selection, and the final
  * best-effort artifact write.
  */
object Harness {

  /** `local[SPARK_GRAFT_CPUS]` (else `defaultCpus`), shuffle partitions
    * equal to the core count, UTC, no UI, the given log level, fork-free
    * local checkpoints ([[sources.LocalFs]]); `confs` add the main's own
    * settings (state-store provider, scheduler).
    */
  def session(defaultCpus: Int, logLevel: String,
              confs: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = confs.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    sources.LocalFs.install(spark)
    spark
  }

  /** JSON string literal: backslash, quote, and ALL control chars
    * (< 0x20) escaped — a tab or CR in builder-authored SQL would
    * otherwise make the oracle compare's json.load fail.
    */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `{"k":v,...}` over already-rendered JSON values. */
  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => json(k) + ":" + v }.mkString("{", ",", "}")

  /** A failure's message as a JSON string body (no surrounding quotes):
    * sanitize, TRUNCATE to 200 chars, then escape backslashes LAST —
    * truncating an already-escaped message can split a '\\' pair and
    * leave an odd trailing backslash that escapes the closing quote.
    */
  def errorText(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)
      .replaceAll("[\"\\n\\r\\t]", " ")
      .filter(c => c >= ' ').take(200)
      .replace("\\", "\\\\")

  /** The entries whose name starts with any of `prefixes`, in order; all
    * of them when no prefix is given. A prefix that matches nothing is a
    * typo, not an empty run.
    */
  def select[V](all: Seq[(String, V)], prefixes: Seq[String]): Seq[(String, V)] = {
    val unmatched = prefixes.filterNot(p => all.exists(_._1.startsWith(p)))
    require(unmatched.isEmpty, s"no name starts with: ${unmatched.mkString(", ")}")
    if (prefixes.isEmpty) all
    else all.filter { case (n, _) => prefixes.exists(n.startsWith) }
  }

  /** Writes `fileLine` to `outPath` (best-effort: stdout is canonical),
    * stops the session, and prints `stdoutLine` as the LAST stdout line,
    * after Spark shutdown so no executor or log line follows it.
    */
  def finish(spark: SparkSession, outPath: String, fileLine: String,
             stdoutLine: String): Unit = {
    try Files.write(Paths.get(outPath), (fileLine + "\n").getBytes(StandardCharsets.UTF_8))
    catch { case _: Throwable => () }
    spark.stop()
    System.out.println(stdoutLine)
    System.out.flush()
  }
}
