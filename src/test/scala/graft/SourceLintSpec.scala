package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level scale lint: the three RDD/driver escape hatches the
  * plan contracts cannot see (`collect()` materializes to the driver,
  * `mapPartitions*` leaves Catalyst/codegen, `udf(` blocks expression
  * optimization) are each confined to an exact-count whitelist of
  * (file → sites, reason). Every entry's reason states why the seam is
  * legitimate at 100 TB — bounded driver payload, a codec no
  * expression can wrap, or an artifact runner that is not a query
  * plan. Exact counts make the check two-sided: adding a site OR
  * removing one fails CI until the whitelist (and its justification)
  * is consciously updated. This mechanizes what was previously a
  * per-round manual audit of the anti-pattern greps.
  */
class SourceLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  private def sources: Seq[(String, String)] = scalaFiles(root)

  private def scalaFiles(dir: Path): Seq[(String, String)] = {
    val stream = Files.walk(dir)
    try {
      stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
        .map(p => (p.toString.replace('\\', '/'),
          new String(Files.readAllBytes(p), StandardCharsets.UTF_8)))
        .toSeq.sortBy(_._1)
    } finally stream.close()
  }

  private def check(patternName: String, pattern: scala.util.matching.Regex,
                    whitelist: Map[String, (Int, String)]): Unit = {
    val counts = sources
      .map { case (f, text) => (f, pattern.findAllIn(text).size) }
      .filter(_._2 > 0).toMap
    val unexpected = counts.filterNot { case (f, n) =>
      whitelist.get(f).exists(_._1 == n)
    }
    val stale = whitelist.filterNot { case (f, (n, _)) =>
      counts.get(f).contains(n)
    }
    assert(unexpected.isEmpty && stale.isEmpty,
      s"$patternName sites drifted from the whitelist.\n" +
        s"  found-but-not-whitelisted (file -> count): " +
        s"${unexpected.toSeq.sortBy(_._1).mkString(", ")}\n" +
        s"  whitelisted-but-count-changed (file -> expected): " +
        s"${stale.toSeq.sortBy(_._1).map { case (f, (n, _)) => s"$f -> $n" }.mkString(", ")}\n" +
        s"A NEW site needs a 100 TB justification in the whitelist; a " +
        s"REMOVED site needs its entry deleted so the list stays tight.")
  }

  test("collect() is confined to bounded-payload driver sites and artifact runners") {
    check("collect()", """\.collect\(\)""".r, Map(
      "src/main/scala/graft/Recall.scala" ->
        (1, "artifact runner: 100-query recall readout, not a query plan"),
      "src/main/scala/graft/StreamBench.scala" ->
        (1, "artifact runner: 64 synthetic PNG payloads for the image-dedup shape, driver-built fixture"),
      "src/main/scala/graft/operators/ScaleOps.scala" ->
        (1, "distributedCumSum per-partition (count,total) offsets: numPartitions pairs. The grouped primitives collect through collectOffsetsGuarded (runJob with an incremental MaxGroupsTotal abort), not collect()"),
      "src/main/scala/graft/operators/Similarity.scala" ->
        (4, "sampled k-means/PQ/coreset trainers: <= sampleN rows or 1 row per round, documented"),
      "src/main/scala/graft/operators/Sketches.scala" ->
        (1, "bloom filter words: mBits/64 longs, size fixed by the filter parameter")))
  }

  test("other driver-materialization APIs are confined to 1-row scalar pulls") {
    // collect() is not the only door to the driver: collectAsList,
    // toLocalIterator and argless head() pull rows too, and an audit
    // matching only the literal `.collect()` is narrower than its
    // stated intent. NOT covered here, deliberately: `.take(n)` /
    // `.head(n)` — a textual lint cannot tell Dataset.take from the
    // ubiquitous Scala-collection/string take (14 benign sites today),
    // and a Dataset take/head is driver-bounded by its own argument
    // anyway; the plan contracts cover unbounded pulls.
    // GraphOps' four r16 head() scalar pulls (tol delta, PageRank/PPR
    // dangling mass, coreNumbers Σest) are gone in r17: the same
    // aggregates now ride each round's checkpoint materialization via
    // observe(), so no separate driver action re-scans the frame.
    check("collectAsList/toLocalIterator/head()",
      """\.collectAsList\(|\.toLocalIterator|\.head\(\)""".r, Map(
        "src/main/scala/graft/operators/Similarity.scala" ->
          (1, "PCA gram-matrix trainer: one d*d aggregate row, d fixed")))
  }

  test("mapPartitions* is confined to codec seams and the cumsum offset pass") {
    check("mapPartitions", """\.mapPartitions""".r, Map(
      "src/main/scala/graft/operators/Multimodal.scala" ->
        (5, "ImageIO/AudioSystem/video codecs: no Catalyst expression can wrap them"),
      "src/main/scala/graft/operators/ScaleOps.scala" ->
        (8, "distributedCumSum + groupedRank + groupedCumSum + groupedFill: per-partition (per-group) state + offset-seeded second pass over reused shuffle files"),
      "src/main/scala/graft/sources/AvroFileIO.scala" ->
        (1, "OCF container framing: one Avro container per partition"),
      "src/main/scala/graft/sources/WarcIO.scala" ->
        (1, "WARC container framing: record splitting is byte-stream stateful")))
  }

  test("collect_list/collect_set sites are all bounded by design") {
    // an unbounded collect_list materializes a whole frame into ONE
    // aggregation cell — the single-row cousin of the unpartitioned
    // window. Every site below is bounded by construction: a fixed
    // window frame, per-entity history (the fixture contract: keyspace
    // grows with SF, per-key counts don't), a rank cap ahead of the
    // collect, a calendar/dimension/value-grain domain, or vertex
    // degree. q142's converting-user delta array — the one data-sized
    // site — was rewritten onto distributedRank + rank-pick in r11.
    check("collect_list/set", """\bcollect_(list|set)\(""".r, Map(
      "src/main/scala/graft/operators/Relational.scala" ->
        (2, "session event paths (session-bounded); Kaplan-Meier curve cells (distinct day-grain durations)"),
      "src/main/scala/graft/operators/TextAnalysis.scala" ->
        (3, "per-document segment rebuild x2 (doc-length-bounded); postings rank-capped BEFORE the collect"),
      "src/main/scala/graft/operators/TimeSeries.scala" ->
        (4, "ewma window rowsBetween(-31,0); cusum/holt per-key series bounded by the q140 fixture contract"),
      "src/main/scala/graft/queries/StatsQueriesB.scala" ->
        (2, "per-brand calendar-month points; flag x linestatus cells"),
      "src/main/scala/graft/queries/StatsQueriesC.scala" ->
        (2, "7-day rolling window; 24 hour-of-day cells per type"),
      "src/main/scala/graft/queries/StatsQueriesD.scala" ->
        (1, "missing languages per source: dimension-grain")))
  }

  test("no (flat)mapGroupsWithState: transformWithState is the one arbitrary-state API") {
    // every hand-written stateful operator runs on transformWithState;
    // a second arbitrary-state API would split state layout, timer
    // semantics and the state-store provider requirement across two
    // engines
    check("(flat)mapGroupsWithState", """[mM]apGroupsWithState|GroupStateTimeout""".r,
      Map.empty)
  }

  test("loopUnpersist is confined to the GraphOps loop skeleton and triangleCount") {
    // every iterative graph operator frees its checkpoints through
    // GraphOps.iterate; a loop that hand-rolls its own freeing would
    // add references here. Counts every mention, so a bare
    // `foreach(loopUnpersist)` counts too.
    check("loopUnpersist", """\bloopUnpersist\b""".r, Map(
      "src/main/scala/graft/operators/GraphOps.scala" ->
        (8, "the definition, iterate's three frees (round end, finish, setup at exit), Loop.check's free of a non-converged output before it throws, and triangleCount's three one-shot checkpoints")))
  }

  test("Spark plan-extension hooks are confined to the as-of join's on-demand strategy") {
    // an optimizer rule or planner strategy that no session installs is
    // dead weight that still reads as a feature; one that every session
    // installs is per-trigger planning work for each streaming query.
    // The one hook installs its strategy only when a query asks for it.
    check("plan-extension hook",
      """injectOptimizerRule|injectPlannerStrategy|extraOptimizations|extraStrategies|extends Rule\[""".r,
      Map(
        "src/main/scala/graft/plans/AsOfJoinPlan.scala" ->
          (2, "AsOfJoinPhysical.ensureStrategy reads and appends extraStrategies: it installs AsOfJoinStrategy on demand, in the session of the query that uses it")))
  }

  test("SparkSession.builder is confined to the Harness session policy") {
    // every artifact main gets its session from Harness.session (core
    // count, shuffle partitions, UTC, UI off, log level); a main that
    // builds its own would fork that policy again
    check("SparkSession.builder", """SparkSession\.builder""".r, Map(
      "src/main/scala/graft/Harness.scala" ->
        (1, "Harness.session: the one session policy of the artifact mains")))
  }

  test("the file: AbstractFileSystem key is confined to the LocalFs install") {
    // the fork-free checkpoint file system is installed in one place; a
    // second writer of the key would fork that install path
    check("fs.AbstractFileSystem.file.impl", """fs\.AbstractFileSystem\.file\.impl""".r, Map(
      "src/main/scala/graft/sources/LocalFs.scala" ->
        (1, "LocalFs.install: the one install of the fork-free file: scheme")))
  }

  test("no scaladoc block sits directly above another one") {
    // the first block of such a pair describes a def that is not below it:
    // scaladoc keeps only the second, and the described def has none
    val orphans = sources.flatMap { case (f, text) =>
      text.linesIterator.sliding(2).zipWithIndex.collect {
        case (Seq(a, b), i) if a.trim.endsWith("*/") && b.trim.startsWith("/**") => s"$f:${i + 1}"
      }
    }
    assert(orphans.isEmpty, s"scaladoc block followed directly by another (line of its */): " +
      orphans.mkString(", "))
  }

  test("every public def in src/main has a caller in src/main or perfbench/src") {
    // a def that only its spec calls is API nothing uses: delete it
    // with its spec, or narrow it to private[graft] when the spec pins
    // a baseline the engine is compared against
    val uncalled = PublicSurface.uncalled(sources,
      sources ++ scalaFiles(Paths.get("perfbench/src")), PublicSurface.Allowed)
    assert(uncalled.isEmpty,
      s"public defs with no caller outside their own declaration:\n  " +
        uncalled.mkString("\n  "))
  }

  test("the public-surface rule flags a spec-only def, not a private[graft] or allow-listed one") {
    val planted = Seq(
      "src/main/scala/graft/Planted.scala" ->
        """object Planted {
          |  def specOnly(x: Int): Int = x + 1
          |  private[graft] def baseline(x: Int): Int = x
          |  def used(x: Int): Int = x * 2
          |  def entry(x: Int): Int = used(x)
          |  // onlyInComment is named here, in a comment, and nowhere else
          |  def onlyInComment(): Int = 0
          |  /* def commentedOut(): Int = 0 */
          |  def afterString(): Int = 1
          |  def fromBench(): Int = 2
          |  def write(x: Int): Int = x // only a spec calls Planted.write
          |}""".stripMargin,
      "src/main/scala/graft/Caller.scala" ->
        """object Caller { val url = "file://x"; val y = Planted.afterString() + Other.write(1) }
          |object Other { def write(x: Int): Int = x }""".stripMargin)
    val callers = planted ++ Seq(
      "perfbench/src/main/scala/Main.scala" -> "object Main { Planted.fromBench() }",
      "src/test/scala/graft/PlantedSpec.scala" ->
        "class PlantedSpec { Planted.specOnly(1); Planted.write(2) }")
    val flagged = PublicSurface.uncalled(planted, callers, Set("Planted.entry"))
    assert(flagged == Seq(
      "src/main/scala/graft/Planted.scala: specOnly",
      "src/main/scala/graft/Planted.scala: onlyInComment",
      "src/main/scala/graft/Planted.scala: write"))
  }

  test("every default-valued parameter in src/main is passed at some call") {
    // a default that no call overrides is a constant written as an
    // option: make it a named constant of its object (or an inline
    // literal), so the engine and its DuckDB oracle read one value
    val main = sources
    info(s"${DefaultParams.declared(main).size} default-valued parameters in src/main, " +
      s"${DefaultParams.Allowed.size} of them allow-listed")
    val unset = DefaultParams.unset(main, main ++ scalaFiles(Paths.get("perfbench/src")),
      DefaultParams.Allowed)
    assert(unset.isEmpty,
      s"default-valued parameters that no call passes:\n  " + unset.map(_.id).mkString("\n  "))
  }

  test("the default-parameter rule flags an unset default, not a set or allow-listed one") {
    val planted = Seq(
      "src/main/scala/graft/sources/Planted.scala" ->
        """object Planted {
          |  def f(a: Int, unset: Int = 1, byName: Int = 2, bySpec: Int = 3): Int = a
          |  def g(x: Int)(byPos: Int = 4, later: String = "s"): Int = x
          |  def h[T](t: T, allowed: Int = 5, commented: Int = 6): T = t
          |  private def local(fn: Int => Int = identity, inString: Int = 7): Int = 0
          |  class Inner(n: Int = 0) { def k(a: Int, viaValue: Int = 8, otherArity: Int = 9): Int = a }
          |}
          |object Twin { def f(a: Int, b: Int, c: Int): Int = a }""".stripMargin)
    val callers = Seq(
      "src/main/scala/graft/Calls.scala" ->
        """object Calls {
          |  Planted.f(1, byName = 9)
          |  Twin.f(1, 2, 3) // another object's f
          |  Planted.g(1)(5)
          |  Planted.h[Int](1) // Planted.h(1, 2, commented = 3)
          |  val s = s"${Planted.local()} local(1, 2)"
          |  new Planted.Inner().k(1, 2)
          |  k(1, 2, 3, 4) // fits no k
          |}""".stripMargin,
      // a spec is not a caller
      "src/test/scala/graft/PlantedSpec.scala" ->
        "class PlantedSpec { Planted.f(1, bySpec = 4); Planted.g(1)(2, \"t\") }")
    val flagged = DefaultParams.unset(planted, callers, Set("Planted.h.allowed"))
    assert(DefaultParams.declared(planted).map(p => s"${p.owner}.${p.defName}.${p.name}") == Seq(
      "Planted.f.unset", "Planted.f.byName", "Planted.f.bySpec", "Planted.g.byPos", "Planted.g.later",
      "Planted.h.allowed", "Planted.h.commented", "Planted.local.fn", "Planted.local.inString",
      "Inner.k.viaValue", "Inner.k.otherArity"))
    assert(flagged.map(p => s"${p.defName}.${p.name}") == Seq("f.unset", "f.bySpec", "g.later",
      "h.commented", "local.fn", "local.inString", "k.otherArity"))
  }

  test("udf( is confined to the streaming image dHash") {
    check("udf(", """(?<![\w.])udf\(""".r, Map(
      "src/main/scala/graft/streaming/StreamingDedup.scala" ->
        (1, "dHash over ImageIO decode in a streaming map: same codec-seam justification"),
      "src/main/scala/graft/StreamBench.scala" ->
        (1, "bench traffic GENERATOR, not engine code: renders the " +
          "per-row-unique PNG for the image_dhash_dedup emission " +
          "witness (ImageIO encode is a codec seam like the decode " +
          "UDF it feeds; never on a 100 TB query path)")))
  }
}

/** The public-surface rule: every `def` in `src/main`, declared at the
  * start of a line, that is neither `private`, `protected` nor
  * `override`, and is not a `main` (which the JVM calls), must be
  * mentioned, with comments and literals stripped, somewhere other
  * than a declaration: in `src/main` or in the benchmark's sources. A
  * spec is not a caller. A mention `Owner.name`
  * counts only for the def that `Owner` encloses; any other mention of
  * the name counts for every def of that name, so the rule errs towards
  * passing where a name is also a local or a value's member.
  */
object PublicSurface {

  /** `<file base name>.<def>`: called from outside the repository. */
  val Allowed: Set[String] = Set(
    "SparkEntry.entry",                  // the flagship query's external entry point
    "KafkaIO.productsSnapshot",          // the Kafka production path; no broker to run it
    "StateStoreCleanupListener.install") // a deployment registers it on its own SparkSession

  private val Decl = ("""(?m)^[ \t]*((?:(?:private|protected)(?:\[\w+\])?\s+|""" +
    """override\s+|final\s+|implicit\s+|lazy\s+|@\w+(?:\([^)\n]*\))?\s+)*)""" +
    """def\s+([A-Za-z_]\w*)""").r

  /** `file: def` for each public def of `main` (path → source) that no
    * mention in `callers` (path → source) reaches, in declaration order.
    */
  def uncalled(main: Seq[(String, String)], callers: Seq[(String, String)],
               allowed: Set[String]): Seq[String] = {
    val decls = main.flatMap { case (f, src) =>
      val code = codeOnly(src)
      val obj = f.split('/').last.stripSuffix(".scala")
      val ownerAt = DefaultParams.owners(code)
      Decl.findAllMatchIn(code).collect {
        case m if !Seq("private", "protected", "override").exists(m.group(1).contains) &&
            m.group(2) != "main" && !allowed(s"$obj.${m.group(2)}") =>
          (f, m.group(2), ownerAt(m.start))
      }
    }
    val mentions = DefaultParams.mentions(callers, decls.map(_._2).toSet)
    decls.collect {
      case (f, name, owner) if !mentions.getOrElse(name, Nil).exists(_.reaches(owner)) =>
        s"$f: $name"
    }
  }

  /** `src` with comments removed and each string or character literal
    * reduced to `""`, keeping the code of its `${…}` splices, so that
    * brackets, commas and `=` in the result are all code.
    */
  private[graft] def codeOnly(src: String): String = {
    val s = stripComments(src)
    val n = s.length
    val out = new StringBuilder(n)
    var i = 0
    def at(p: String) = s.startsWith(p, i)
    // copies code up to the `}` closing a splice (not consumed), or the end
    def code(inSplice: Boolean): Unit = {
      var depth = 0
      while (i < n && !(inSplice && depth == 0 && s(i) == '}')) {
        val c = s(i)
        if (at("\"\"\"")) literal(triple = true)
        else if (c == '"') literal(triple = false)
        else if (c == '\'' && i + 2 < n && (s(i + 1) == '\\' || s(i + 2) == '\'')) {
          val close = s.indexOf('\'', i + (if (s(i + 1) == '\\') 3 else 2))
          out ++= "' '"
          i = if (close < 0) n else close + 1
        } else {
          if (c == '{') depth += 1 else if (c == '}') depth -= 1
          out += c
          i += 1
        }
      }
    }
    def literal(triple: Boolean): Unit = {
      val interpolated = i > 0 && (s(i - 1).isLetterOrDigit || s(i - 1) == '_')
      out += '"'
      i += (if (triple) 3 else 1)
      var open = true
      while (open && i < n) {
        if (triple && at("\"\"\"")) {
          i += 3
          while (i < n && s(i) == '"') i += 1
          open = false
        } else if (!triple && (s(i) == '"' || s(i) == '\n')) {
          if (s(i) == '"') i += 1
          open = false
        } else if (interpolated && at("$$")) i += 2
        else if (interpolated && at("${")) {
          out += '{'
          i += 2
          code(inSplice = true)
          out += '}'
          i += 1
        } else if (!triple && s(i) == '\\') i += 2
        else i += 1
      }
      out += '"'
    }
    code(inSplice = false)
    out.toString
  }

  /** `src` with line and (nested) block comments removed; string and
    * character literals are kept whole, so a `//` inside a string is
    * not taken for a comment. Newlines inside block comments are kept.
    */
  private def stripComments(src: String): String = {
    val out = new StringBuilder(src.length)
    val n = src.length
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    def keep(end: Int): Unit = { out ++= src.substring(i, end); i = end }
    while (i < n) {
      if (at("//")) {
        while (i < n && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 1
        i += 2
        while (i < n && depth > 0) {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else { if (src(i) == '\n') out += '\n'; i += 1 }
        }
      } else if (at("\"\"\"")) {
        val close = src.indexOf("\"\"\"", i + 3)
        var end = if (close < 0) n else close + 3
        while (end < n && src(end) == '"') end += 1
        keep(end)
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n') j += (if (src(j) == '\\') 2 else 1)
        keep(math.min(j + 1, n))
      } else if (src(i) == '\'' && i + 2 < n && (src(i + 1) == '\\' || src(i + 2) == '\'')) {
        val close = src.indexOf('\'', i + (if (src(i + 1) == '\\') 3 else 2))
        keep(if (close < 0) n else close + 1)
      } else {
        out += src(i)
        i += 1
      }
    }
    out.toString
  }
}

/** The default-parameter rule: every default-valued parameter of a
  * `def` in `src/main` must be passed, by name or by position, at some
  * call of that def in `src/main` or in the benchmark's sources. A spec
  * is not a caller: a default that only a spec overrides is an option
  * the engine never runs at another value. A default that no call
  * overrides is a constant written as an option; it belongs in the
  * operator's object (or inline), where it is written once. A call
  * `Owner.name(…)` counts only for the def that `Owner` encloses; a
  * call with no qualifier, or with a value qualifier, counts for each
  * def of that name whose parameter lists its arguments fit.
  */
object DefaultParams {

  /** `<file base name>.<def>.<param>`: the defaults a call in `src/main`
    * or the benchmark need not set. Only two kinds qualify: a setting of
    * the deployment or of input from outside the program, which only a
    * production caller sets, and a safety cap whose guard a spec must
    * trip with a small value.
    */
  val Allowed: Set[String] = Set(
    "CsvIO.readCsv.multiLine",                 // CSV files with quoted newlines
    "CsvIO.readCsv.mode",                      // parse mode for malformed CSV input
    "JsonIO.readJsonl.mode",                   // parse mode for malformed JSON lines
    "KafkaIO.purchasesStream.mode",            // the Avro parse mode of the Kafka source
    "KafkaIO.purchasesStream.topic",           // the deployment's purchases topic
    "KafkaIO.productsSnapshot.topic",          // the deployment's products topic
    "KafkaIO.decodeAvroFrames.writerSchemasById", // the registry's writer schemas, outside the program
    "Dedup.ngramJaccardPairs.maxBlockSize")    // block cap: a spec trips the guard

  /** Parameter `index` of list `list` of `defName`, declared in the
    * object, class or trait `owner`; `lists` holds each parameter's
    * declaration text.
    */
  final case class Param(file: String, owner: String, defName: String,
                         lists: Seq[Seq[String]], list: Int, index: Int) {
    def name: String = paramName(lists(list)(index))
    def id: String = s"$file: $defName.$name"
    def key: String = s"${file.split('/').last.stripSuffix(".scala")}.$defName.$name"
  }

  private val DefName = """\bdef\s+([A-Za-z_]\w*)""".r
  private val DefBefore = """(?s).*\bdef\s+""".r
  private val Named = """(?s)^\s*([A-Za-z_]\w*)\s*=(?![=>]).*""".r
  private val TypeDef = """\b(?:object|class|trait)\s+([A-Za-z_]\w*)""".r
  private val Qualifier = """(?s).*?([A-Za-z_]\w*)?\s*\.\s*$""".r
  private val Keyword = """(?:def|val|var|object|class|trait|case)\b""".r

  /** A mention of a name outside its declarations: the word before the
    * `.` that precedes it (`Some("")` after a bracket, `None` with no
    * `.`), and the argument groups that follow it.
    */
  final case class Mention(qualifier: Option[String], groups: Seq[Seq[String]]) {
    /** A capitalized qualifier names an object, class or trait. */
    def qualified: Boolean = qualifier.exists(_.headOption.exists(_.isUpper))
    /** Whether this mention can refer to a def that `owner` encloses. */
    def reaches(owner: String): Boolean = !qualified || qualifier.contains(owner)
  }

  /** The source roots whose calls count: the engine and the benchmark. */
  private val CallerRoots = Seq("src/main/", "perfbench/src/")

  /** name → each mention of a name in `names` in the files of `sources`
    * (path → source) under [[CallerRoots]], comments and literals aside.
    */
  private[graft] def mentions(sources: Seq[(String, String)],
                              names: Set[String]): Map[String, Seq[Mention]] =
    sources.collect { case (f, src) if CallerRoots.exists(f.startsWith) =>
      PublicSurface.codeOnly(src)
    }.flatMap { code =>
      """\b([A-Za-z_]\w*)\b""".r.findAllMatchIn(code).collect {
        case m if names(m.group(1)) &&
            !DefBefore.matches(code.substring(math.max(0, m.start - 12), m.start)) =>
          val qualifier = code.substring(math.max(0, m.start - 80), m.start) match {
            case Qualifier(q) => Some(Option(q).getOrElse(""))
            case _ => None
          }
          m.group(1) -> Mention(qualifier,
            argGroups(code, m.end, declaration = false).map(topLevel))
      }
    }.groupMap(_._1)(_._2)

  /** The innermost object, class or trait of `code` (comments and
    * literals stripped) enclosing each position; "" at the top level.
    */
  private[graft] def owners(code: String): Int => String = {
    val bodies = TypeDef.findAllMatchIn(code).flatMap { t =>
      body(code, t.end).map(open => (open, close(code, open), t.group(1)))
    }.toSeq
    pos => bodies.filter { case (open, end, _) => open < pos && pos < end }
      .maxByOption(_._1).fold("")(_._3)
  }

  /** Every default-valued parameter declared in `main` (path → source). */
  def declared(main: Seq[(String, String)]): Seq[Param] =
    main.flatMap { case (f, src) =>
      val code = PublicSurface.codeOnly(src)
      val ownerAt = owners(code)
      DefName.findAllMatchIn(code).flatMap { m =>
        val lists = argGroups(code, m.end, declaration = true).map(topLevel)
        for {
          (decls, l) <- lists.zipWithIndex
          (d, i) <- decls.zipWithIndex if defaultAt(d) >= 0
        } yield Param(f, ownerAt(m.start), m.group(1), lists, l, i)
      }
    }

  /** The parameters of `declared(main)`, `allowed` aside, that no call
    * in `callers` (path → source; only [[CallerRoots]] count) passes,
    * by name or by position.
    */
  def unset(main: Seq[(String, String)], callers: Seq[(String, String)],
            allowed: Set[String]): Seq[Param] = {
    val params = declared(main)
    val calls = mentions(callers, params.map(_.defName).toSet)
    params.filterNot { p =>
      allowed(p.key) || calls.getOrElse(p.defName, Nil).exists { c =>
        val groups = c.groups
        val resolves = c.reaches(p.owner) && (c.qualified || fits(groups, p.lists))
        resolves && groups.lift(p.list).exists { args =>
          args.lift(p.index).exists(!Named.matches(_)) ||
            args.exists { case Named(n) => n == p.name; case _ => false }
        }
      }
    }
  }

  /** Whether a call's argument groups fit a def's parameter lists: no
    * more positional arguments than parameters (varargs aside), every
    * named argument names a parameter, and every parameter without a
    * default is given.
    */
  private def fits(groups: Seq[Seq[String]], lists: Seq[Seq[String]]): Boolean =
    groups.size <= lists.size && groups.zip(lists).forall { case (args, decls) =>
      val named = args.collect { case Named(n) => n }
      val positional = args.size - named.size
      val varargs = decls.lastOption.exists(_.trim.endsWith("*"))
      named.forall(decls.map(paramName).contains) &&
        (positional <= decls.size || varargs) &&
        positional + named.size >= decls.count(d => defaultAt(d) < 0 && !d.trim.endsWith("*"))
    }

  /** Index of the `{` opening the body of the type whose header starts
    * at `from`, or None if the header ends without one.
    */
  private def body(code: String, from: Int): Option[Int] = {
    var i = from
    while (i < code.length) {
      code(i) match {
        case '(' | '[' => i = close(code, i)
        case '{' => return Some(i)
        case '}' | ';' | '=' => return None
        case _ if !(code(i - 1).isLetterOrDigit || code(i - 1) == '_') &&
            Keyword.findPrefixOf(code.substring(i, math.min(code.length, i + 7))).isDefined =>
          return None
        case _ =>
      }
      i += 1
    }
    None
  }

  /** The bracketed groups that follow `from`: an optional `[…]`, then
    * each `(…)` (and, at a call, `{…}`) group's inner text. Declarations
    * may break lines between groups; calls may not.
    */
  private def argGroups(code: String, from: Int, declaration: Boolean): Seq[String] = {
    val out = Seq.newBuilder[String]
    def skip(i: Int): Int = {
      var j = i
      while (j < code.length && (code(j) == ' ' || code(j) == '\t' ||
          (declaration && code(j) == '\n'))) j += 1
      j
    }
    var i = skip(from)
    if (i < code.length && code(i) == '[') i = skip(close(code, i) + 1)
    while (i < code.length && (code(i) == '(' || (!declaration && code(i) == '{'))) {
      val end = close(code, i)
      out += code.substring(i + 1, end)
      i = skip(end + 1)
    }
    out.result()
  }

  /** Index of the bracket closing the one at `open`. */
  private def close(code: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < code.length) {
      code(i) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' =>
          depth -= 1
          if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    code.length - 1
  }

  /** `group` split at its depth-0 commas; an empty group has no parts. */
  private def topLevel(group: String): Seq[String] = if (group.trim.isEmpty) Nil else {
    val parts = Seq.newBuilder[String]
    var depth = 0
    var start = 0
    for (i <- group.indices) group(i) match {
      case '(' | '[' | '{' => depth += 1
      case ')' | ']' | '}' => depth -= 1
      case ',' if depth == 0 =>
        parts += group.substring(start, i); start = i + 1
      case _ =>
    }
    (parts += group.substring(start)).result()
  }

  /** Index of the depth-0 `=` that opens a parameter's default, or -1. */
  private def defaultAt(param: String): Int = {
    var depth = 0
    for (i <- param.indices) param(i) match {
      case '(' | '[' | '{' => depth += 1
      case ')' | ']' | '}' => depth -= 1
      case '=' if depth == 0 &&
          !param.lift(i + 1).exists(c => c == '>' || c == '=') &&
          !param.lift(i - 1).exists("=!<>:".contains(_)) =>
        return i
      case _ =>
    }
    -1
  }

  private def paramName(decl: String): String = {
    val at = defaultAt(decl)
    """[A-Za-z_]\w*""".r.findAllIn((if (at < 0) decl else decl.substring(0, at))
      .takeWhile(_ != ':')).toSeq.last
  }
}
