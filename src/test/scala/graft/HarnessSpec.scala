package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The artifact mains' shared format and selection policy: what artifact
  * readers parse (escaped JSON, sanitized error text) and which queries a
  * prefix run dumps and declares oracle SQL for.
  */
class HarnessSpec extends AnyFunSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def parse(jsonString: String): String = mapper.readTree(jsonString).asText()

  test("json escapes quote, backslash, newline/CR/tab and other control chars") {
    val raw = "say \"hi\" C:\\tmp\nnext\rline\tcol\u0001end"
    val out = Harness.json(raw)
    assert(out == "\"say \\\"hi\\\" C:\\\\tmp\\nnext\\rline\\tcol\\u0001end\"")
    assert(parse(out) == raw)
    assert(Harness.obj(Seq("a\"b" -> "1", "c" -> Harness.json("d"))) ==
      "{\"a\\\"b\":1,\"c\":\"d\"}")
  }

  test("errorText truncates before escaping, so a cut backslash pair stays valid JSON") {
    // the 200th character is the first of a "\\" pair: truncating after
    // escaping would end on one odd backslash that eats the closing quote
    val msg = "a" * 199 + "\\\\" + "tail\twith \"quotes\"\n"
    val body = Harness.errorText(new RuntimeException(msg))
    assert(body == "a" * 199 + "\\\\")
    assert(parse("\"" + body + "\"") == "a" * 199 + "\\")
    val controls = Harness.errorText(new RuntimeException("x\"y\nz\u0002w"))
    assert(controls == "x y zw")
    assert(Harness.errorText(new IllegalStateException()) ==
      "java.lang.IllegalStateException")
  }

  test("select keeps name-prefix matches in order, all without prefixes, and rejects a typo") {
    val all = Seq("q01_a" -> 1, "q02_b" -> 2, "q127_c" -> 3, "q12_d" -> 4)
    assert(Harness.select(all, Nil) == all)
    assert(Harness.select(all, Seq("q127", "q01")) == Seq("q01_a" -> 1, "q127_c" -> 3))
    assert(Harness.select(all, Seq("q12")) == Seq("q127_c" -> 3, "q12_d" -> 4))
    val e = intercept[IllegalArgumentException](Harness.select(all, Seq("q01", "q9")))
    assert(e.getMessage.contains("q9"))
  }

  test("Verify's oracle SQL covers the selected queries plus the dumps already in outDir") {
    val names = SparkEntry.oracleSql.keys.toSeq.sorted
    val (earlier, selected, absent) = (names(0), names(1), names(2))
    val out = Files.createTempDirectory("harness-oracle-sql")
    try {
      Files.createDirectory(out.resolve(earlier))
      Files.createDirectory(out.resolve("not_a_query"))
      Files.writeString(out.resolve(absent), "a file, not a dump")
      val sql = Verify.oracleSql(Set(selected), out.toString)
      assert(sql.keySet == Set(earlier, selected))
      assert(sql(earlier) == SparkEntry.oracleSql(earlier))
      assert(Verify.oracleSql(names.toSet, out.toString) == SparkEntry.oracleSql)
    } finally {
      Seq(earlier, "not_a_query", absent).foreach(n => Files.delete(out.resolve(n)))
      Files.delete(out)
    }
  }
}
