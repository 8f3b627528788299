package graft

import scala.jdk.CollectionConverters._

/** Output-TYPE pin for the whole query surface: the driver's oracle
  * compare hashes TYPED values, so a column whose Catalyst type drifts
  * (r9's q239: a `100.0` literal inside an expr string silently turned
  * a DOUBLE into decimal(27,6)) fails the round even when every value
  * matches. This spec moves that failure from the driver to `sbt test`:
  *
  *   1. Every query's analysis-time schema must equal the checked-in
  *      baseline (`src/test/resources/schemas-baseline.json` — the
  *      `schemas.json` a Verify run emits; schemas are SF-independent,
  *      asserted across sf0.001/0.01/0.1 when the baseline was cut).
  *   2. No query may emit a DECIMAL column at all: every oracle is
  *      authored to emit DOUBLE/BIGINT/HUGEINT-cast-to-BIGINT, and the
  *      repo-wide convention is integer cents / ppm / permille for
  *      money, so a DECIMAL output is always an accident of SQL-string
  *      literal typing, never intended.
  *
  * Regenerate after an INTENDED schema change, from a full Verify run
  * (no name prefixes: a prefix run's schemas.json holds only the queries
  * it dumped) into an empty outDir. Verify records a schema only after
  * the query's parquet dump SUCCEEDS, and the `failed` check below
  * refuses a partial run, so the baseline can never bake in an entry
  * with no verified output behind it:
  * {{{
  *   tools/run.sh graft.Verify /root/testdata/sf0.001 /tmp/v
  *   python3 -c "import json,sys; s=json.load(open('/tmp/v/_verify_summary.json')); sys.exit(1 if s['failed'] else 0)"
  *   cp /tmp/v/schemas.json src/test/resources/schemas-baseline.json
  * }}}
  */
class SchemaBaselineSpec extends SparkSpec {

  private lazy val baseline: Map[String, Seq[String]] = {
    val path = "src/test/resources/schemas-baseline.json"
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(new java.io.File(path))
    root.properties().asScala.map { e =>
      e.getKey -> e.getValue.elements().asScala.map(_.asText()).toSeq
    }.toMap
  }

  private lazy val actual: Map[String, Seq[String]] =
    SparkEntry.queries.map { case (name, fn) =>
      name -> fn(spark, sf001).schema.fields.toSeq
        .map(f => s"${f.name}:${f.dataType.sql}")
    }

  test("baseline covers exactly the declared query surface") {
    assert(baseline.keySet == SparkEntry.queries.keySet,
      s"baseline drift — missing: ${
        (SparkEntry.queries.keySet -- baseline.keySet).toSeq.sorted
      }, stale: ${(baseline.keySet -- SparkEntry.queries.keySet).toSeq.sorted}")
  }

  test("every query's output schema matches the checked-in baseline") {
    val drift = actual.toSeq.sortBy(_._1).flatMap { case (name, cols) =>
      baseline.get(name) match {
        case Some(exp) if exp == cols => None
        case Some(exp) => Some(s"$name:\n  baseline ${exp.mkString(", ")}" +
          s"\n  actual   ${cols.mkString(", ")}")
        case None => None // surface mismatch already reported above
      }
    }
    assert(drift.isEmpty,
      s"output schema drift (regenerate the baseline if INTENDED):\n${
        drift.mkString("\n")}")
  }

  test("no query emits a DECIMAL output column") {
    val decs = actual.toSeq.sortBy(_._1).collect {
      case (name, cols) if cols.exists(_.contains("DECIMAL")) =>
        s"$name: ${cols.filter(_.contains("DECIMAL")).mkString(", ")}"
    }
    assert(decs.isEmpty,
      s"DECIMAL output columns (SQL-string literal typing accident — " +
        s"divide via Scala lit() or cast to double):\n${decs.mkString("\n")}")
  }
}
