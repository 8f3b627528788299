package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Plan dumps: prints `.explain("formatted")` for declared queries and
  * for query FRAGMENTS. A fragment is the prefix of a query that
  * materializes an intermediate eagerly (localCheckpoint /
  * distributedCumSum), which leaves only a Scan ExistingRDD in the full
  * query's final plan; the fragment shows the stage the optimization
  * evidence (Exchange count, join strategy) is about. Dev tooling only.
  *
  * Usage: tools/run.sh graft.Explain <dataDir> <query-or-fragment>...
  * (`local[SPARK_GRAFT_CPUS]`, default 4, like the other mains)
  */
object Explain {

  private val fragments: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q246_perpart" -> StatsQueriesC.q246PerPart)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Explain <dataDir> <query-or-fragment>...")
    val dir = args.head
    val spark = Harness.session(4, "ERROR")
    try {
      for (name <- args.tail) {
        println(s"\n########## $name ##########")
        SparkEntry.queries.get(name).orElse(fragments.get(name)) match {
          case Some(build) => build(spark, dir).explain("formatted")
          case None => println(s"unknown query or fragment: $name")
        }
      }
    } finally spark.stop()
  }
}
