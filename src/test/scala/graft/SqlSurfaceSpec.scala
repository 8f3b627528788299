package graft

import graft.functions.GraftFunctions
import graft.sources.Tables

/** The SQL front-end surface: temp views + spark.sql, including the
  * custom expressions by SQL name (registered by GraftFunctions.register).
  */
class SqlSurfaceSpec extends SparkSpec {

  test("flagship pipeline expressed in pure SQL matches the DataFrame API") {
    Tables.purchases(spark, sf001).createOrReplaceTempView("purchases_v")
    Tables.products(spark, sf001).createOrReplaceTempView("products_v")
    val sql = spark.sql(
      """SELECT CAST(productid AS STRING) AS product_id,
        |       window(ts, '1 minute').start AS window_start,
        |       SUM(quantity * price) AS total_sum_per_minute
        |FROM purchases_v JOIN products_v ON productid = products_v.id
        |GROUP BY 1, window(ts, '1 minute')
        |HAVING SUM(quantity * price) > 3000.0""".stripMargin)
    val api = graft.operators.PriceAlerts.dslPipeline(
      Tables.purchases(spark, sf001), Tables.products(spark, sf001))
    assert(sql.count() == api.count())
    val sqlTotal = sql.agg(org.apache.spark.sql.functions.sum("total_sum_per_minute")).head.getDouble(0)
    val apiTotal = api.agg(org.apache.spark.sql.functions.sum("total_sum_per_minute")).head.getDouble(0)
    // different plans sum in different orders — compare to relative tolerance
    assert(math.abs(sqlTotal - apiTotal) / math.abs(apiTotal) < 1e-9)
  }

  test("custom expressions are callable from SQL after registration") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT polyhash64('abc') AS ph,
        |       simhash64(array('a','b')) AS sh,
        |       cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS cs,
        |       minhash_est(minhash_sig(array('x','y','z'), 16),
        |                   minhash_sig(array('x','y','z'), 16)) AS est""".stripMargin).head
    assert(r.getDouble(2) == 1.0)
    assert(r.getDouble(3) == 1.0)
    assert(r.getLong(0) != 0L)
  }

  test("r3 expressions are callable from SQL: quantize_i8_stats, first_shared_probe") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT quantize_i8_stats(array(CAST(1.0 AS FLOAT), CAST(-0.5 AS FLOAT))) AS q,
        |       first_shared_probe(array(5L, 9L), array(4L, 9L), 3) AS fsp,
        |       first_shared_probe(array(5L, 9L), array(8L, 3L), 3) AS none""".stripMargin).head
    val q = r.getStruct(0)
    assert(q.getDouble(0) == 1.0)            // scale = max |x|
    assert(q.getLong(1) == 127L - 63L)       // q = [127, floor(-63.5+0.5)] = [127, -63]
    assert(q.getLong(2) == -63L && q.getLong(3) == 127L)
    // qb=5 cb=4: flip bit 0 (probe 1) matches at table 0 -> 0*4+1 = 1
    assert(r.getInt(1) == 1)
    assert(r.getInt(2) == -1)
    // zorder64: x=0b11 -> even bits, y=0b1 -> odd bits: 0b0111 = 7
    val z = spark.sql("SELECT zorder64(3L, 1L) AS z").head.getLong(0)
    assert(z == 7L)
  }

  test("unpivot equals the hand-stacked union, loss-free (multiset identity)") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sf001)
    val long = graft.operators.Relational.unpivotMeasures(li)
    assert(long.count() == li.count() * 4)
    // the semantic definition: one stacked select per measure column
    // ((orderkey, linenumber) is NOT unique in the fixture, so the
    // comparison must be a multiset identity, not a pivot round-trip)
    val stacked = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .map(c => li.select(col("l_orderkey"), col("l_linenumber"),
        lit(c).as("measure"),
        col(c).cast("decimal(18,2)").cast("double").as("value")))
      .reduce(_ unionAll _)
    assert(long.exceptAll(stacked).isEmpty && stacked.exceptAll(long).isEmpty,
      "unpivot must equal the stacked union exactly")
  }

  test("observe(): data-quality counters piggyback on a pipeline with zero extra passes") {
    import org.apache.spark.sql.functions._
    // the production pattern: a corpus filter job reports row counts
    // and null rates THROUGH the same action that does the work —
    // no second scan, no .count() side queries
    val obs = new org.apache.spark.sql.Observation("quality")
    val kept = Tables.documents(spark, sf001)
      .observe(obs,
        count(lit(1)).as("rows_in"),
        sum(when(col("text").isNull || length(col("text")) === 0, 1L)
          .otherwise(0L)).as("empty_docs"),
        sum(length(col("text"))).as("chars_in"))
      .filter(length(col("text")) >= 50)
      .count()
    val m = obs.get
    assert(m("rows_in") == 500L)
    assert(m("empty_docs") == 0L)
    assert(m("chars_in").asInstanceOf[Long] > 0L)
    assert(kept > 0 && kept <= 500)
  }
}
