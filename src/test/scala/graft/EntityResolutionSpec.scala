package graft

import org.apache.spark.sql.functions._

import graft.operators.{EntityResolution, Relational}
import graft.sources.Tables

class EntityResolutionSpec extends SparkSpec {

  test("q121: one best supplier per customer, deterministic") {
    val out = EntityResolution.linkCustomersToSuppliers(
      Tables.customer(spark, sf001), Tables.supplier(spark, sf001))
    // one row per customer that had >= 1 candidate (at sf0.001 only
    // half do: 10 suppliers cover 10 nations / 10 digit suffixes)
    val nCust = Tables.customer(spark, sf001).count()
    assert(out.count() > 0 && out.count() <= nCust)
    assert(out.groupBy("c_custkey").count().filter(col("count") > 1).count() == 0)
    // deterministic across runs
    val again = EntityResolution.linkCustomersToSuppliers(
      Tables.customer(spark, sf001), Tables.supplier(spark, sf001))
    assert(out.exceptAll(again).count() == 0 && again.exceptAll(out).count() == 0)
  }

  test("q121: the kept match maximizes the score over all candidates") {
    // Re-derive every scored candidate for a handful of customers and
    // check the operator kept the argmax (tie-break: lowest suppkey).
    val cust = Tables.customer(spark, sf001).filter(col("c_custkey") < 5)
    val supp = Tables.supplier(spark, sf001)
    val out = EntityResolution.linkCustomersToSuppliers(cust, supp)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap

    val c = cust.select("c_custkey", "c_nationkey", "c_name", "c_acctbal").collect()
    val s = supp.select("s_suppkey", "s_nationkey", "s_name", "s_acctbal").collect()
    def digits(n: String) = n.dropWhile(!_.isDigit).takeWhile(_.isDigit)
    def tg(d: String) = (1 to math.max(d.length - 2, 1))
      .map(i => d.slice(i - 1, i + 2)).distinct.toSet
    for (cr <- c) {
      val ck = cr.getLong(0)
      val cd = digits(cr.getString(2))
      val cands = s.filter { sr =>
        sr.getInt(1) == cr.getInt(1) ||
          digits(sr.getString(2)).takeRight(2) == cd.takeRight(2)
      }
      assert(cands.nonEmpty)
      val best = cands.map { sr =>
        val sd = digits(sr.getString(2))
        val inter = (tg(cd) & tg(sd)).size.toDouble
        val uni = tg(cd).size + tg(sd).size - inter
        val jac = if (uni > 0) inter / uni else 0.0
        val bal = 1.0 / (1.0 + math.abs(cr.getDouble(3) - sr.getDouble(3)))
        (sr.getLong(0), 0.7 * jac + 0.3 * bal)
      }.minBy { case (k, sc) => (-sc, k) }
      assert(out(ck)._1 == best._1, s"customer $ck")
    }
  }

  test("q121: block-size cap drops hot blocks instead of exploding them") {
    import spark.implicits._
    // n customers share nation 1 with supplier 1; every digit-suffix
    // block holds about n/100 of them. Supplier 2 (nation 2, suffix
    // "02") has two customers of its own nation, suffixes "50"/"51".
    def link(n: Int) = {
      val cust = ((1 to n).map(i => (i.toLong, 1, f"Customer#$i%09d", 0.0)) ++
          Seq((20050L, 2, "Customer#000020050", 0.0), (20051L, 2, "Customer#000020051", 0.0)))
        .toDF("c_custkey", "c_nationkey", "c_name", "c_acctbal")
      val supp = Seq((1L, 1, "Supplier#000000001", 0.0), (2L, 2, "Supplier#000000002", 0.0))
        .toDF("s_suppkey", "s_nationkey", "s_name", "s_acctbal")
      EntityResolution.linkCustomersToSuppliers(cust, supp)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val cap = EntityResolution.MaxBlockSize
    // at the cap the nation block is linked whole
    val atCap = link(cap)
    assert(atCap.size == cap + 2)
    // one customer past it the nation-1 block is dropped: its customers
    // link only through the suffix blocks "01" and "02", while the
    // small nation-2 block still links
    val over = link(cap + 1)
    val viaSuffix = (1 to cap + 1).filter(i => i % 100 == 1 || i % 100 == 2)
    assert(over.keySet == viaSuffix.map(_.toLong).toSet ++ Set(20050L, 20051L), over.size)
    assert(over(20050L) == 2L && over(20051L) == 2L)
  }

  test("q122: SCD2 intervals are contiguous, versioned, single-current") {
    val out = Relational.scd2History(Tables.orders(spark, sf001)).cache()
    // exactly one open (current) interval per customer
    val open = out.filter(col("is_current"))
      .groupBy("o_custkey").count().filter(col("count") =!= 1)
    assert(open.count() == 0)
    // valid_to of version k equals valid_from of version k+1
    val a = out.select(col("o_custkey"), col("version"), col("valid_to_ts"))
    val b = out.select(col("o_custkey"),
      (col("version") - 1).as("version"), col("valid_from_ts"))
    val joined = a.join(b, Seq("o_custkey", "version"))
    assert(joined.filter(col("valid_to_ts") =!= col("valid_from_ts")).count() == 0)
    // no two consecutive versions share a status (they are change points)
    val s1 = out.select(col("o_custkey"), col("version"), col("status"))
    val s2 = out.select(col("o_custkey"),
      (col("version") - 1).as("version"), col("status").as("next_status"))
    val consec = s1.join(s2, Seq("o_custkey", "version"))
    assert(consec.filter(col("status") === col("next_status")).count() == 0)
    out.unpersist()
  }

  test("q146 golden records: survivorship collapses variant groups; singletons pass through") {
    import spark.implicits._
    // custkey 77 is divisible by 7 AND 11 → base + 2 variants;
    // custkey 3 divides neither → singleton
    val cust = Seq(
      (77L, "Customer#000000077", 5L, 100.0, "BUILDING"),
      (3L, "Customer#000000003", 9L, 55.5, "MACHINERY"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val out = EntityResolution.goldenRecords(cust).collect()
      .map(r => r.getLong(0) -> r).toMap
    // golden_id = min rec_id of the cluster; rec_id = custkey*4 +
    // variant (the collision-free r12 scheme), so base records carry
    // custkey*4
    assert(out.keySet == Set(12L, 308L), s"golden ids: ${out.keySet}")
    val g = out(308L)
    assert(g.getLong(4) == 3L, s"3 members expected: $g")
    // canonical name from the min rec_id (the base record)
    assert(g.getString(1) == "Customer#000000077")
    // best balance: base 100.0 vs +0.17 variant vs -5.25 variant
    assert(math.abs(g.getDouble(2) - 100.17) < 1e-9, s"max bal: $g")
    // segment mode: {BUILDING, BUILDING, UNKNOWN} → BUILDING
    assert(g.getString(3) == "BUILDING")
    val s = out(12L)
    assert(s.getLong(4) == 1L && s.getString(1) == "Customer#000000003" &&
      s.getString(3) == "MACHINERY")
  }

  test("q147 hybrid RRF: a doc that tops both rankings is fused rank 1; ranks dense, rrf descending") {
    val out = graft.operators.TextAnalysis.hybridRrf(spark,
      Tables.documents(spark, sf001), Tables.embeddings(spark, sf001),
      SparkEntry.bm25Queries)
      .collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.keySet == SparkEntry.bm25Queries.map(_._1).toSet)
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to rows.length),
        "ranks dense per query")
      val rrfs = sorted.map(_.getDouble(5)).toSeq
      assert(rrfs.zip(rrfs.tail).forall { case (a, b) => a >= b },
        s"rrf must be non-increasing: $rrfs")
      // every fused doc carries at least one source rank, and any doc
      // present in BOTH rankings outscores a same-rank single-source doc
      sorted.foreach { r =>
        assert(!r.isNullAt(3) || !r.isNullAt(4), s"orphan fused row: $r")
      }
    }
  }
}
