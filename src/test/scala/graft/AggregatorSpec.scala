package graft

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._

import graft.functions.Aggregators

class AggregatorSpec extends SparkSpec {
  import spark.implicits._

  test("RevenueAggregator (the reference's init/adder pair) == built-in sum") {
    val revenue = udaf(Aggregators.RevenueAggregator,
      Encoders.product[Aggregators.QtyPrice])
    val df = Seq((2.0, 300.0), (100.0, 31.0), (1.0, 0.5))
      .toDF("quantity", "price")
    val r = df.agg(
      revenue(col("quantity"), col("price")).as("custom"),
      sum(col("quantity") * col("price")).as("builtin")).head
    assert(r.getDouble(0) == r.getDouble(1))
    assert(r.getDouble(0) == 2.0 * 300.0 + 100.0 * 31.0 + 0.5)
  }

  test("WelfordVariance matches var_samp across partitions") {
    val welford = udaf(Aggregators.WelfordVariance, Encoders.scalaDouble)
    val df = (1 to 1000).map(_.toDouble * 1.7).toDF("x").repartition(7)
    val r = df.agg(
      welford(col("x")).as("custom"),
      var_samp(col("x")).as("builtin")).head
    assert(math.abs(r.getDouble(0) - r.getDouble(1)) /
      math.abs(r.getDouble(1)) < 1e-12)
  }

  test("aggregators respect groupBy partial/final split") {
    val revenue = udaf(Aggregators.RevenueAggregator,
      Encoders.product[Aggregators.QtyPrice])
    val df = Seq(("a", 2.0, 10.0), ("a", 3.0, 10.0), ("b", 1.0, 5.0))
      .toDF("k", "quantity", "price").repartition(4)
    val out = df.groupBy("k").agg(revenue(col("quantity"), col("price")).as("rev"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out == Map("a" -> 50.0, "b" -> 5.0))
  }

  test("VectorSum folds element-wise across partitions") {
    val vecSum = udaf(Aggregators.VectorSum)
    val df = Seq(Seq(1.0, 2.0, 3.0), Seq(10.0, 20.0, 30.0),
      Seq(100.0, 200.0, 300.0)).toDF("v").repartition(5)
    val r = df.agg(vecSum(col("v"))).head.getSeq[Double](0)
    assert(r == Seq(111.0, 222.0, 333.0))
  }

  test("dim correlation ranks a planted perfectly-correlated pair first") {
    // dim1 = 2*dim0 (corr 1); the remaining dims are seeded noise
    val rng = new scala.util.Random(3)
    val rows = (1 to 200).map { i =>
      val x = i.toFloat
      (i.toLong, Array(x, 2 * x) ++ Array.fill(graft.operators.Similarity.Dim - 2)(rng.nextFloat()))
    }
    val df = rows.toDF("vec_id", "embedding")
    val top = graft.operators.Similarity.dimCorrelationTopK(spark, df)
      .filter(col("rank") === 1).head
    assert((top.getLong(0), top.getLong(1)) == ((0L, 1L)))
    assert(math.abs(top.getDouble(2) - 1.0) < 1e-9)
  }
}
