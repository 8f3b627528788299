package graft

import org.apache.spark.sql.functions._

import graft.operators.ScaleOps

/** Plan-level evidence for the cluster-scale join patterns: bucketed
  * joins must not shuffle at query time; salted joins must be
  * semantically identical to the plain join while splitting hot keys.
  */
class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed-bucketed join plans with no shuffle exchange") {
    val facts = (1L to 1000L).map(i => (i % 50, i, i * 2.0))
      .toDF("k", "id", "v")
    val dims = (0L until 50L).map(i => (i, s"name$i")).toDF("k", "name")
    // both sides bucketed and sorted on the join key with the same
    // bucket count: the shuffle is paid once, at write time
    facts.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("b_facts")
    dims.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("b_dims")
    // disable broadcast so the join would normally shuffle both sides
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table("b_facts").join(spark.table("b_dims"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == 1000L)
    }
    spark.sql("DROP TABLE IF EXISTS b_facts")
    spark.sql("DROP TABLE IF EXISTS b_dims")
  }

  test("partitioned layout: static pruning and DPP reach the scan") {
    val base = new java.io.File("target/spec-sources/part-events")
      .getAbsolutePath
    val ev = graft.sources.Tables.events(spark, sf001)
    // Hive-style layout: one directory per event_type value
    ev.write.mode("overwrite").partitionBy("event_type").parquet(base)
    val part = spark.read.parquet(base)

    // static: a literal filter on the partition column becomes a
    // PartitionFilters entry, never a post-scan Filter over all dirs
    val static = part.filter(col("event_type") === "click")
    val staticPlan = static.queryExecution.executedPlan.toString
    assert(staticPlan.contains("PartitionFilters") &&
      staticPlan.replaceAll("\\s+", " ")
        .matches(".*PartitionFilters:.*event_type.*click.*"),
      s"static partition filter missing:\n$staticPlan")
    assert(static.count() == ev.filter(col("event_type") === "click").count())

    // dynamic: joining on the partition column against a filtered dim
    // injects a dynamicpruning subquery into the fact scan
    // DPP wants a SELECTIVE dim predicate that survives optimization —
    // a LocalRelation gets constant-folded (filter disappears), so the
    // dim must be a real file-backed relation
    val dimPath = new java.io.File("target/spec-sources/part-dim")
      .getAbsolutePath
    Seq(("click", 1), ("purchase", 1), ("view", 2))
      .toDF("event_type", "grp")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val joined = part.join(dim.filter(col("grp") === 1), "event_type")
    val dppPlan = joined.queryExecution.executedPlan.toString
    assert(dppPlan.toLowerCase.contains("dynamicpruning"),
      s"expected dynamic partition pruning in:\n$dppPlan")
    assert(joined.count() ==
      ev.filter(col("event_type").isin("click", "purchase")).count())
  }

  private def withPartitions[T](n: Int)(body: => T): T =
    withConf("spark.sql.shuffle.partitions" -> n.toString)(body)

  test("distributedRank equals the single-partition global row_number") {
    import org.apache.spark.sql.expressions.Window
    val o = graft.sources.Tables.orders(spark, sf001)
      .select(col("o_orderkey"), col("o_totalprice"))
    val expected = o.withColumn("rk", row_number().over(
      Window.orderBy(col("o_totalprice"), col("o_orderkey"))).cast("long"))
      .select(col("o_orderkey"), col("rk"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val got = withPartitions(7)(ScaleOps.distributedRank(o,
      Seq(col("o_totalprice"), col("o_orderkey"))))
      .select(col("o_orderkey"), col("rk"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == expected)
    // ranks are a dense 1..n permutation
    assert(got.values.toSeq.sorted == (1L to got.size.toLong))
  }

  test("distributedRank property: matches global row_number on random frames") {
    import org.apache.spark.sql.expressions.Window
    val rng = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 50 + rng.nextInt(500)
      val parts = 1 + rng.nextInt(12)
      // duplicate-heavy value column to exercise ties across range
      // boundaries (the id tie-break must keep ranks deterministic)
      val data = (1 to n).map(i => (i.toLong, rng.nextInt(7).toLong))
      val df = data.toDF("id", "v").repartition(5)
      val ascending = rng.nextBoolean()
      val ord = if (ascending) Seq(col("v").asc, col("id").asc)
                else Seq(col("v").desc, col("id").asc)
      val expected = df.withColumn("rk",
        row_number().over(Window.orderBy(ord: _*)).cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      val got = withPartitions(parts)(ScaleOps.distributedRank(df, ord))
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      assert(got == expected,
        s"trial $trial (n=$n parts=$parts asc=$ascending) diverged")
    }
  }

  test("distributedRank plan keeps the frame out of a single partition") {
    val o = graft.sources.Tables.orders(spark, sf001)
      .select(col("o_orderkey"), col("o_totalprice"))
    val ranked = withPartitions(7)(ScaleOps.distributedRank(o,
      Seq(col("o_totalprice"), col("o_orderkey"))))
    // no window operator anywhere: ranks come from zipWithIndex over
    // the range-shuffled RDD, so there is nothing that could collapse
    // the frame to one task
    val plan = ranked.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("window"),
      s"expected a window-free plan:\n$plan")
    // the ranked RDD preserves the requested partition count and the
    // rows stay spread across partitions (no single-partition collapse)
    assert(ranked.rdd.getNumPartitions == 7)
    val perPart = ranked.rdd.mapPartitions(
      it => Iterator.single(it.size)).collect()
    assert(perPart.count(_ > 0) > 1,
      s"rows collapsed to one partition: ${perPart.toSeq}")
    // executes with correct min/max ends
    val rows = ranked.orderBy(col("rk")).collect()
    assert(rows.head.getAs[Long]("rk") == 1L)
    assert(rows.last.getAs[Long]("rk") == rows.length.toLong)
  }

  test("groupedRank property: matches per-group row_number and count") {
    import org.apache.spark.sql.expressions.Window
    val rng = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      val n = 50 + rng.nextInt(400)
      val parts = 1 + rng.nextInt(9)
      val nGroups = 1 + rng.nextInt(5)
      // ~1/4 of rows carry a NULL group key: a window partitioned by g
      // treats NULL as a normal partition, and the primitive must agree
      // (the r11 join-based form silently dropped null-keyed rows)
      val data = (1 to n).map { i =>
        val g: String =
          if (rng.nextInt(4) == 0) null else rng.nextInt(nGroups).toString
        (i.toLong, g, rng.nextInt(7).toLong)
      }
      val df = data.toDF("id", "g", "v").repartition(4)
      val ord = Seq(col("v").asc, col("id").asc)
      val w = Window.partitionBy(col("g")).orderBy(ord: _*)
      val expected = df
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("n_grp", count(lit(1)).over(
          Window.partitionBy(col("g"))))
        .collect().map(r => (r.getLong(0), (r.getLong(3), r.getLong(4))))
        .toMap
      val got = withPartitions(parts)(ScaleOps.groupedRank(df, Seq("g"), ord))
        .select(col("id"), col("rk"), col("n_grp"))
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
        .toMap
      assert(got == expected,
        s"trial $trial (n=$n groups=$nGroups parts=$parts) diverged")
    }
  }

  test("ntileOfRank property: matches SQL ntile bucket-for-bucket") {
    import org.apache.spark.sql.expressions.Window
    val rng = new scala.util.Random(11)
    // deterministic edge cases FIRST: n < k (base = 0 — every row its
    // own bucket, the greatest() guard's branch), n = k, k = 1; the
    // random draw below (n uniform in 1..300) almost never lands n < k
    val edges = Seq((3, 7), (5, 5), (17, 1))
    val trials = edges.map(Some(_)) ++ Seq.fill(6)(None)
    for ((fixed, trial) <- trials.zipWithIndex) {
      val n = fixed.map(_._1).getOrElse(1 + rng.nextInt(300))
      val k = fixed.map(_._2).getOrElse(1 + rng.nextInt(9))
      val data = (1 to n).map(i => (i.toLong, rng.nextInt(9).toLong))
      val df = data.toDF("id", "v").repartition(4)
      val ord = Seq(col("v").asc, col("id").asc)
      val expected = df.withColumn("b",
        ntile(k).over(Window.orderBy(ord: _*)).cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      val ranked = withPartitions(3)(ScaleOps.distributedRank(df, ord))
      val cnt = ranked.agg(count(lit(1)).as("n"))
      val got = ranked.crossJoin(broadcast(cnt))
        .select(col("id"),
          ScaleOps.ntileOfRank(col("rk"), col("n"), k).as("b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == expected, s"trial $trial (n=$n k=$k) diverged")
    }
  }

  test("groupedCumSum property: matches per-group running sum + row_number") {
    import org.apache.spark.sql.expressions.Window
    val rng = new scala.util.Random(23)
    for (trial <- 1 to 5) {
      val n = 40 + rng.nextInt(300)
      val parts = 1 + rng.nextInt(9)
      val nGroups = 1 + rng.nextInt(4)
      // null group keys must behave like a window's NULL partition
      val data = (1 to n).map { i =>
        val g: String =
          if (rng.nextInt(4) == 0) null else rng.nextInt(nGroups).toString
        (i.toLong, g, rng.nextInt(50).toLong)
      }
      val df = data.toDF("id", "g", "x").repartition(4)
      val ord = Seq(col("x").asc, col("id").asc)
      val wOrd = Window.partitionBy(col("g")).orderBy(ord: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val expected = df
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("g")).orderBy(ord: _*)).cast("long"))
        .withColumn("cum", sum(col("x")).over(wOrd))
        .collect().map(r => (r.getLong(0), (r.getLong(3), r.getLong(4))))
        .toMap
      val got = withPartitions(parts)(ScaleOps.groupedCumSum(df, Seq("g"), ord, "x"))
        .select(col("id"), col("rk"), col("cum"))
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
        .toMap
      assert(got == expected,
        s"trial $trial (n=$n groups=$nGroups parts=$parts) diverged")
    }
  }

  test("groupedFill property: matches per-group last(ignoreNulls) forward fill") {
    import org.apache.spark.sql.expressions.Window
    val rng = new scala.util.Random(31)
    for (trial <- 1 to 5) {
      val n = 40 + rng.nextInt(300)
      val parts = 1 + rng.nextInt(9)
      val nGroups = 1 + rng.nextInt(4)
      val data = (1 to n).map { i =>
        val v: java.lang.Long =
          if (rng.nextInt(3) == 0) null else java.lang.Long.valueOf(rng.nextInt(99).toLong)
        val g: String = // null group keys = a window's NULL partition
          if (rng.nextInt(4) == 0) null else rng.nextInt(nGroups).toString
        (i.toLong, g, v)
      }
      val df = data.toDF("id", "g", "v").repartition(4)
      val ord = Seq(col("id").asc)
      val w = Window.partitionBy(col("g")).orderBy(ord: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val expected = df
        .withColumn("f", last(col("v"), ignoreNulls = true).over(w))
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(3)) null else r.getLong(3))).toMap
      val got = withPartitions(parts)(ScaleOps.groupedFill(df, Seq("g"), ord, "v", "f"))
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(3)) null else r.getLong(3))).toMap
      assert(got == expected,
        s"trial $trial (n=$n groups=$nGroups parts=$parts) diverged")
    }
  }

  test("grouped primitives fail fast on an entity-grained group key") {
    // MaxGroupsPerPartition+1 distinct keys forced into ONE partition:
    // each primitive's offset pass must throw the named guard error
    // instead of collecting an entity-sized map to the driver (the
    // r11 contract was doc-comment-only). The primitives are eager —
    // the offset job runs at call time, so calling alone triggers it.
    val n = ScaleOps.MaxGroupsPerPartition + 1
    val df = spark.range(0, n, 1, 1)
      .select(col("id").as("g"), col("id").as("v"))
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    for ((label, run) <- Seq[(String, () => Unit)](
        ("groupedRank", () => ScaleOps.groupedRank(
          df, Seq("g"), Seq(col("v").asc))),
        ("groupedCumSum", () => ScaleOps.groupedCumSum(
          df, Seq("g"), Seq(col("v").asc), "v")),
        ("groupedFill", () => ScaleOps.groupedFill(
          df, Seq("g"), Seq(col("v").asc), "v", "f")))) {
      val e = intercept[Exception] { withPartitions(1)(run()) }
      assert(chain(e).exists(m =>
        m.contains("entity-grained") && m.contains(label)),
        s"$label: expected the bounded-group guard to fire, got: $e")
    }
  }

  test("the driver-side total cap catches entity keys spread over many partitions") {
    // MaxGroupsTotal+1 distinct keys over 32 partitions: each partition
    // holds ~31k groups — UNDER the executor-side per-partition cap —
    // but the driver's running total must abort the offset collect as
    // task results arrive (the many-partition regime the per-partition
    // cap cannot see). The guarded collector is shared by all three
    // grouped primitives, so one primitive suffices here.
    val n = ScaleOps.MaxGroupsTotal + 1
    val df = spark.range(0L, n, 1L, 32)
      .select(col("id").as("g"), col("id").as("v"))
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    val e = intercept[Exception] {
      withPartitions(32)(ScaleOps.groupedRank(df, Seq("g"), Seq(col("v").asc)))
    }
    assert(chain(e).exists(m =>
      m.contains("across all partitions") && m.contains("groupedRank")),
      s"expected the total-cap guard to fire, got: $e")
  }

  test("distributedCumSum property: matches global running sum + row_number") {
    import org.apache.spark.sql.expressions.Window
    val rng = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      val n = 30 + rng.nextInt(400)
      val parts = 1 + rng.nextInt(11)
      // tie-heavy order values: the id tie-break must make the walk
      // deterministic across range boundaries
      val data = (1 to n).map(i =>
        (i.toLong, rng.nextInt(5).toLong, rng.nextInt(1000).toLong))
      val df = data.toDF("id", "v", "x").repartition(5)
      val ascending = rng.nextBoolean()
      val ord = if (ascending) Seq(col("v").asc, col("id").asc)
                else Seq(col("v").desc, col("id").asc)
      val w = Window.orderBy(ord: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val expected = df
        .withColumn("rk", row_number().over(Window.orderBy(ord: _*))
          .cast("long"))
        .withColumn("cum", sum(col("x")).over(w))
        .collect().map(r => (r.getLong(0), (r.getLong(3), r.getLong(4))))
        .toMap
      val got = withPartitions(parts)(ScaleOps.distributedCumSum(df, ord, "x"))
        .collect().map(r => (r.getLong(0), (r.getLong(3), r.getLong(4))))
        .toMap
      assert(got == expected,
        s"trial $trial (n=$n parts=$parts asc=$ascending) diverged")
    }
  }

  test("distributedCumSum plan: window-free, frame spread over partitions") {
    val o = graft.sources.Tables.orders(spark, sf001)
      .select(col("o_orderkey"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("c"))
    val cum = withPartitions(7)(ScaleOps.distributedCumSum(o,
      Seq(col("c").desc, col("o_orderkey")), "c"))
    val plan = cum.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("window"),
      s"expected a window-free plan:\n$plan")
    assert(cum.rdd.getNumPartitions == 7)
    val perPart = cum.rdd.mapPartitions(
      it => Iterator.single(it.size)).collect()
    assert(perPart.count(_ > 0) > 1,
      s"rows collapsed to one partition: ${perPart.toSeq}")
    // the final inclusive cumsum equals the plain total
    val total = o.agg(sum(col("c"))).collect()(0).getLong(0)
    val rows = cum.orderBy(col("rk").desc).limit(1).collect()
    assert(rows(0).getAs[Long]("cum") == total)
  }

  test("zorder64 interleaves bits exactly (reference bit loop)") {
    def ref(x: Long, y: Long): Long = {
      var z = 0L
      for (k <- 0 until 32) {
        z |= ((x >>> k) & 1L) << (2 * k)
        z |= ((y >>> k) & 1L) << (2 * k + 1)
      }
      z
    }
    val rng = new scala.util.Random(42)
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (0xffffffffL, 0xffffffffL)) ++
      Seq.fill(200)((rng.nextLong().abs & 0xffffffffL, rng.nextLong().abs & 0xffffffffL))
    cases.foreach { case (x, y) =>
      assert(graft.functions.HashImpl.zorder64(x, y) == ref(x, y),
        s"zorder mismatch at ($x, $y)")
    }
  }

  test("zorder layout range-partitions by z and clusters both dimensions") {
    graft.functions.GraftFunctions.register(spark)
    val df = (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y))
      .toDF("x", "y")
      .withColumn("z", graft.functions.GraftFunctions.zorder64(col("x"), col("y")))
    val laid = df.repartitionByRange(8, col("z")).sortWithinPartitions("z")
    val plan = laid.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"),
      s"zorder layout must range-partition:\n$plan")
    assert(laid.count() == 64L * 64L)
    // the layout property q53's key exists for: every ALIGNED chunk of
    // 512 consecutive z values is an exact quadtree block, its bounding
    // box <= 32x16 in (x, y), so a file sorted on z keeps row-group
    // min/max stats tight on EITHER dimension (a linear sort on x
    // leaves y's chunk spread at the full 64)
    val spreads = df
      .withColumn("chunk", expr("z div 512"))
      .groupBy("chunk")
      .agg((max(col("x")) - min(col("x"))).as("sx"),
        (max(col("y")) - min(col("y"))).as("sy"))
      .collect()
    assert(spreads.length == 8)
    spreads.foreach { r =>
      assert(r.getAs[Long]("sx") <= 31 && r.getAs[Long]("sy") <= 31,
        s"chunk ${r.getAs[Long]("chunk")} spread too wide: $r")
    }
  }

  test("mergeApply: delete drops, update replaces, insert appends; base side broadcast-anti") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "v")
    val changes = Seq((2L, "U", "B2"), (3L, "D", null.asInstanceOf[String]),
      (9L, "U", "n")).toDF("doc_id", "op", "v")
    val out = graft.operators.Relational.mergeApply(base, changes).orderBy("doc_id")
    assert(out.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "B2"), (9L, "n")))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"merge must anti-join against a broadcast key set:\n$plan")
  }

  test("profile: counts/distinct/min/max/sum per column, nulls handled") {
    val df = Seq(
      (Some(1.0), Some(10.0)), (Some(2.5), None),
      (Some(1.0), Some(30.0)), (None, Some(10.0)))
      .toDF("a", "b")
    val out = graft.operators.Relational.profile(df, Seq("a", "b"))
      .collect().map(r => r.getString(0) -> r).toMap
    val a = out("a")
    assert(a.getAs[Long]("n_rows") == 4L && a.getAs[Long]("n_null") == 1L)
    assert(a.getAs[Long]("n_distinct") == 2L) // nulls excluded
    assert(a.getAs[Double]("min_v") == 1.0 && a.getAs[Double]("max_v") == 2.5)
    assert(a.getAs[Double]("sum_v") == 4.5)
    val b = out("b")
    assert(b.getAs[Long]("n_distinct") == 2L &&
      b.getAs[Double]("sum_v") == 50.0)
  }

  test("incremental partials: any batch split merges to the full recompute") {
    val ev = Seq(
      (1L, "a", Some(1.25)), (2L, "a", Some(2.5)), (3L, "a", None),
      (4L, "b", Some(-7.0)), (5L, "b", Some(0.125)), (6L, "a", Some(9.0)))
      .toDF("event_id", "event_type", "value")
    import graft.operators.Relational.{aggPartials, mergePartials, finalizePartials}
    val full = finalizePartials(
      mergePartials(aggPartials(ev.limit(0)), aggPartials(ev)))
    // split three ways, merged as a lopsided TREE (merge output fed
    // back in as a partial) — must equal the one-shot recompute
    val split = finalizePartials(mergePartials(
      mergePartials(
        aggPartials(ev.filter($"event_id" <= 2)),
        aggPartials(ev.filter($"event_id" > 2 && $"event_id" <= 4))),
      aggPartials(ev.filter($"event_id" > 4))))
    assert(split.collect().toSeq == full.collect().toSeq)
    val a = split.collect().find(_.getString(0) == "a").get
    assert(a.getAs[Long]("cnt") == 4L && a.getAs[Long]("n_null") == 1L)
    assert(a.getAs[Double]("sum_v") == 12.75)
  }

  test("runtime bloom filter: a selective dim filter injects a bloom probe into the fact side") {
    // Catalyst's InjectRuntimeFilter: when a shuffle join's small side
    // is selectively filtered, the big side's scan gets a
    // bloom-might-contain probe built from the small side — the
    // runtime semi-join reduction that matters at 100 TB (rows that
    // can't match die at the scan, before the exchange). Thresholds
    // are floored to force it at fixture scale; broadcast is disabled
    // so the join actually shuffles.
    withConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // creationSideThreshold is a MAX (creation side must be small);
      // applicationSideScanSizeThreshold is a MIN (probe side must be
      // big — floor it so the fixture-scale fact side qualifies)
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val li = graft.sources.Tables.lineitem(spark, sf001)
      val urgent = graft.sources.Tables.orders(spark, sf001)
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      val optimized = j.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain") ||
        optimized.contains("bloom_filter"),
        s"no bloom runtime filter injected:\n${optimized.take(3000)}")
      val withBloom = j.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // semantics unchanged vs the un-filtered plan
      withConf("spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false") {
        val plain = li.join(urgent, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(withBloom == plain, s"$withBloom vs $plain")
      }
    }
  }
}
