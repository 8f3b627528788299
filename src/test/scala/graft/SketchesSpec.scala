package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Sketches, TextAnalysis}
import graft.sources.Tables

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  test("CMS estimate upper-bounds the exact count and stays tight") {
    val docs = Tables.documents(spark, sf001)
    val out = Sketches.cmsHeavyHitters(spark, docs).collect()
    val vocab = docs
      .select(explode(graft.functions.TextFunctions.wsTokens(col("text"))).as("t"))
      .agg(countDistinct(col("t"))).head().getLong(0)
    assert(out.length == math.min(50L, vocab))
    val totalTokens = Tables.documents(spark, sf001)
      .select(sum(graft.functions.TextFunctions.tokenCountWs(col("text"))))
      .head().getLong(0)
    out.foreach { r =>
      val (cnt, est) = (r.getLong(1), r.getLong(2))
      assert(est >= cnt, s"CMS must never undercount: ${r}")
      // one-sided error bound: overcount <= e*N/width w.h.p. (depth 4)
      assert(est - cnt <= math.ceil(math.E * totalTokens / 1024).toLong,
        s"CMS overcount beyond the e*N/w bound: ${r} (N=$totalTokens)")
    }
  }

  test("HLL estimate lands within 4 sigma of the exact distinct count") {
    val li = Tables.lineitem(spark, sf001)
    val p = Sketches.HllP
    val sigma = 1.04 / math.sqrt((1 << p).toDouble)
    val rows = Sketches.hllDistinct(li, "l_orderkey", "l_returnflag")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getAs[Long]("n_exact").toDouble
      val est = r.getAs[Double]("hll_est")
      // raw-estimate regime: the fixture keeps n >> 2.5m so no
      // linear-counting correction is needed
      assert(exact > 2.5 * (1 << p), s"fixture left the raw regime: $r")
      assert(math.abs(est - exact) / exact <= 4 * sigma,
        s"HLL est $est vs exact $exact beyond 4 sigma ($sigma): $r")
    }
  }

  test("HLL registers max-merge: halves combine to the whole estimate") {
    val li = Tables.lineitem(spark, sf001)
    val Array(h1, h2) = li.randomSplit(Array(0.5, 0.5), seed = 11)
    // the sketch state is (bucket -> max rho); rebuilding it from the
    // union of the halves' inputs must equal max-merging their register
    // tables — which is exactly what hllDistinct's groupBy(max) does on
    // the unioned input, so the two estimates must be identical
    val whole = Sketches.hllDistinct(li, "l_orderkey", "l_returnflag")
      .select("grp", "hll_est").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val merged = Sketches.hllDistinct(h1.union(h2), "l_orderkey", "l_returnflag")
      .select("grp", "hll_est").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(whole == merged)
  }

  test("tfidf ranks a doc's distinctive term above corpus-wide terms") {
    val docs = Seq(
      (1L, "common words plus zebra zebra", "s"),
      (2L, "common words plus other stuff", "s"),
      (3L, "common words plus more stuff", "s"))
      .toDF("doc_id", "text", "source")
    val top1 = TextAnalysis.tfidfTerms(docs)
      .filter(col("doc_id") === 1L && col("rk") === 1L).head()
    assert(top1.getAs[String]("term") == "zebra")
  }

  test("stratified sample keeps exactly min(quota, stratum size) rows") {
    val docs = Tables.documents(spark, sf001)
    val quotas = QueryHelpers.stratifiedQuotas.toDF("source", "quota")
    val kept = TextAnalysis.stratifiedSample(docs, quotas)
      .groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sizes = docs.groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val quotaMap = QueryHelpers.stratifiedQuotas.toMap
    sizes.foreach { case (src, n) =>
      assert(kept(src) == math.min(quotaMap(src), n),
        s"stratum $src: kept ${kept(src)}, want min(${quotaMap(src)}, $n)")
    }
    // the fixture must exercise BOTH branches of the min
    assert(sizes.exists { case (s, n) => n > quotaMap(s) })
    assert(sizes.exists { case (s, n) => n <= quotaMap(s) })
  }

  test("histogram quantiles land within one bin width of the exact order statistic") {
    val li = Tables.lineitem(spark, sf001)
    val width = Sketches.HistWidth
    val got = Sketches.histogramQuantiles(li, "l_extendedprice", "l_returnflag")
      .collect().map(r => r.getString(0) -> r).toMap
    val exact = li.groupBy("l_returnflag")
      .agg(expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.95))").as("ps"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    exact.foreach { case (flag, ps) =>
      val row = got(flag)
      Seq("p25", "p50", "p75", "p95").zip(ps).foreach { case (cname, ex) =>
        val est = row.getAs[Double](cname)
        assert(est >= ex - width && est <= ex + width,
          s"$flag/$cname: est $est vs exact $ex exceeds one width")
      }
    }
  }

  test("histogram sketch is mergeable: halves combine to the whole") {
    // the sketch state is bin counts; splitting the input and adding
    // counts must reproduce the single-pass result exactly
    val li = Tables.lineitem(spark, sf001)
    val Array(h1, h2) = li.randomSplit(Array(0.5, 0.5), seed = 7)
    def binCounts(df: DataFrame) = df
      .groupBy(col("l_returnflag"),
        floor(col("l_extendedprice") / Sketches.HistWidth).cast("long").as("bin"))
      .agg(count(lit(1)).as("cnt"))
    val merged = binCounts(h1).union(binCounts(h2))
      .groupBy("l_returnflag", "bin").agg(sum("cnt").as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val whole = binCounts(li)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == whole)
  }

  test("bloom prefilter: no false negatives, exact result at any size") {
    val cust = Tables.customer(spark, sf001)
    val urgent = Tables.orders(spark, sf001)
      .filter(col("o_orderpriority") === "1-URGENT")
    val truth = cust
      .join(urgent.select(col("o_custkey").as("c_custkey")).distinct(),
        Seq("c_custkey"), "left_semi")
      .select("c_custkey").collect().map(_.getLong(0)).toSet

    def probe(big: DataFrame, bigKey: String, dim: DataFrame, dimKey: String,
              m: Int, k: Int) = {
      val bits = Sketches.bloomBits(dim, dimKey, m, k)
      big.filter(Sketches.bloomMightContain(bits, m, k, col(bigKey)))
        .select(bigKey).collect().map(_.getLong(0)).toSet
    }
    // no false negatives: every true key passes the probe
    val probed = probe(cust, "c_custkey", urgent, "o_custkey",
      Sketches.BloomBits, Sketches.BloomK)
    assert(truth.subsetOf(probed), "bloom dropped a true key")

    // FP rate sanity at the operator's size
    val nCust = cust.count().toDouble
    val fpObserved = (probed.size - truth.size) / math.max(1.0, nCust - truth.size)
    assert(fpObserved < 0.05, s"fp rate $fpObserved out of bounds")

    // a deliberately tiny sketch floods FPs, keeping no true key out
    val tiny = probe(cust, "c_custkey", urgent, "o_custkey", 256, 2)
    assert(truth.subsetOf(tiny) && tiny.size > probed.size, "tiny sketch must flood FPs")

    // the closing exact semi join makes the composed operator
    // byte-identical to plain semi join even where the operator's own
    // filter floods: 20k dim keys set most of its BloomBits bits, so
    // (1 - e^{-kn/m})^k ≈ 0.79 of the 40k non-member keys pass the probe
    val dimKeys = spark.range(0, 60000, 3).select(col("id").as("dk"))
    val bigKeys = spark.range(0, 60000).select(col("id").as("bk"))
    val bigTruth = (0L until 60000L by 3).toSet
    val flooded = probe(bigKeys, "bk", dimKeys, "dk", Sketches.BloomBits, Sketches.BloomK)
    assert(bigTruth.subsetOf(flooded) && flooded.size > bigTruth.size,
      s"the operator's filter must pass false positives here: ${flooded.size}")
    val composed = Sketches.bloomSemiJoin(bigKeys, dimKeys, "bk", "dk")
      .collect().map(_.getLong(0)).toSet
    assert(composed == bigTruth)
  }

  test("stratified sample is reshuffle-stable (content-addressed)") {
    val docs = Tables.documents(spark, sf001)
    val quotas = QueryHelpers.stratifiedQuotas.toDF("source", "quota")
    val a = TextAnalysis.stratifiedSample(docs, quotas)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = TextAnalysis.stratifiedSample(docs.repartition(13), quotas)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("weighted sample: rate tracks weight, reshuffle-stable") {
    val docs = Tables.documents(spark, sf001)
    val weights = QueryHelpers.sampleWeights.toDF("source", "w")
    val n = 200
    val sample = TextAnalysis.weightedSample(docs, weights, n)
    val rates = sample.groupBy("w").agg(count(lit(1)).as("picked"))
      .join(docs.join(weights, "source").groupBy("w")
        .agg(count(lit(1)).as("pop")), "w")
      .collect()
      .map(r => r.getAs[Long]("w") ->
        r.getAs[Long]("picked").toDouble / r.getAs[Long]("pop"))
      .toMap
    // E-S inclusion probability is monotone in weight; with 500 docs
    // and n=200 the w=4 rate must clearly dominate w=1
    assert(rates(4L) > rates(2L) && rates(2L) > rates(1L), s"rates=$rates")
    // content-addressed keys: the exact same ids under reshuffle
    val a = sample.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = TextAnalysis.weightedSample(docs.repartition(13), weights, n)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("KMV overlap: estimates track exact jaccard and union size") {
    val docs = Tables.documents(spark, sf001)
    val k = Sketches.KmvK
    val rows = Sketches.kmvSourceOverlap(spark, docs).collect()
    // 20 sources -> 190 ordered pairs, every one present
    assert(rows.length == 190)
    // fixture-scale ground truth computed once on the driver
    val bySource = docs
      .select(col("source"),
        explode(graft.functions.TextFunctions.wsTokens(col("text"))).as("t"))
      .distinct().collect()
      .groupBy(_.getString(0)).map { case (s, rs) =>
        s -> rs.map(_.getString(1)).toSet
      }
    rows.foreach { r =>
      val (kk, est, exact, estU) = (r.getAs[Long]("kk"),
        r.getAs[Double]("est_jaccard"), r.getAs[Double]("exact_jaccard"),
        r.getAs[Double]("est_union"))
      val (sa, sb) = (bySource(r.getString(0)), bySource(r.getString(1)))
      val nUnion = sa.union(sb).size.toDouble
      // sources below k distinct tokens carry their COMPLETE hash set,
      // so the merged sketch tops out at |A ∪ B| (hash collisions could
      // in principle shrink it further, hence <=)
      assert(kk <= math.min(k.toLong, nUnion.toLong),
        s"merged sketch exceeded min(k, |union|): $r")
      assert(kk > 0, s"empty merged sketch: $r")
      // KMV jaccard has sd ~ sqrt(J(1-J)/k) <= 0.063; allow 4 sigma
      assert(math.abs(est - exact) <= 0.25, s"jaccard estimate off: $r")
      val exactJ = sa.intersect(sb).size.toDouble / nUnion
      assert(math.abs(exact - exactJ) < 1e-12,
        s"operator's exact column disagrees with driver recompute: $r")
      // KMV cardinality relative sd ~ 1/sqrt(k-2) ~ 0.13; allow ~4.5x
      assert(math.abs(estU - nUnion) / nUnion <= 0.6,
        s"union estimate off: est=$estU exact=$nUnion $r")
    }
  }

  test("KMV sketch rows per source never exceed k regardless of corpus") {
    // the scale contract: after the sketch stage only |sources|*k rows
    // survive — verified through the public output on sources holding
    // twice k distinct tokens each, where every pair's merged sketch
    // is cut to exactly k
    val k = Sketches.KmvK
    val docs = Seq("a", "b", "c").zipWithIndex.map { case (src, i) =>
      (i.toLong, (0 until 2 * k).map(j => s"t${i * k + j}").mkString(" "), src)
    }.toDF("doc_id", "text", "source")
    val out = Sketches.kmvSourceOverlap(spark, docs).collect()
    assert(out.length == 3 && out.forall(_.getAs[Long]("kk") == k), out.toSeq)
  }

  test("SpaceSaving: exact regime equals full counts; approximate regime keeps its bounds") {
    import graft.functions.Aggregators.{SpaceSavingTopK, SSBuf}
    // local harness: fold a token stream through reduce, split into
    // random partitions, merge — the exact path Spark executes
    val rnd = new scala.util.Random(7)
    def sketch(tokens: Seq[String], capacity: Int, parts: Int): Seq[(String, Long, Long)] = {
      val agg = new SpaceSavingTopK(capacity)
      val partitioned = tokens.grouped(math.max(1, tokens.size / parts)).toSeq
      val bufs = partitioned.map(p => p.foldLeft(agg.zero)(agg.reduce))
      val merged = bufs.reduce(agg.merge)
      agg.finish(merged).map(e => (e.token, e.cnt, e.err))
    }
    // zipfian-ish stream: token i appears ~ 200/i times
    val stream = rnd.shuffle(
      (1 to 40).flatMap(i => Seq.fill(200 / i)(s"t$i")).toVector)
    val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap

    // exact regime: capacity >= distinct — all errors 0, counts exact
    val exact = sketch(stream, capacity = 64, parts = 4)
    assert(exact.forall(_._3 == 0L))
    assert(exact.map(e => e._1 -> e._2).toMap == truth)

    // approximate regime, several partitionings: est in [true, true+err];
    // every token with freq > n/capacity present
    for (parts <- Seq(1, 3, 8)) {
      val approx = sketch(stream, capacity = 8, parts = parts)
      approx.foreach { case (tok, cnt, err) =>
        val t = truth.getOrElse(tok, 0L)
        assert(cnt >= t, s"$tok: est $cnt < true $t")
        assert(cnt - err <= t, s"$tok: est-err ${cnt - err} > true $t")
      }
      val n = stream.size.toLong
      val mustHave = truth.filter(_._2 > n / 8).keySet
      val present = approx.map(_._1).toSet
      assert(mustHave.subsetOf(present),
        s"heavy hitters ${mustHave -- present} missing at parts=$parts")
    }
  }

  test("q126: per-source top tokens through Spark match an exact recount") {
    val out = Sketches.spaceSavingTopTokens(
      spark, Tables.documents(spark, sf001)).collect()
    assert(out.nonEmpty && out.forall(_.getAs[Long]("err") == 0L))
    // rank-1 token per source really is the most frequent
    val docs = Tables.documents(spark, sf001)
      .select(col("source"), explode(split(lower(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("source", "tok").count().collect()
      .groupBy(_.getString(0))
    out.filter(_.getAs[Long]("rank") == 1L).foreach { r =>
      val src = r.getString(0)
      val best = docs(src).map(x => (x.getString(1), x.getAs[Long](2)))
        .maxBy { case (t, c) => (c, StringRevOrd(t)) }
      assert(r.getAs[Long]("cnt") == best._2,
        s"$src: rank-1 cnt ${r.getAs[Long]("cnt")} vs true max ${best._2}")
    }
  }

  private case class StringRevOrd(s: String) extends Ordered[StringRevOrd] {
    override def compare(that: StringRevOrd): Int = that.s.compareTo(s)
  }

  test("HLL rollup: merged-register ALL estimate is bit-identical to the direct union sketch") {
    val li = Tables.lineitem(spark, sf001)
    val rolled = Sketches.hllDistinctRollup(li, "l_orderkey", "l_returnflag")
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getDouble(3))).toMap
    // direct union sketch: same keys under ONE constant group
    val direct = Sketches.hllDistinct(
      li.withColumn("g", lit("ALL")), "l_orderkey", "g")
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(rolled("ALL") == direct("ALL"),
      s"max-merged registers must reproduce the direct union sketch: " +
        s"${rolled("ALL")} vs ${direct("ALL")}")
    // per-group levels match plain hllDistinct
    val per = Sketches.hllDistinct(li, "l_orderkey", "l_returnflag")
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getDouble(3))).toMap
    per.foreach { case (g, v) => assert(rolled(g) == v, s"group $g drifted") }
  }

  test("MRL quantiles: exact regime is quantile_disc; approximate regime bounds rank error") {
    import graft.functions.Aggregators.MrlQuantiles
    val probs = Seq(0.25, 0.5, 0.75, 0.95)
    def sketch(xs: Seq[Double], k: Int, parts: Int): Seq[Double] = {
      val agg = new MrlQuantiles(k, probs)
      val partitioned = xs.grouped(math.max(1, xs.size / parts)).toSeq
      val bufs = partitioned.map(p =>
        p.foldLeft(agg.zero)((b, x) => agg.reduce(b, x)))
      agg.finish(bufs.reduce(agg.merge))
    }
    def quantileDisc(sorted: Vector[Double], q: Double): Double =
      sorted(math.max(0L, math.ceil(q * sorted.length).toLong - 1L).toInt)

    // exact regime: n < 2k, any partitioning → definitional quantile_disc
    val rnd = new scala.util.Random(11)
    val small = Vector.fill(100)(rnd.nextDouble() * 1000)
    val smallSorted = small.sorted
    for (parts <- Seq(1, 3, 7)) {
      val got = sketch(small, k = 64, parts = parts)
      assert(got == probs.map(quantileDisc(smallSorted, _)),
        s"exact regime diverged at parts=$parts")
    }

    // approximate regime: N=4096 at k=64 → L ≈ log2(N/k)+1 levels;
    // assert observed rank error ≤ N·L/(2k) for sorted-asc,
    // sorted-desc, and shuffled inputs under several partitionings
    val big = Vector.tabulate(4096)(i => i.toDouble)
    val bound = {
      val lvls = (math.log(4096.0 / 64) / math.log(2)).ceil + 1
      (4096 * lvls / (2 * 64)).toLong   // = 224 ranks ≈ 5.5 %
    }
    for (input <- Seq(big, big.reverse, rnd.shuffle(big));
         parts <- Seq(1, 4, 16)) {
      val got = sketch(input, k = 64, parts = parts)
      probs.zip(got).foreach { case (q, v) =>
        val trueRank = math.max(0L, math.ceil(q * 4096).toLong - 1L)
        val gotRank = v.toLong // values ARE their ranks by construction
        assert(math.abs(gotRank - trueRank) <= bound,
          s"q=$q parts=$parts: rank ${gotRank} vs $trueRank (bound $bound)")
      }
    }
  }

  test("q128: per-customer quantiles through Spark stay in the exact regime") {
    val out = Sketches.mrlQuantilesPerCustomer(
      spark, Tables.orders(spark, sf001)).collect()
    assert(out.nonEmpty)
    // monotone p25 <= p50 <= p75 <= p95, and all are real order values
    out.foreach { r =>
      val (a, b, c, d) = (r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))
      assert(a <= b && b <= c && c <= d, s"non-monotone quantiles: $r")
    }
    // spot-check one customer against a direct sort
    val ck = out.head.getLong(0)
    val vals = Tables.orders(spark, sf001)
      .filter(col("o_custkey") === ck)
      .select(col("o_totalprice").cast("double")).collect()
      .map(_.getDouble(0)).sorted.toVector
    def qd(q: Double) =
      vals(math.max(0L, math.ceil(q * vals.length).toLong - 1L).toInt)
    assert(out.head.getDouble(3) == qd(0.5) && out.head.getDouble(5) == qd(0.95))
  }
}
