package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.operators.Similarity
import graft.sources.Tables

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine_sim expression matches hand-computed value") {
    GraftFunctions.register(spark)
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b")
    val got = df.select(GraftFunctions.cosineSim(col("a"), col("b"))).head.getDouble(0)
    val expected = (4.0 + 10.0 + 18.0) /
      (math.sqrt(1 + 4 + 9) * math.sqrt(16 + 25 + 36))
    assert(math.abs(got - expected) < 1e-12)
  }

  test("cosine_sim: zero vector yields 0.0, not NaN") {
    GraftFunctions.register(spark)
    val df = Seq((Array(0.0f, 0.0f), Array(1.0f, 2.0f))).toDF("a", "b")
    assert(df.select(GraftFunctions.cosineSim(col("a"), col("b"))).head.getDouble(0) == 0.0)
  }

  test("brute-force top-k: ranks are dense, self excluded, scores descending") {
    val emb = Tables.embeddings(spark, sf001)
    val out = Similarity.bruteForceTopK(spark, emb, emb.filter(col("vec_id") < 3), 5)
      .collect()
    val byQuery = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.keySet == Set(0L, 1L, 2L))
    byQuery.foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to 5))
      assert(!sorted.exists(_.getAs[Long]("neighbor_id") == q), "self excluded")
      val scores = sorted.map(_.getAs[Double]("cos")).toSeq
      assert(scores == scores.sorted.reverse, "scores must be descending")
    }
  }

  test("ANN recall vs brute force >= 50% on fixture embeddings") {
    val emb = Tables.embeddings(spark, sf001)
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(spark, emb, queries, 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ann = Similarity.annTopK(spark, emb, queries, 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.5, s"ANN recall too low: $recall")
  }

  test("matryoshka prefix-16 + full-dim rerank beats the bare prefix tier") {
    val emb = Tables.embeddings(spark, sf001)
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(spark, emb, queries, 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      (exact & got).size.toDouble / exact.size
    }
    def cut(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("embedding", slice(col("embedding"), 1, 16))
    val bare = recall(Similarity.bruteForceTopK(spark, cut(emb), cut(queries), 10))
    val reranked = recall(Similarity.prefixRerankTopK(spark, emb, queries, 10,
      shortlist = 200))
    assert(reranked > bare,
      s"rerank $reranked should beat bare prefix $bare")
    assert(reranked >= 0.4, s"reranked matryoshka recall too low: $reranked")
    // shortlist-ceiling sanity: rerank can never exceed the recall of
    // its own candidate stage at shortlist depth
    val candCeiling = recall(Similarity.bruteForceTopK(
      spark, cut(emb), cut(queries), 200))
    assert(reranked <= candCeiling + 1e-9)
  }

  test("IVF recall vs brute force >= 40% on fixture embeddings") {
    val emb = Tables.embeddings(spark, sf001)
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(spark, emb, queries, 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Similarity.ivfTopK(spark, emb, queries, 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF recall too low: $recall")
  }

  test("sampled-k-means IVF (q44): deterministic training, recall >= first-N variant") {
    val emb = Tables.embeddings(spark, sf001)
    val c1 = Similarity.sampledKmeansCentroids(spark, emb, 16, 3, 256)
    val c2 = Similarity.sampledKmeansCentroids(spark, emb, 16, 3, 256)
    assert(c1.map(_._2.toSeq) == c2.map(_._2.toSeq), "training must be bit-deterministic")
    val queries = emb.filter(col("vec_id") >= 100 && col("vec_id") < 110)
    val exact = Similarity.bruteForceTopK(spark, emb, queries, 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      (exact & got).size.toDouble / exact.size
    }
    val trained = recall(Similarity.ivfTopKTrained(spark, emb, queries, 10))
    val firstN = recall(Similarity.ivfTopK(spark, emb, queries, 10))
    assert(trained >= firstN,
      s"sampled-k-means centroids must not lose to first-N: $trained vs $firstN")
    assert(trained >= 0.5, s"trained IVF recall too low: $trained")
  }

  test("single-emission ANN candidates: same top-k as the distinct() formulation") {
    // reference formulation: identical buckets/probes, dedup via
    // distinct() — the exchange the production path eliminates
    GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, sf001)
    val queries = emb.filter(col("vec_id") < 10)
    val got = Similarity.annTopK(spark, emb, queries, 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet
    val planeSets = Similarity.annPlaneSets
    def buckets(df: org.apache.spark.sql.DataFrame, idAs: String, vecAs: String) = df
      .select(col("vec_id").as(idAs), col("embedding").as(vecAs),
        posexplode(org.apache.spark.sql.classic.GraftPlanBridge.column(
          graft.functions.LshBuckets(
            org.apache.spark.sql.classic.GraftPlanBridge.expression(col("embedding")),
            planeSets.map(_.map(_.toArray).toArray).toArray))))
      .withColumnsRenamed(Map("pos" -> "tbl", "col" -> "bucket"))
    val corpus = buckets(emb, "neighbor_id", "cv")
    val probeFlips = array((lit(0L) +: (0 until 3).map(i => lit(1L << i))): _*)
    val q = buckets(queries, "query_id", "qv")
      .select(col("query_id"), col("qv"), col("tbl"),
        explode(transform(probeFlips, f => col("bucket").bitwiseXOR(f))).as("bucket"))
    val reference = q.join(corpus, Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        GraftFunctions.cosineSim(col("qv"), col("cv")).as("cos"))
      .distinct()
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= 10)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet
    assert(got == reference, "single-emission must reproduce the distinct() result")
  }

  test("ANN/IVF candidate paths carry no exchange between candidate join and ranking") {
    val emb = Tables.embeddings(spark, sf001)
    val queries = emb.filter(col("vec_id") < 5)
    for (df <- Seq(Similarity.annTopK(spark, emb, queries, 10),
                   Similarity.ivfTopK(spark, emb, queries, 10),
                   Similarity.ivfTopKTrained(spark, emb, queries, 10))) {
      val plan = df.queryExecution.executedPlan.toString
      // the only aggregate-free dedup is the per-row filter: a distinct()
      // would surface as a HashAggregate pair around an extra Exchange
      assert(!plan.contains("HashAggregate"),
        s"no aggregate-based dedup expected in:\n$plan")
    }
  }

  test("int8 quantization: stats expression matches the array form; reconstruction sane") {
    GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, sf001).limit(100)
    val cmp = emb.select(
        GraftFunctions.quantizeI8Stats(col("embedding")).as("st"),
        GraftFunctions.quantizeI8(col("embedding")).as("qa"),
        col("embedding"))
      .select(col("st.scale").as("scale"), col("st.q_sum").as("q_sum"),
        col("st.q_min").as("q_min"), col("st.q_max").as("q_max"),
        aggregate(col("qa"), lit(0L), (a, x) => a + x.cast("long")).as("sum2"),
        array_min(col("qa")).cast("long").as("min2"),
        array_max(col("qa")).cast("long").as("max2"),
        col("embedding"))
      .collect()
    cmp.foreach { r =>
      assert(r.getAs[Long]("q_sum") == r.getAs[Long]("sum2"))
      assert(r.getAs[Long]("q_min") == r.getAs[Long]("min2"))
      assert(r.getAs[Long]("q_max") == r.getAs[Long]("max2"))
      assert(r.getAs[Long]("q_max") <= 127L && r.getAs[Long]("q_min") >= -127L)
      // reconstruction error bound: |x - q*scale/127| <= scale/254 per dim
      val scale = r.getAs[Double]("scale")
      assert(scale > 0.0)
    }
    // zero vector: scale 0, all-zero stats
    val z = Seq(Tuple1(Array.fill(4)(0.0f))).toDF("embedding")
      .select(GraftFunctions.quantizeI8Stats(col("embedding")).as("st"))
      .select("st.*").head
    assert(z.getDouble(0) == 0.0 && z.getLong(1) == 0L &&
      z.getLong(2) == 0L && z.getLong(3) == 0L)
  }

  test("batch-lookup ANN: no broadcast, shuffle join on (tbl, bucket), results unchanged") {
    // the 10^6-query shape: the query side is too big to broadcast, so
    // the candidate join must run as a shuffle join keyed on the LSH
    // bucket — same results as the broadcast plan, per-query bounded rank
    val emb = Tables.embeddings(spark, sf001)
    val queries = emb.filter(col("vec_id") < 200) // batch, not a handful
    val small = Similarity.annTopK(spark, emb, queries, 5)
      .collect().map(_.toString).sorted.toSeq
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val batch = Similarity.annTopK(spark, emb, queries, 5)
      val plan = batch.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"batch mode must not broadcast:\n$plan")
      assert(batch.collect().map(_.toString).sorted.toSeq == small,
        "shuffle-join plan must produce identical top-k")
    }
  }

  test("ANN is deterministic across runs (seeded hyperplanes)") {
    val emb = Tables.embeddings(spark, sf001)
    val q = emb.filter(col("vec_id") < 3)
    val r1 = Similarity.annTopK(spark, emb, q, 5).collect().toSeq
    val r2 = Similarity.annTopK(spark, emb, q, 5).collect().toSeq
    assert(r1.map(_.toString).sorted == r2.map(_.toString).sorted)
  }

  test("q123: random projection preserves cosine geometry (JL property)") {
    val emb = Tables.embeddings(spark, sf001)
    def cosv(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    val orig = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val ids = orig.keys.toSeq.sorted.take(100)
    val pairs = ids.sliding(2).collect { case Seq(a, b) => (a, b) }.toSeq
    val xs = pairs.map { case (a, b) => cosv(orig(a), orig(b)) }

    // the projection at any k, from the same signs and int8 quantization
    val quant = emb.select(col("vec_id"),
        GraftFunctions.quantizeI8(col("embedding")).cast("array<bigint>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def projectAt(k: Int): Map[Long, Array[Double]] = {
      val signs = Similarity.projSigns(k, Similarity.Dim)
      quant.map { case (id, q) =>
        id -> signs.map(sj => sj.zip(q).map { case (a, b) => a * b }.sum.toDouble).toArray
      }
    }
    // the engine's projection is exactly that one at ProjK
    val proj = Similarity.randomProjection(emb)
    val pCols = proj.columns.filter(_.startsWith("p"))
    val engine = proj.collect()
      .map(r => r.getLong(0) ->
        pCols.indices.map(i => r.getLong(i + 1).toDouble).toArray).toMap
    val atProjK = projectAt(Similarity.ProjK)
    assert(engine.keySet == atProjK.keySet &&
      engine.forall { case (id, v) => v.sameElements(atProjK(id)) })
    def rmseAt(k: Int): Double = {
      val pr = if (k == Similarity.ProjK) engine else projectAt(k)
      val ys = pairs.map { case (a, b) => cosv(pr(a), pr(b)) }
      math.sqrt(xs.zip(ys).map { case (x, y) => (x - y) * (x - y) }.sum / xs.size)
    }
    // JL gives an ADDITIVE inner-product error that shrinks as
    // 1/sqrt(k) — the fixture's pairs are near-orthogonal (true-cosine
    // std ≈ 0.11), so additive error, not correlation, is the
    // meaningful contract: ~2/sqrt(k) bounds it comfortably, and more
    // output dims must tighten it.
    val e16 = rmseAt(16)
    val e64 = rmseAt(64)
    assert(e16 < 2.0 / math.sqrt(16.0), s"cosine RMSE at k=16: $e16")
    assert(e64 < 2.0 / math.sqrt(64.0), s"cosine RMSE at k=64: $e64")
    assert(e64 < e16, s"k=64 RMSE $e64 should beat k=16 RMSE $e16")
  }

  test("q123: sign matrix is balanced and deterministic") {
    val s1 = Similarity.projSigns(16, 64)
    val s2 = Similarity.projSigns(16, 64)
    assert(s1 == s2)
    // each output dim's sign row is not degenerate (>= 20 of each sign)
    s1.foreach { row =>
      val pos = row.count(_ == 1)
      assert(pos >= 20 && pos <= 44, s"unbalanced sign row: $pos/64 positive")
    }
  }

  test("q124: hard negatives never share the anchor's label, ranked desc") {
    val emb = Tables.embeddings(spark, sf001)
    val anchors = emb.filter(col("vec_id") < 3)
    val out = Similarity.hardNegatives(spark, emb, anchors, 5).cache()
    val labels = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.collect().foreach { r =>
      val a = r.getLong(0); val nbr = r.getLong(1)
      assert(labels(a) != labels(nbr))
    }
    // per anchor: dense ranks 1..5, scores non-increasing
    out.collect().groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq == (1 to 5))
      val scores = sorted.map(_.getDouble(2)).toSeq
      assert(scores.zip(scores.tail).forall { case (x, y) => x >= y })
    }
    out.unpersist()
  }

  test("q125 cross-check: Jacobi eigensystem is orthonormal with descending eigenvalues") {
    val emb = Tables.embeddings(spark, sf001)
    val pca = Similarity.pcaModel(spark, emb)
    val (vals, vecs) = (pca.eigvals, pca.eigvecs)
    // descending, non-negative (covariance is PSD)
    assert(vals.zip(vals.tail).forall { case (a, b) => a >= b - 1e-9 })
    assert(vals.forall(_ >= -1e-9))
    // orthonormal
    for (i <- 0 until 8; j <- i until 8) {
      val dot = vecs(i).zip(vecs(j)).map { case (x, y) => x * y }.sum
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-8, s"v${i}.v$j = $dot")
    }
  }

  test("q125: per-component sample variance matches vᵀCv exactly") {
    // exact math regardless of power-iteration convergence: for ANY
    // unit vector v, var(vᵀ(x−mean)) = vᵀCv. This cross-checks the
    // DISTRIBUTED projection against the driver covariance. (The
    // model's emitted λ_c is the Rayleigh quotient on the DEFLATED
    // matrix — off from vᵀCv by λ₀(v₀·v_c)² + …, the documented
    // non-orthogonality residual — so compare against C itself.)
    val emb = Tables.embeddings(spark, sf001)
    val model = Similarity.pcaPowerModel(spark, emb, r = 4)
    val (_, cov) = Similarity.covarianceMoments(spark, emb, 64)
    val proj = Similarity.pcaProject(spark, emb, r = 4).cache()
    val n = proj.count().toDouble
    for (j <- 0 until 4) {
      val v = model.eigvecs(j)
      val vCv = (0 until 64).map(i =>
        v(i) * (0 until 64).map(k => cov(i)(k) * v(k)).sum).sum
      val cName = f"c$j%02d"
      val stats = proj.agg(sum(col(cName)).as("s"),
        sum(col(cName) * col(cName)).as("ss")).head()
      val mean = stats.getDouble(0) / n
      val variance = stats.getDouble(1) / n - mean * mean
      assert(math.abs(variance - vCv) < 1e-9,
        s"component $j variance $variance vs vCv $vCv")
      // and the emitted λ is within the deflation residual of vᵀCv
      assert(math.abs(model.eigvals(j) - vCv) < 1e-5,
        s"component $j Rayleigh ${model.eigvals(j)} vs vCv $vCv")
    }
    proj.unpersist()
  }

  test("q125: fixed-round power basis — unit norm, near-orthogonal, near-optimal captured variance") {
    val emb = Tables.embeddings(spark, sf001)
    val model = Similarity.pcaPowerModel(spark, emb, r = 4)
    val jVals = Similarity.pcaModel(spark, emb).eigvals
    // unit norm is exact (each round ends in an explicit normalize)
    model.eigvecs.foreach { v =>
      val nrm = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(nrm - 1.0) < 1e-12, s"non-unit basis vector: $nrm")
    }
    // deflation orthogonality is only as good as the fixed round
    // count on this near-flat synthetic spectrum (ratios ~0.98) —
    // bound it rather than demanding 1e-8 like the Jacobi spec
    for (i <- 0 until 4; j <- (i + 1) until 4) {
      val dot = model.eigvecs(i).zip(model.eigvecs(j))
        .map { case (a, b) => a * b }.sum
      assert(math.abs(dot) < 0.05, s"v${i}.v$j = $dot")
    }
    // the basis captures ≥ 97% of the optimal top-4 variance (Jacobi
    // ground truth); on a flat spectrum any stable basis gets close,
    // which is exactly why fixed rounds are sufficient here
    val captured = model.eigvals.sum
    val optimal = jVals.take(4).sum
    assert(captured >= 0.97 * optimal && captured <= optimal + 1e-9,
      s"captured $captured vs optimal $optimal")
  }

  test("q129: PQ-ADC recall vs brute force >= 60%; codes in range") {
    val emb = Tables.embeddings(spark, sf001)
    val queries = emb.filter(col("vec_id") >= 100 && col("vec_id") < 110)
    val exact = Similarity.bruteForceTopK(spark, emb, queries, 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val pq = Similarity.pqAdcTopK(spark, emb, queries).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.6, s"PQ-ADC recall too low: $recall")
    // every codebook cell index must be a valid byte code [0, ks)
    val cb = Similarity.sampledPqCodebooks(spark, emb, m = 8, ks = 16,
      iters = 2, sampleN = 256, dim = 64)
    assert(cb.length == 8 && cb.forall(_.length == 16) &&
      cb.forall(_.forall(_.length == 8)))
  }

  test("ivfPqTopK: cell restriction costs bounded recall vs full PQ scan") {
    val emb = Tables.embeddings(spark, sf001)
    val queries = emb.filter(col("vec_id") >= 100 && col("vec_id") < 110)
    val exact = Similarity.bruteForceTopK(spark, emb, queries, 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivfpq = Similarity.ivfPqTopK(spark, emb, queries).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & ivfpq).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF-PQ recall too low: $recall")
    // ranks dense 1..10 per query
    val byQ = Similarity.ivfPqTopK(spark, emb, queries).collect()
      .groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { rows =>
      assert(rows.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to rows.length))
    }
  }

  test("q155 binary Hamming ANN: identical vector is rank 1 at hamming 0; sign-flip is maximal") {
    val a = Array.tabulate(64)(i => if (i % 2 == 0) 1f else -1f)
    val flipped = a.map(-_)
    val near = a.clone(); near(0) = -near(0) // one sign bit differs
    val emb = Seq((0L, a), (1L, a.clone), (2L, flipped), (3L, near))
      .toDF("vec_id", "embedding")
    val out = Similarity.binaryHammingTopK(spark, emb,
      emb.filter(col("vec_id") === 0L), k = 3)
      .orderBy("rank").collect()
    assert(out.length == 3)
    val top = out.head
    assert(top.getAs[Long]("neighbor_id") == 1L &&
      top.getAs[Long]("hamming") == 0L &&
      math.abs(top.getAs[Double]("cos") - 1.0) < 1e-12, s"$top")
    val byN = out.map(r => r.getAs[Long]("neighbor_id") ->
      r.getAs[Long]("hamming")).toMap
    assert(byN(2L) == 64L, "full sign flip = 64 differing bits")
    assert(byN(3L) == 1L, "single flipped dimension = hamming 1")
    // recall floor on the fixture: binary tier finds a decent share
    // of brute-force truth even at a tight candidate budget
    val fix = Tables.embeddings(spark, sf001)
    val q = fix.filter(col("vec_id") < 20)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Similarity.bruteForceTopK(spark, fix, q, 10))
    val got = pairs(Similarity.binaryHammingTopK(spark, fix, q))
    val recall = (truth & got).size.toDouble / truth.size
    assert(recall >= 0.35, s"binary-tier recall floor: $recall")
  }

  test("q156 k-center coreset: one exemplar per well-separated cluster, all assigned home") {
    // one tight cluster per center along each axis, 3 members each
    // (tiny jitter in the last dimension keeps the direction)
    val k = Similarity.KCenterK
    val emb = (for (c <- 0 until k; j <- 0 until 3) yield {
      val v = Array.fill(k + 1)(0f); v(c) = 1f; v(k) = 0.01f * (j + 1)
      ((c * 3 + j).toLong, v)
    }).toDF("vec_id", "embedding")
    val out = Similarity.kCenterCoreset(spark, emb).collect()
    val centers = out.filter(_.getAs[Boolean]("is_center"))
      .map(_.getAs[Long]("vec_id")).toSet
    // farthest-first must take one exemplar from each cluster
    assert(centers.map(_ / 3) == (0L until k.toLong).toSet, s"centers: $centers")
    // every vector's nearest center is its own cluster's exemplar
    out.foreach { r =>
      assert(r.getAs[Long]("center_id") / 3 == r.getAs[Long]("vec_id") / 3,
        s"cross-cluster assignment: $r")
    }
  }

  test("q158 MMR: near-duplicate of the first pick is deferred behind a diverse candidate") {
    // q=(1,1,0,0): a'=(1,.01,0,0) wins rank 1 (closest), its near-dup
    // a=(1,0,0,0) gets mmr ~ -0.15, while orthogonal-to-picks
    // b=(0,1,0,0) scores ~ +0.35 => diversity must outrank raw rel.
    val emb = Seq(
      (0L, Array(1f, 1f, 0f, 0f)),
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(1f, 0.01f, 0f, 0f)),
      (3L, Array(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.mmrRerank(spark, emb,
      emb.filter(col("vec_id") === 0L))
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(2L, 3L, 1L),
      s"MMR order: ${out.toSeq}")
    // plain relevance order would have been 2, 1, 3
    assert(out(1).getAs[Double]("mmr") > out(2).getAs[Double]("mmr"))
  }
}
