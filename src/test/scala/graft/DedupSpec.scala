package graft

import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, HashFunctions, TextFunctions}
import graft.operators.{Dedup, Similarity}
import graft.sources.Tables

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "text", "source")

  test("exact dedup keeps min doc_id and counts copies") {
    val out = Dedup.exact(docs(
      (1L, "a b c", "s"), (2L, "a b c", "s"), (3L, "x y", "s")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 3L -> 1L))
  }

  test("fingerprint dedup catches case/whitespace variants") {
    val out = Dedup.byFingerprint(docs(
      (1L, "Hello  World", "s"), (2L, "hello world", "s"), (3L, "bye", "s")))
      .collect()
    assert(out.length == 2)
    assert(out.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 3L))
  }

  test("minhash estimate tracks exact shingle jaccard (within 0.15)") {
    GraftFunctions.register(spark)
    // build doc pairs with known overlap structure from real fixture text
    val d = Tables.documents(spark, sf001).limit(40)
    val withSets = d.select(col("doc_id"),
      GraftFunctions.wordShingles(TextFunctions.wsTokens(col("text")), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", GraftFunctions.minhashSig(col("sh"), 128))
    val a = withSets.as("a"); val b = withSets.as("b")
    val cmp = a.join(b, col("a.doc_id") < col("b.doc_id"))
      .select(
        HashFunctions.jaccard(col("a.sh"), col("b.sh")).as("exact"),
        GraftFunctions.minhashEst(col("a.sig"), col("b.sig")).as("est"))
      .collect()
    assert(cmp.nonEmpty)
    val maxErr = cmp.map(r => math.abs(r.getDouble(0) - r.getDouble(1))).max
    assert(maxErr < 0.15, s"minhash estimate error too high: $maxErr")
  }

  test("minhash LSH finds identical and near-identical docs") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base.replace("today", "tomorrow")
    val out = Dedup.minhashLshPairs(spark, docs(
      (1L, base, "s"), (2L, base, "s"), (3L, near, "s"),
      (4L, "completely different content with no overlap at all whatsoever ok", "s")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((1L, 2L)), "identical docs must be candidates")
    assert(out.contains((1L, 3L)) && out.contains((2L, 3L)),
      "near-identical docs must be candidates")
    assert(!out.exists(p => p._1 == 4L || p._2 == 4L),
      "unrelated doc must not pair")
  }

  test("simhash: identical docs distance 0; near-dup much closer than unrelated") {
    // long doc + tiny relative edit — the regime simhash is designed for
    // (Manku et al.'s hamming<=3 assumes web-page-sized docs)
    val sentence = "the quick brown fox jumps over the lazy dog while rain falls on the quiet town square "
    val base = sentence * 10
    val near = (sentence * 9) + sentence.replace("rain", "snow")
    val unrelated = "entirely distinct vocabulary about spacecraft telemetry and orbital mechanics analysis systems " * 10
    val d = docs((1L, base, "s"), (2L, base, "s"), (3L, near, "s"), (4L, unrelated, "s"))
    GraftFunctions.register(spark)
    val sh = d.select(col("doc_id"),
        GraftFunctions.simhash64(TextFunctions.wsTokens(col("text"))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def dist(a: Long, b: Long) = java.lang.Long.bitCount(sh(a) ^ sh(b))
    assert(dist(1L, 2L) == 0, "identical docs must have distance 0")
    val dNear = dist(1L, 3L)
    assert(dNear <= 12, s"near-dup distance unexpectedly high: $dNear")
    assert(dist(1L, 4L) > dNear)
    // the pairs are exactly those within the hamming cut, with their distance
    val out = Dedup.simhashPairs(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val within = for {
      a <- 1L to 4L; b <- a + 1 to 4L if dist(a, b) <= Dedup.SimhashMaxHamming
    } yield (a, b) -> dist(a, b)
    assert(out == within.toMap)
  }

  test("embedding cosine pairs: identical vectors cos=1, orthogonal excluded") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(1.0f, 0.0f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val out = Dedup.embeddingCosinePairs(spark, emb, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("LSH-blocked exact jaccard finds near-dups without a blocking column") {
    val base = "the quick brown fox jumps over the lazy dog again and again today ok fine"
    val near = base.replace("today", "tomorrow")
    val out = Dedup.lshBlockedJaccardPairs(spark, docs(
      (1L, base, "s1"), (2L, base, "s2"), (3L, near, "s3"),
      (4L, "completely different text about unrelated topics entirely elsewhere now", "s4")))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out((1L, 2L)) == 1.0, "identical docs: exact jaccard 1.0")
    assert(out.contains((1L, 3L)), "near-dup must survive candidate + rerank")
    assert(out((1L, 3L)) < 1.0 && out((1L, 3L)) >= 0.5)
    assert(!out.keys.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("ngram jaccard: degenerate source block over maxBlockSize is dropped") {
    val rows = (1L to 20L).map(i => (i, s"shared words here plus unique$i", "big")) :+
      (100L, "tiny block text one", "small") :+
      (101L, "tiny block text one", "small")
    val unbounded = Dedup.ngramJaccardPairs(docs(rows: _*), 0.5)
    val bounded = Dedup.ngramJaccardPairs(docs(rows: _*), 0.5, maxBlockSize = 10)
    val bPairs = bounded.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bPairs == Set((100L, 101L)),
      "only the small block survives the cap")
    assert(unbounded.collect().length >= bPairs.size)
  }

  test("LSH-blocked cosine pairs: identical vectors found, recall >= 0.8 on fixture") {
    // sanity on synthetic vectors (64-dim padded)
    def v(xs: Float*): Array[Float] = (xs ++ Seq.fill(64 - xs.length)(0.0f)).toArray
    val tiny = Seq(
      (1L, v(1.0f, 0.1f), 0), (2L, v(1.0f, 0.1f), 0), (3L, v(-1.0f, 0.2f), 0))
      .toDF("vec_id", "embedding", "label")
    val tinyOut = Dedup.lshBlockedCosinePairs(spark, tiny)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tinyOut == Set((1L, 2L)), "identical vectors must pair; opposite must not")

    // recall vs exact all-pairs at the default threshold on real fixture
    val emb = Tables.embeddings(spark, sf001)
    GraftFunctions.register(spark)
    val a = emb.as("a"); val b = emb.as("b")
    val exact = a.join(b, col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        GraftFunctions.cosineSim(col("a.embedding"), col("b.embedding")).as("c"))
      .filter(col("c") >= 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.lshBlockedCosinePairs(spark, emb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture must contain pairs above threshold")
    assert((lsh -- exact).isEmpty, "rerank is exact: no false positives")
    val recall = (lsh & exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"LSH-blocked cosine recall too low: $recall")
  }

  test("ngram jaccard: degenerate block above maxBlockSize is dropped (oracle-mirrored guard)") {
    // source "spam" holds 5 identical docs (10 pairs), source "ok" a
    // near-dup pair; with maxBlockSize = 4 the spam block must vanish
    // entirely while ok survives — the same cap the q16 DuckDB oracle
    // mirrors with its COUNT(*) OVER (PARTITION BY source) prefilter
    val d = docs(
      ((1L to 5L).map(i => (i, "aa bb cc dd ee ff", "spam")) ++
        Seq((10L, "xx yy zz ww vv", "ok"), (11L, "xx yy zz ww uu", "ok"))): _*)
    val capped = Dedup.ngramJaccardPairs(d, 0.5, maxBlockSize = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((10L, 11L)), s"spam block must be dropped, got $capped")
    // and without the cap the spam pairs exist (proving the guard acted)
    val uncapped = Dedup.ngramJaccardPairs(d, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size == 11, s"uncapped must keep all pairs, got ${uncapped.size}")
    // fixture sanity for the oracle contract: real blocks sit far below
    // the default cap, so cap semantics never bind at test SFs
    val maxBlock = Tables.documents(spark, sf001)
      .groupBy("source").count().agg(max("count")).head.getLong(0)
    assert(maxBlock < Dedup.DefaultMaxBlockSize / 100,
      s"fixture block size $maxBlock unexpectedly near the cap")
  }

  test("fused word_shingles is byte-identical to the HOF formulation") {
    GraftFunctions.register(spark)
    val d = Tables.documents(spark, sf001).limit(100)
    for (n <- Seq(2, 3, 5, 8)) {
      val cmp = d.select(
          GraftFunctions.wordShingles(TextFunctions.wsTokens(col("text")), n).as("fused"),
          HashFunctions.wordShinglesHof(TextFunctions.wsTokens(col("text")), n).as("hof"))
        .filter(not(col("fused") <=> col("hof"))) // null-safe: a NULL-vs-[] divergence must FAIL, not filter out
      assert(cmp.count() == 0, s"n=$n mismatch")
    }
    // short-doc edge: fewer tokens than n -> empty array
    val tiny = docs((1L, "one two", "s"))
    val out = tiny.select(
      GraftFunctions.wordShingles(TextFunctions.wsTokens(col("text")), 3)).head
    assert(out.getSeq[String](0).isEmpty)
  }

  test("single-emission LSH pairs: exactly once per pair, same set as distinct()") {
    // random-ish corpus with overlapping vocab so pairs share MANY bands
    val rng = new scala.util.Random(99)
    val vocab = (1 to 30).map(i => s"w$i")
    val rows = (1L to 40L).map { i =>
      val base = (1 to 12).map(_ => vocab(rng.nextInt(vocab.length)))
      (i, base.mkString(" "), "s")
    } ++ Seq((100L, "a b c d e f g h i j k l", "s"),
      (101L, "a b c d e f g h i j k l", "s"))
    val d = docs(rows: _*)
    val got = Dedup.minhashLshPairs(spark, d, estimateThreshold = 0.2).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == got.distinct.length, "each pair emitted exactly once")

    // reference formulation: same buckets, distinct() dedup
    GraftFunctions.register(spark)
    val sigs = d
      .select(col("doc_id"),
        GraftFunctions.wordShingles(TextFunctions.wsTokens(col("text")), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), GraftFunctions.minhashSig(col("sh"), 64).as("sig"))
    val buckets = sigs.select(col("doc_id"), col("sig"),
        posexplode(GraftFunctions.bandHash(col("sig"), 16, 4)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
    val l = buckets.as("l"); val r = buckets.as("r")
    val reference = l.join(r,
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"),
        GraftFunctions.minhashEst(col("l.sig"), col("r.sig")).as("e"))
      .filter(col("e") >= 0.2)
      .distinct()
      .collect().map(r2 => (r2.getLong(0), r2.getLong(1)))
    assert(got.toSet == reference.toSet,
      "single-emission must produce the same pair set as distinct()")
    assert(got.toSet.contains((100L, 101L)))
  }

  test("cdc chunks reconstruct the text and re-sync after an edit") {
    GraftFunctions.register(spark)
    // high-entropy deterministic text (a periodic string has only
    // period-many distinct windows and may never hit a boundary)
    val rng = new scala.util.Random(7)
    val base = Seq.fill(300)(rng.alphanumeric.take(5).mkString).mkString(" ")
    val edited = "XYZQ " + base // edit at the very front
    val df = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
      .select(col("doc_id"), col("text"),
        GraftFunctions.cdcChunks(col("text"), 16, 63).as("chunks"))
    val rows = df.collect().map(r =>
      r.getLong(0) -> r.getSeq[String](2)).toMap
    // chunks concatenate back to the original byte stream
    assert(rows(1L).mkString == base)
    assert(rows(2L).mkString == edited)
    // content-defined boundaries re-synchronize: the two docs share a
    // common chunk suffix despite the front edit (a fixed-size chunker
    // would shift EVERY boundary and share nothing)
    val shared = rows(1L).toSet.intersect(rows(2L).toSet)
    assert(rows(1L).length > 3, s"expected several chunks, got ${rows(1L).length}")
    assert(shared.nonEmpty, "edited doc must share content-defined chunks")
    assert(rows(1L).last == rows(2L).last, "chunking must re-sync by the tail")
  }

  test("cdc chunk dedup finds the chunks shared across near-dup docs") {
    val base = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do " * 8).trim
    val out = Dedup.cdcChunkDedup(spark, Seq(
      (1L, base, "s"), (2L, "PREFIX " + base, "s"),
      (3L, "totally different content here that shares nothing at all with them", "s"))
      .toDF("doc_id", "text", "source"))
      .collect()
    assert(out.nonEmpty, "near-dup docs must share chunks")
    assert(out.forall(_.getAs[Long]("n_docs") == 2L))
  }

  test("skew guard: oversized LSH buckets are dropped, join still completes") {
    // n identical docs -> every band bucket has n members: at the cap
    // the buckets pair, one doc past it every bucket drops
    def identical(n: Int) = docs((1L to n.toLong)
      .map(i => (i, "same text repeated for everyone here ok", "s")): _*)
    val out = Dedup.minhashLshPairs(spark, identical(Dedup.MaxBucketSize + 1))
    assert(out.collect().isEmpty, "all buckets over the cap must be dropped")
    val atCap = Dedup.minhashLshPairs(spark, identical(Dedup.MaxBucketSize))
    assert(!atCap.isEmpty, "buckets at the cap must be kept")
    // below the cap every pair comes out exactly once
    assert(Dedup.minhashLshPairs(spark, identical(60)).count() == 60L * 59 / 2)
  }

  test("semantic dedup: cell minima survive; drops exactly = has-closer-lower-id-neighbor") {
    val emb = Tables.embeddings(spark, sf001)
    // the full cluster assignment: each vector's nearest centroid by
    // cosine, ties to the lower cell id
    val centroids = Similarity.sampledKmeansCentroids(spark, emb,
      Dedup.SemDedupCells, Similarity.KmeansIters, Similarity.SampleN).toDF("cell_id", "centroid")
    val all = emb.crossJoin(centroids)
      .withColumn("cdist", GraftFunctions.cosineSim(col("embedding"), col("centroid")))
      .withColumn("crank", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("cdist").desc, col("cell_id").asc)))
      .filter(col("crank") === 1)
    val assign = all.select("vec_id", "cell_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(assign.length == emb.count())
    val kept = Dedup.semanticDedup(spark, emb).collect()
    val keptIds = kept.map(_.getLong(0)).toSet
    // each survivor carries its cell and that cell's pre-dedup population
    val cellN = assign.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    assert(kept.forall(r => assign.contains((r.getLong(0), r.getInt(1))) &&
      r.getLong(2) == cellN(r.getInt(1))))
    // the lowest id of every cell can never be dropped
    assign.groupBy(_._2).values.foreach { vs =>
      assert(keptIds.contains(vs.map(_._1).min))
    }
    assert(keptIds.size < assign.length, "threshold 0.3 should drop some")
    // drop set == vectors with a lower-id same-cell neighbor at cos>=t
    val withVec = all.select("vec_id", "cell_id", "embedding")
    val justified = withVec.as("a")
      .join(withVec.as("b"),
        col("a.cell_id") === col("b.cell_id") &&
          col("a.vec_id") < col("b.vec_id"))
      .filter(GraftFunctions.cosineSim(
        col("a.embedding"), col("b.embedding")) >= Dedup.SemDedupThreshold)
      .select(col("b.vec_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val dropped = assign.map(_._1).filterNot(keptIds).toSet
    assert(dropped == justified)
  }

  test("containment catches a quoted subset that the jaccard gate misses") {
    import spark.implicits._
    // doc 1 is wholly contained in doc 2: token containment = 1.0 but
    // jaccard = 60/85 ≈ 0.71 — above the LSH banding regime, below
    // the 0.8 jaccard gate
    val base = (1 to 60).map(i => s"alpha$i").mkString(" ")
    val extra = (1 to 25).map(i => s"omega$i").mkString(" ")
    val docs = (Seq((1L, base), (2L, s"$base $extra")) ++
      (3L to 12L).map(i => (i, (1 to 40).map(j => s"noise${i}x$j").mkString(" "))))
      .toDF("doc_id", "text")
    val cont = graft.operators.Dedup
      .lshContainmentPairs(spark, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cont.contains((1L, 2L)), s"containment pair missing: ${cont.toSeq}")
    val jac = graft.operators.Dedup.lshBlockedJaccardPairs(spark, docs)
      .filter(col("jaccard") >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!jac.contains((1L, 2L)),
      "jaccard>=0.8 should miss the 0.5-jaccard containment pair")
  }

  test("prefix-filter jaccard join equals brute-force all-pairs (exact, uncapped)") {
    // the whole point of q127: prefix filtering is result-PRESERVING —
    // identical pair set and jaccard values as the quadratic baseline,
    // computed without ever enumerating the pair space
    val d = Tables.documents(spark, sf001)
    val got = Dedup.prefixFilterJaccardPairs(d, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sets = d.select(col("doc_id"), array_sort(array_distinct(
        GraftFunctions.wordShingles(TextFunctions.wsTokens(col("text")), 3))).as("sh"))
      .filter(size(col("sh")) > 0)
    val brute = sets.as("a").join(sets.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        GraftFunctions.jaccardSorted(col("a.sh"), col("b.sh")).as("j"))
      .filter(col("j") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got.nonEmpty, "fixture must contain near-dup pairs")
    assert(got == brute, s"prefix filter changed the result: " +
      s"missing=${(brute -- got).take(3)} extra=${(got -- brute).take(3)}")
  }

  test("cluster-safe split (q136 shape): near-dup cluster members never straddle train/val") {
    val d = Tables.documents(spark, sf001)
    val pairs = Dedup.minhashLshPairs(spark, d).select(col("doc_a"), col("doc_b"))
    val clusters = graft.operators.GraphOps.dedupClusters(pairs)
      .select(col("doc_id"), col("cluster_id"))
    val firstHex = substring(md5(col("cluster_id").cast("string")), 1, 1)
    val split = d.select(col("doc_id")).join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .select(col("doc_id"), col("cluster_id"),
        when(firstHex.isin("0", "1", "2", "3"), "val")
          .otherwise("train").as("split"))
    // the invariant the query exists for: one split per cluster
    val mixed = split.groupBy("cluster_id")
      .agg(countDistinct(col("split")).as("k"))
      .filter(col("k") > 1)
      .count()
    assert(mixed == 0L, s"$mixed clusters straddle train/val")
    // every document is assigned exactly once
    assert(split.count() == d.count())
    // both splits are non-empty on the fixture
    val sides = split.select("split").distinct().collect().map(_.getString(0)).toSet
    assert(sides == Set("train", "val"))
  }

  test("prefix-filter jaccard honors the >= threshold boundary exactly") {
    import spark.implicits._
    // A has 8 3-shingles; B shares 4 of them among its 10 → j = 4/14 ≈
    // 0.29 < 0.5, excluded. C = A with the tail token changed: shares
    // 7 of A's 8 shingles → j = 7/9 ≈ 0.78 ≥ 0.5, included.
    val a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val c = "w1 w2 w3 w4 w5 w6 w7 w8 w9 zz"
    val b = "w1 w2 w3 w4 w5 w6 x1 x2 x3 x4 x5 x6"
    val out = Dedup.prefixFilterJaccardPairs(
      Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text"), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((1L, 3L)), "near-identical pair above t must appear")
    assert(!out.contains((1L, 2L)) && !out.contains((2L, 3L)),
      "below-threshold pairs must be excluded")
  }
}
