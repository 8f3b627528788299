package graft.operators

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Similarity search over an embedding column (array<float>).
  *
  * Two tiers (SURVEY.md §7.3 M3):
  *   - brute-force exact top-k — the correctness baseline: broadcast the
  *     (small) query set against the full corpus, rank per query. Cost
  *     is |queries|·|corpus| cosines, embarrassingly parallel over
  *     corpus partitions; no corpus shuffle at all (ranking shuffles
  *     only |queries|·k candidate rows after per-partition pre-pruning).
  *   - random-hyperplane LSH ANN — the scale path: each vector maps to a
  *     `planes`-bit bucket; queries only compare against vectors in the
  *     same bucket (multi-probe: plus single-bit-flip neighbors).
  *     Recall is tunable by planes/probes; verified ≥ baseline overlap
  *     in SimilaritySpec.
  */
object Similarity {

  // Fixed parameters of the operators below; the DuckDB oracles
  // (OracleHashSql) read the same values.
  private[graft] val Dim = 64         // embedding width of the fixture corpus
  private[graft] val IvfCells = 16    // IVF cells of ivfTopK, ivfTopKTrained, ivfPqTopK
  private[graft] val IvfProbes = 4    // IVF cells probed per query
  private[graft] val SampleN = 256    // vectors the driver-side trainers fit (first by id)
  private[graft] val KmeansIters = 3  // Lloyd rounds of q44's and q64's centroids
  private[graft] val PqM = 8          // PQ subspaces (q129, ivfPqTopK) ...
  private[graft] val PqKs = 16        // ... of PqKs centroids each,
  private[graft] val PqIters = 2      // ... trained in PqIters Lloyd rounds (ivfPqTopK's cells too);
  private[graft] val PqTopC = 100     // ADC candidates reranked by exact cosine
  private[graft] val MmrK = 5         // mmrRerank's depth ...
  private[graft] val MmrCand = 20     // ... and candidate pool
  private[graft] val KCenterK = 8     // kCenterCoreset's coreset size
  private[graft] val BinaryCand = 40  // binaryHammingTopK's Hamming candidates per query
  private[graft] val ProjK = 16       // randomProjection's output dimensions
  private[graft] val DimCorrK = 20    // dimCorrelationTopK's top |Pearson| pairs
  private[graft] val AnnProbes = 3    // annTopK's single-bit-flip probes per table

  private def cos(a: Column, b: Column): Column = GraftFunctions.cosineSim(a, b)

  /** Exact top-k neighbors for each query vector (self excluded). */
  def bruteForceTopK(spark: SparkSession, embeddings: DataFrame,
                     queries: DataFrame, k: Int): DataFrame = {
    GraftFunctions.register(spark)
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = embeddings.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cos(col("qv"), col("cv")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** Two-stage matryoshka retrieval: a prefix-dimension search produces
    * a bounded per-query shortlist, then full-dimension exact cosine
    * reranks it. The bare prefix-16 ranking is pure truncation loss
    * (recall@10 ≈ 0.09 on the synthetic embeddings — recorded in
    * RECALL.json as a truncation-calibration curve, not a usable tier);
    * with a `shortlist`-deep candidate stage plus rerank it becomes a
    * real retrieval path. At scale the prefix stage is what an index
    * (IVF/LSH on 16 dims = 4× less memory traffic) would serve; the
    * rerank cost is bounded at |queries|·shortlist full-dim cosines,
    * and the only shuffle is the candidate→corpus join on neighbor_id.
    */
  def prefixRerankTopK(spark: SparkSession, embeddings: DataFrame,
                       queries: DataFrame, k: Int,
                       shortlist: Int = 50): DataFrame = {
    GraftFunctions.register(spark)
    def cut(df: DataFrame): DataFrame =
      df.withColumn("embedding", slice(col("embedding"), 1, 16))
    val cand = bruteForceTopK(spark, cut(embeddings), cut(queries), shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"))
    val c = embeddings.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv"))
    val scored = cand.join(broadcast(q), "query_id").join(c, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        cos(col("qv"), col("cv")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** Deterministic random hyperplanes (seed-fixed Gaussian). Exposed
    * package-wide so the DuckDB oracle (OracleHashSql) can embed the
    * exact same plane constants as SQL literals.
    */
  private[graft] def hyperplanes(planes: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rng = new Random(seed)
    Seq.fill(planes)(Seq.fill(dim)(rng.nextGaussian()))
  }

  /** All table buckets in one fused pass (custom codegen expression
    * LshBuckets — the plane matrix becomes a codegen reference object;
    * one loop instead of tables×planes aggregate HOFs per row).
    * Shared with Dedup.lshBlockedCosinePairs.
    */
  private[graft] def lshBucketsFused(embedding: Column,
                                     planeSets: Seq[Seq[Seq[Double]]]): Column = {
    val matrix = planeSets.map(_.map(_.toArray).toArray).toArray
    org.apache.spark.sql.classic.GraftPlanBridge.column(
      graft.functions.LshBuckets(
        org.apache.spark.sql.classic.GraftPlanBridge.expression(embedding), matrix))
  }

  /** IVF (inverted-file) ANN top-k: partition the corpus into cells
    * around deterministic centroids (the first `IvfCells` vectors by id
    * — a seedless stand-in for k-means centroids; at scale you'd train
    * centroids once and persist them), probe each query's `IvfProbes`
    * nearest cells, exact-rerank candidates. The corpus assignment is a
    * one-off linear pass reusable across queries; query cost scales
    * with probed-cell population, not corpus size.
    */
  def ivfTopK(spark: SparkSession, embeddings: DataFrame, queries: DataFrame,
              k: Int): DataFrame = {
    GraftFunctions.register(spark)
    val centroids = embeddings.orderBy(col("vec_id")).limit(IvfCells)
      .select(col("vec_id").as("cell_id"), col("embedding").as("centroid"))
    ivfWithCentroids(embeddings, queries, k, IvfProbes, centroids)
  }

  /** IVF probe/rerank against an explicit (cell_id, centroid) table —
    * shared by the oracle-expressible first-N variant ([[ivfTopK]]) and
    * the sampled-k-means variant ([[ivfTopKTrained]]).
    */
  private def ivfWithCentroids(embeddings: DataFrame, queries: DataFrame,
                               k: Int, nProbe: Int,
                               centroids: DataFrame): DataFrame = {
    // corpus assignment: nearest centroid per vector (rank-1 window →
    // WindowGroupLimit bounded heaps, no full sort)
    def nearestCells(df: DataFrame, idCol: String, vecCol: String, n: Int) = {
      val w = Window.partitionBy(col(idCol))
        .orderBy(col("cdist").desc, col("cell_id").asc)
      df.crossJoin(broadcast(centroids))
        .select(col(idCol), col(vecCol), col("cell_id"),
          cos(col(vecCol), col("centroid")).as("cdist"))
        .withColumn("crank", row_number().over(w))
        .filter(col("crank") <= n)
        .drop("cdist", "crank")
    }
    val corpus = nearestCells(
      embeddings.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv")),
      "neighbor_id", "cv", 1)
    val q = nearestCells(
      queries.select(col("vec_id").as("query_id"), col("embedding").as("qv")),
      "query_id", "qv", nProbe)
    // No distinct() needed: each corpus vector sits in exactly ONE cell
    // (rank-1 window above) and a query's nProbe probed cells are
    // distinct, so a (query, neighbor) pair joins at most once — a
    // dedup here would only buy a full exchange of the candidate set.
    q.join(corpus, Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cos(col("qv"), col("cv")).as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** Deterministic k-means (Lloyd) over a BOUNDED sorted sample,
    * trained driver-side with a fixed fold order — every float op
    * (cosine assignment, per-dim mean accumulation in vec_id order,
    * final division) is reproduced verbatim by the DuckDB oracle's
    * unrolled-iteration SQL (OracleHashSql.q44IvfKmeans), so the
    * trained centroids are bit-identical across engines.
    *
    * Scale posture: sample-then-train is the standard 100 TB pattern —
    * the trainer touches `sampleN` vectors (KBs on the driver, the same
    * footprint as a broadcast); only the assignment/probe/rerank runs
    * distributed. Init is a stride over the sorted sample (rank
    * i·S/cells) — deterministic and SQL-trivial.
    */
  private[graft] def sampledKmeansCentroids(spark: SparkSession,
                                            embeddings: DataFrame, cells: Int,
                                            iters: Int,
                                            sampleN: Int): Seq[(Int, Array[Double])] = {
    val rows = embeddings.orderBy(col("vec_id")).limit(sampleN)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(rows.length >= cells, s"sample ${rows.length} < cells $cells")
    val dim = rows.head._2.length
    val stride = rows.length / cells
    var cents: Array[Array[Double]] =
      (0 until cells).map(i => rows(i * stride)._2).toArray
    for (_ <- 0 until iters) {
      val sums = Array.fill(cells)(new Array[Double](dim))
      val counts = new Array[Long](cells)
      rows.foreach { case (_, v) =>
        // argmax cosine; strict > keeps the LOWEST cell on exact ties
        // (mirrors the oracle's ORDER BY cos DESC, cell_id ASC)
        var best = 0; var bestCos = Double.NegativeInfinity
        var c = 0
        while (c < cells) {
          val cs = graft.functions.HashImpl.cosineArr(v, cents(c))
          if (cs > bestCos) { best = c; bestCos = cs }
          c += 1
        }
        counts(best) += 1
        var d = 0
        while (d < dim) { sums(best)(d) += v(d); d += 1 }
      }
      cents = (0 until cells).map { c =>
        if (counts(c) == 0) cents(c) // empty cells keep their centroid
        else {
          val m = new Array[Double](dim)
          var d = 0
          while (d < dim) { m(d) = sums(c)(d) / counts(c); d += 1 }
          m
        }
      }.toArray
    }
    cents.zipWithIndex.map { case (v, i) => (i, v) }.toIndexedSeq
  }

  /** IVF top-k with the deterministic sampled-k-means centroids — the
    * oracle-backed quality variant of [[ivfTopK]] (q44): same probe/
    * rerank, but centroids come from [[sampledKmeansCentroids]] instead
    * of first-N-by-id.
    */
  def ivfTopKTrained(spark: SparkSession, embeddings: DataFrame,
                     queries: DataFrame, k: Int): DataFrame = {
    GraftFunctions.register(spark)
    import spark.implicits._
    val cents = sampledKmeansCentroids(spark, embeddings, IvfCells, KmeansIters, SampleN)
    val centroids = cents.toDF("cell_id", "centroid")
    ivfWithCentroids(embeddings, queries, k, IvfProbes, centroids)
  }

  /** annTopK's plane sets — shared with q21's oracle so both sides
    * hash identical constants.
    */
  private[graft] val annPlaneSets: Seq[Seq[Seq[Double]]] =
    (0 until 8).map(t => hyperplanes(6, Dim, 42L + t))

  /** ANN top-k via multi-table random-hyperplane LSH ([[annPlaneSets]]:
    * 8 independent plane sets, each mapping a vector to a 6-bit bucket);
    * a query compares only against vectors sharing a bucket in ANY
    * table (plus `AnnProbes` single-bit-flip neighbor buckets per
    * table), exact-reranked. Recall grows as 1-(1-p^planes)^tables —
    * tables buy recall, planes shrink the candidate set. Returns the
    * same shape as bruteForceTopK.
    */
  def annTopK(spark: SparkSession, embeddings: DataFrame, queries: DataFrame,
              k: Int): DataFrame = {
    GraftFunctions.register(spark)
    val planeSets = annPlaneSets
    // corpus: one fused pass computes every table's bucket (custom
    // codegen expression); the full bucket array rides along so the
    // single-emission filter below can recheck collisions per-row
    val corpus = embeddings
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
        lshBucketsFused(col("embedding"), planeSets).as("cb"))
      .select(col("neighbor_id"), col("cv"), col("cb"), posexplode(col("cb")))
      .withColumnsRenamed(Map("pos" -> "tbl", "col" -> "bucket"))
    // queries: own bucket + single-bit-flip probe buckets per table;
    // posexplode keeps the probe index for the canonical-first filter
    val probeFlips = array((lit(0L) +: (0 until AnnProbes).map(i => lit(1L << i))): _*)
    val q = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        lshBucketsFused(col("embedding"), planeSets).as("qbs"))
      .select(col("query_id"), col("qv"), col("qbs"), posexplode(col("qbs")))
      .withColumnsRenamed(Map("pos" -> "tbl", "col" -> "qb"))
      .select(col("query_id"), col("qv"), col("qbs"), col("tbl"),
        posexplode(transform(probeFlips, f => col("qb").bitwiseXOR(f))))
      .withColumnsRenamed(Map("pos" -> "probe", "col" -> "bucket"))
    // Single-emission: a pair colliding in several (table, probe-flip)
    // combinations would need a distinct() SHUFFLE; instead each pair is
    // emitted only from its canonical first combination (recomputed
    // per-row from the two bucket arrays — cheap codegen, no exchange).
    // Same contract as Dedup.lshBlockedCosinePairs / minhashLshPairs.
    q.join(corpus, Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id") &&
        GraftFunctions.firstSharedProbe(col("qbs"), col("cb"), AnnProbes) ===
          col("tbl") * (AnnProbes + 1) + col("probe"))
      .select(col("query_id"), col("neighbor_id"), cos(col("qv"), col("cv")).as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** Cluster cohesion per label: centroid (mean vector via the
    * VectorSum fold — one vector per task on the shuffle) and each
    * member's cosine to its centroid, reported as per-label mean/min.
    * The embedding-hygiene report for a labeled corpus: a label whose
    * cohesion sags is a mislabeled or heterogeneous cluster.
    *
    * Scale: centroids are a labels-sized broadcast; the member pass is
    * one scan with a codegen cosine — no pairwise work at all
    * (contrast q19/q37, which score PAIRS).
    */
  def clusterCohesion(spark: SparkSession, embeddings: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val vecSum = udaf(graft.functions.Aggregators.VectorSum)
    val e = embeddings.select(col("label").cast("long").as("label"),
      col("embedding").cast("array<double>").as("e"))
    val cents = e.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), vecSum(col("e")).as("sumv"))
      .select(col("label"), col("n_vecs"),
        expr("transform(sumv, x -> x / n_vecs)").as("centroid"))
    e.join(broadcast(cents), "label")
      .select(col("label"), col("n_vecs"),
        graft.functions.GraftFunctions
          .cosineSim(col("e"), col("centroid")).as("cos"))
      .groupBy("label")
      .agg(max(col("n_vecs")).as("n_vecs"),
        avg(col("cos")).as("avg_cos"), min(col("cos")).as("min_cos"))
  }

  /** Embedding-space hygiene: the [[DimCorrK]] most correlated dimension pairs
    * (Pearson |corr|, ties broken by (d1, d2)) — the diagnostic behind
    * whitening / dead-dim pruning decisions before ANN indexing.
    *
    * Scale design — the Gram-matrix pattern, NOT a dims×dims join:
    * each row locally expands to its upper-triangle outer product
    * (codegen HOF, dim(dim+1)/2 doubles), and a typed vector-sum
    * Aggregator ([[graft.functions.Aggregators.VectorSum]]) folds every
    * partition into ONE moment vector map-side, so the exchange moves
    * a single ~2080-double row per task — corpus size never appears in
    * the shuffle. Moments → corr happens on the 1-row result joined
    * with a broadcast (idx → (d1,d2)) triangle map. At 100 TB this is
    * the only shape that works: any formulation that explodes
    * (row × dim-pair) into the shuffle is dim²·N rows.
    */
  def dimCorrelationTopK(spark: SparkSession, embeddings: DataFrame): DataFrame = {
    import spark.implicits._
    val dim = Dim
    // One fused fold: [n, sums(dim), upper-tri gram] accumulated into a
    // single primitive buffer per task — zero per-row allocation (the
    // earlier HOF formulation built a boxed dim(dim+1)/2 array per row,
    // ~10x slower from GC alone), one 2145-double vector per task on
    // the shuffle regardless of corpus size.
    val gramAgg = udaf(new graft.functions.Aggregators.GramMoments(dim))
    val e = embeddings.select(col("embedding").cast("array<double>").as("e"))
    val moments = e.agg(gramAgg(col("e")).as("m"))
    // buffer layout (1-based for element_at): m[1]=n, m[2..dim+1]=sums,
    // m[dim+2..]=gram flattened d1 ascending, d2 in d1..dim-1
    val tri = for {
      d1 <- 0 until dim; d2 <- d1 until dim
    } yield (d1, d2)
    val triMap = tri.zipWithIndex
      .collect { case ((d1, d2), i) if d1 < d2 =>
        (d1, d2, i + dim + 2,
          tri.indexOf((d1, d1)) + dim + 2, tri.indexOf((d2, d2)) + dim + 2)
      }
      .toDF("d1", "d2", "ixy", "ixx", "iyy")
    val n = element_at(col("m"), 1)
    val sx = element_at(col("m"), col("d1") + 2)
    val sy = element_at(col("m"), col("d2") + 2)
    moments.crossJoin(broadcast(triMap))
      .select(col("d1").cast("long").as("d1"), col("d2").cast("long").as("d2"),
        ((n * element_at(col("m"), col("ixy")) - sx * sy) /
          (sqrt(n * element_at(col("m"), col("ixx")) - sx * sx) *
            sqrt(n * element_at(col("m"), col("iyy")) - sy * sy))).as("corr"))
      // a zero-variance (dead/constant) dimension makes corr NaN for
      // all its pairs, and Spark sorts NaN ABOVE every finite double —
      // without this filter the diagnostic's top-k would be monopolized
      // by exactly the dead dims it exists to help find
      .filter(!isnan(col("corr")))
      .withColumn("rank", row_number().over(Window.orderBy(
        abs(col("corr")).desc, col("d1").asc, col("d2").asc)).cast("long"))
      .filter(col("rank") <= DimCorrK)
  }

  // ── Deterministic sparse random projection (q123) ─────────────────────

  /** The ±1 sign matrix of the projection, derived once on the DRIVER
    * from the engine's seeded FNV hash (bit 33 of the avalanched value —
    * well-diffused, unlike FNV's parity-tracking low bit) and baked into
    * the plan as literals. signs(j)(i) is the sign applied to input
    * dimension i for output dimension j.
    */
  def projSigns(k: Int, d: Int): Seq[Seq[Int]] =
    (0 until k).map { j =>
      (0 until d).map { i =>
        val h = graft.functions.HashImpl.fnv1a64Seeded(
          j.toLong, org.apache.spark.unsafe.types.UTF8String.fromString(i.toString))
        if (((h >>> 33) & 1L) == 1L) 1 else -1
      }
    }

  /** k-center greedy coreset (q156, k = [[KCenterK]]) — Gonzalez (1985) farthest-first
    * traversal, the diversity-sampling tier of training-data curation
    * (pick k maximally-spread exemplars, then assign every vector to
    * its nearest): seed with the min-id vector, then k−1 rounds of
    * "add the point whose nearest selected center is farthest"
    * (argmin over max-cosine-to-selected, id tiebreak). Each round is
    * one distributed max-cos aggregate against the ≤k-row broadcast
    * center frame followed by a 1-ROW driver collect — the bounded
    * driver-artifact pattern of the IVF/PQ trainers (the centers ARE
    * the product). Final assignment is one broadcast nearest-center
    * pass over the corpus.
    *
    * Scale: k·|corpus| cosine folds total, no corpus shuffle (the
    * per-round argmin ships k candidate rows per partition after a
    * partial sort — Spark's TakeOrdered); center state on the driver
    * is k vectors by construction.
    */
  def kCenterCoreset(spark: SparkSession, embeddings: DataFrame): DataFrame = {
    GraftFunctions.register(spark)
    import spark.implicits._
    // x feeds every greedy round's scan AND the final assignment pass —
    // materialize the two-column projection ONCE (r17, guide §5) so the
    // k−1 rounds don't re-read the source each time (the old form also
    // re-scanned it per round through a join-back that only fetched the
    // selected point's embedding — folded into the aggregate below).
    val x = embeddings.select(col("vec_id"), col("embedding"))
      .localCheckpoint(true)
    val seedRows = x.orderBy(col("vec_id").asc).limit(1).collect()
    require(seedRows.nonEmpty, "kCenterCoreset: empty embeddings frame")
    val seed = seedRows.head
    var centers = Seq[(Long, Seq[Float])](
      seed.getLong(0) -> seed.getSeq[Float](1))
    var remaining = true
    for (_ <- 2 to KCenterK if remaining) {
      val selDf = centers.toDF("c_id", "c_emb")
      // `first(embedding)` is deterministic here: embedding is
      // functionally determined by the vec_id group key (every row in
      // the group carries the same array), so the former
      // `.limit(1).join(x, "vec_id")` — one more scan of x per round —
      // collapses into the aggregate (r17)
      val nextRows = x.filter(!col("vec_id").isInCollection(centers.map(_._1)))
        .crossJoin(broadcast(selDf))
        .groupBy(col("vec_id"))
        .agg(max(cos(col("embedding"), col("c_emb"))).as("mc"),
          first(col("embedding")).as("embedding"))
        .orderBy(col("mc").asc, col("vec_id").asc)
        .limit(1).collect()
      // fewer than KCenterK vectors in the corpus: every point is already a
      // center — stop instead of NoSuchElementException on the empty
      // selection (the coreset is then the whole corpus, which is the
      // correct degenerate answer)
      nextRows.headOption match {
        case Some(next) =>
          centers = centers :+ (next.getLong(0) -> next.getSeq[Float](2))
        case None => remaining = false
      }
    }
    val selDf = centers.toDF("c_id", "c_emb")
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    x.crossJoin(broadcast(selDf))
      .withColumn("cos", cos(col("embedding"), col("c_emb")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("c_id").as("center_id"), col("cos"),
        col("vec_id").isInCollection(centers.map(_._1)).as("is_center"))
  }

  /** MMR diverse reranking (q158) — maximal marginal relevance
    * (Carbonell & Goldstein, SIGIR'98), the anti-redundancy rerank
    * every retrieval stack bolts onto plain top-k: start from the
    * most relevant candidate, then greedily add
    *   argmax_c [ λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s) ].
    * λ=1/2 is an exact binary double. The greedy is inherently
    * sequential in k, so the k−1 rounds are UNROLLED as dataframe
    * stages (the q156 farthest-first anatomy, per query): each round
    * is an anti-join off the accumulated picks, one per-query max-sim
    * aggregate against the ≤k-row pick set, and a rank-1 window cut
    * with (score, id) tiebreak — all partitioned by query, so rounds
    * never see more than |queries|·[[MmrCand]] rows (k = [[MmrK]]).
    *
    * Scale: the candidate pool is WindowGroupLimit-capped to [[MmrCand]]
    * per query BEFORE any pairwise work; each round's pairwise stage
    * is |queries|·cand·(round) cosines. The corpus is touched once,
    * by the relevance scan.
    */
  def mmrRerank(spark: SparkSession, embeddings: DataFrame,
                queries: DataFrame): DataFrame = {
    GraftFunctions.register(spark)
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"))
    val c = embeddings.select(col("vec_id").as("cid"),
      col("embedding").as("cv"))
    val wRel = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("cid").asc)
    val candPool = c.join(broadcast(q), col("query_id") =!= col("cid"))
      .withColumn("rel", cos(col("qv"), col("cv")))
      .withColumn("crank", row_number().over(wRel))
      .filter(col("crank") <= MmrCand)
      .select(col("query_id"), col("cid"), col("cv"), col("rel"))
      .localCheckpoint(true)
    var sel = candPool.withColumn("rn", row_number().over(wRel))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("cid"), col("cv"), col("rel"),
        lit(1L).as("rank"), col("rel").as("mmr"))
    for (r <- 2 to MmrK) {
      val picks = sel.select(col("query_id"), col("cid").as("sid"),
        col("cv").as("sv"))
      val rem = candPool.join(picks.select(col("query_id"),
          col("sid").as("cid")), Seq("query_id", "cid"), "left_anti")
      val wMmr = Window.partitionBy(col("query_id"))
        .orderBy(col("mmr").desc, col("cid").asc)
      val next = rem.join(picks, Seq("query_id"))
        .withColumn("sim", cos(col("cv"), col("sv")))
        .groupBy(col("query_id"), col("cid"))
        .agg(first(col("cv")).as("cv"), first(col("rel")).as("rel"),
          max(col("sim")).as("max_sim"))
        .withColumn("mmr",
          lit(0.5) * col("rel") - lit(0.5) * col("max_sim"))
        .withColumn("rn", row_number().over(wMmr))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("cid"), col("cv"), col("rel"),
          lit(r.toLong).as("rank"), col("mmr"))
      // truncate lineage each round: sel is ≤ |queries|·r rows, and
      // without this every later round re-derives the whole union
      // chain (quadratic stage growth across the k rounds)
      sel = sel.unionByName(next).localCheckpoint(true)
    }
    sel.select(col("query_id"), col("rank"), col("cid").as("doc_id"),
      col("rel"), col("mmr"))
  }

  /** Binary sign-quantized ANN (q155) — the 1-bit tier of the
    * quantization ladder (int8 q47 → PQ q129 → sign bits here, the
    * Hamming-rerank pattern of Indyk–Motwani SimHash retrieval):
    * each 64-dim vector packs to TWO 64-bit words of sign bits (32×
    * smaller than float32), candidate generation is xor+popcount —
    * pure integer whole-stage-codegen at scan speed — and only the
    * [[BinaryCand]] Hamming-nearest per query pay the exact float cosine
    * rerank. Candidate and final cuts rank on (integer hamming, id)
    * and (cos, id) — the q20 determinism contract.
    *
    * Scale: the corpus-side scan reads 16 bytes/vector instead of
    * 256; the per-query cap is a WindowGroupLimit before any float
    * work, so rerank cost is |queries|·cand, not |queries|·|corpus|.
    */
  def binaryHammingTopK(spark: SparkSession, embeddings: DataFrame,
                        queries: DataFrame, k: Int = 10): DataFrame = {
    GraftFunctions.register(spark)
    def signWord(emb: Column, lo: Int): Column =
      (0 until 32).map { i =>
        when(element_at(emb, lo + i + 1).cast("double") > 0.0,
          lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
    def packed(df: DataFrame, idAs: String, vecAs: String, p: String) =
      df.select(col("vec_id").as(idAs), col("embedding").as(vecAs),
        signWord(col("embedding"), 0).as(s"${p}w0"),
        signWord(col("embedding"), 32).as(s"${p}w1"))
    val c = packed(embeddings, "neighbor_id", "cv", "c")
    val q = packed(queries, "query_id", "qv", "q")
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("hamming",
        (bit_count(col("qw0").bitwiseXOR(col("cw0"))) +
          bit_count(col("qw1").bitwiseXOR(col("cw1")))).cast("long"))
    val wH = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    val wC = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("crank", row_number().over(wH))
      .filter(col("crank") <= BinaryCand)
      .withColumn("cos", cos(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(wC))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("hamming"), col("cos"))
  }

  /** Johnson–Lindenstrauss-style dimensionality reduction with a
    * DETERMINISTIC dense ±1 projection (Achlioptas 2003 — a ±1 matrix
    * preserves pairwise geometry like a Gaussian one, at integer cost):
    * the d-dim embedding is absmax-int8-quantized (cosine is invariant
    * to the per-vector scale), then each of the [[ProjK]] output components is
    * Σ_i sign(j,i)·q_i — pure integer arithmetic, which is what puts a
    * projection under the bit-exact oracle gate at all.
    *
    * Scale: row-local HOFs over literal sign arrays — no shuffle, no
    * per-row hashing (signs are plan constants), embarrassingly
    * parallel; output is k longs per row (k≪d storage win, the point
    * of projecting before an ANN index or a near-dup pass).
    */
  def randomProjection(embeddings: DataFrame): DataFrame = {
    val signs = projSigns(ProjK, Dim)
    val q = GraftFunctions.quantizeI8(col("embedding"))
    val comps = signs.zipWithIndex.map { case (sj, j) =>
      val sLit = array(sj.map(v => lit(v.toLong)): _*)
      aggregate(
        zip_with(col("qv"), sLit, (a, b) => a.cast("long") * b),
        lit(0L), (acc, x) => acc + x).as(f"p$j%02d")
    }
    embeddings.withColumn("qv", q)
      .select(col("vec_id") +: comps: _*)
  }

  // ── Hard-negative mining (q124) ───────────────────────────────────────

  /** Contrastive-training hard negatives: for each anchor, the top-k
    * most similar vectors with a DIFFERENT label — the negatives that
    * actually teach a metric model something (random negatives are
    * trivially separable). Same broadcast shape as [[bruteForceTopK]]
    * with the label disequality folded into the join, so the corpus
    * never shuffles; swap in [[annTopK]]'s bucketing for the 100 TB
    * path once anchors stop being broadcastable.
    */
  def hardNegatives(spark: SparkSession, embeddings: DataFrame,
                    anchors: DataFrame, k: Int): DataFrame = {
    GraftFunctions.register(spark)
    val a = anchors.select(col("vec_id").as("anchor_id"),
      col("embedding").as("av"), col("label").as("anchor_label"))
    val c = embeddings.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv"), col("label").as("neighbor_label"))
    val scored = c.join(broadcast(a),
        col("anchor_id") =!= col("neighbor_id") &&
          col("anchor_label") =!= col("neighbor_label"))
      .select(col("anchor_id"), col("neighbor_id"),
        cos(col("av"), col("cv")).as("cos"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  // ── PCA projection (q125) ─────────────────────────────────────────────

  /** Principal-component projection of the embedding corpus: the d×d
    * covariance is assembled from the SAME single-pass Gram-moment
    * aggregate q65 gates (one ObjectHashAggregate over the corpus —
    * the only distributed work), eigen-decomposed on the driver with
    * FIXED-ROUND power iteration + deflation (d ≤ 64, so this is
    * microseconds on KBs of data — the standard big-data PCA split:
    * moments distributed, eigen local), and the top-r eigenvectors are
    * broadcast back as plan literals to project every row.
    *
    * Power iteration (not Jacobi) is what puts this query under the
    * hash-oracle gate: every step is a fixed count of matrix-vector
    * folds in a pinned left-to-right order, so the DuckDB oracle
    * (OracleHashSql.q125PcaPower) unrolls the identical rounds over
    * the identical covariance formula — the same unrolled-loop oracle
    * technique as q61's PageRank and q129's k-means. [[jacobiEigen]]
    * stays as the independent cross-check: specs assert the power
    * basis spans the same subspace (orthonormality, eigenvalue match,
    * captured variance).
    *
    * Returns (vec_id, c00..c{r-1}) — each row's coordinates in the
    * top-r principal directions (centered).
    */
  def pcaProject(spark: SparkSession, embeddings: DataFrame,
                 r: Int = 4): DataFrame = {
    val model = pcaPowerModel(spark, embeddings, r)
    val comps = model.eigvecs.take(r).zipWithIndex.map { case (v, j) =>
      val vLit = array(v.toIndexedSeq.map(x => lit(x)): _*)
      val mLit = array(model.mean.toIndexedSeq.map(x => lit(x)): _*)
      aggregate(
        zip_with(zip_with(col("embedding").cast("array<double>"), mLit,
            (x, m) => x - m), vLit, (xc, vv) => xc * vv),
        lit(0.0), (acc, x) => acc + x).as(f"c$j%02d")
    }
    embeddings.select((col("vec_id") +: comps).toIndexedSeq: _*)
  }

  /** Fitted PCA basis: corpus mean, eigenvalues (descending) and
    * matching unit eigenvectors — everything the projection needs,
    * returned together (no hidden driver state).
    */
  case class PcaModel(mean: Array[Double], eigvals: Array[Double],
                      eigvecs: Array[Array[Double]])

  /** Fixed round count for the oracle-mirrored power iteration: enough
    * that the basis is converged well past the r4 output rounding on
    * any spectrum the specs admit, small enough that the unrolled
    * DuckDB CTE chain stays trivial (r·iters single-row matvecs).
    */
  val PcaPowerIters: Int = 60

  /** Top-r eigenpairs of a symmetric PSD matrix by FIXED-ROUND power
    * iteration with deflation — the oracle-mirrorable eigen: every
    * operation is a pinned-order left fold (init = all-ones/√d, w=Cv
    * with j ascending from 0.0, 2-norm the same way, Rayleigh λ=v·Cv,
    * deflation C−λvvᵀ elementwise), so OracleHashSql.q125PcaPower can
    * replay the identical arithmetic in DuckDB list folds and the
    * driver hash certifies the whole pipeline, not just its geometry.
    * Sign is fixed for OUTPUT only (first max-|component| positive);
    * deflation uses the raw iterate (vvᵀ is sign-invariant), so both
    * engines' iterates track bit-for-bit up to the covariance's own
    * summation noise.
    */
  def powerBasis(covIn: Array[Array[Double]], r: Int,
                 iters: Int): (Array[Double], Array[Array[Double]]) = {
    val d = covIn.length
    val m = covIn.map(_.clone())
    def matvec(v: Array[Double]): Array[Double] = {
      val w = new Array[Double](d)
      var i = 0
      while (i < d) {
        var acc = 0.0; var j = 0
        while (j < d) { acc += m(i)(j) * v(j); j += 1 }
        w(i) = acc; i += 1
      }
      w
    }
    val vals = new Array[Double](r)
    val vecs = new Array[Array[Double]](r)
    for (c <- 0 until r) {
      var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
      for (_ <- 0 until iters) {
        val w = matvec(v)
        var nsq = 0.0; var i = 0
        while (i < d) { nsq += w(i) * w(i); i += 1 }
        val nrm = math.sqrt(nsq)
        v = w.map(_ / nrm)
      }
      val w = matvec(v)
      var lam = 0.0
      locally { var i = 0; while (i < d) { lam += v(i) * w(i); i += 1 } }
      vals(c) = lam
      val mi = v.indices.maxBy(i => math.abs(v(i)))
      vecs(c) = if (v(mi) < 0) v.map(x => -x) else v
      for (i <- 0 until d; j <- 0 until d)
        m(i)(j) = m(i)(j) - lam * v(i) * v(j)
    }
    (vals, vecs)
  }

  /** [[pcaModel]]'s covariance + mean, eigen-solved by [[powerBasis]]
    * instead of Jacobi — the hash-certifiable variant q125 declares.
    */
  def pcaPowerModel(spark: SparkSession, embeddings: DataFrame, r: Int): PcaModel = {
    val (mean, cov) = covarianceMoments(spark, embeddings, Dim)
    val (vals, vecs) = powerBasis(cov, r, PcaPowerIters)
    PcaModel(mean, vals, vecs)
  }

  /** Covariance eigensystem of the embedding corpus: one distributed
    * pass (count + per-dim sums + upper-tri Gram) then local cyclic
    * Jacobi — the orthodox route for d ≤ a few hundred.
    */
  private[graft] def pcaModel(spark: SparkSession, embeddings: DataFrame): PcaModel = {
    val (mean, cov) = covarianceMoments(spark, embeddings, Dim)
    val (vals, vecs) = jacobiEigen(cov)
    PcaModel(mean, vals, vecs)
  }

  /** One distributed Gram-moment pass → (mean, covariance). The cov
    * entry formula `(Σxy − ΣxΣy/n)/n` is pinned — the q125 oracle
    * mirrors it verbatim, so keep the algebraic form stable.
    */
  private[graft] def covarianceMoments(spark: SparkSession,
      embeddings: DataFrame, dim: Int): (Array[Double], Array[Array[Double]]) = {
    import graft.functions.Aggregators
    val gramAgg = org.apache.spark.sql.functions.udaf(new Aggregators.GramMoments(dim))
    val e = embeddings.select(col("embedding").cast("array<double>").as("e"))
    val m = e.agg(gramAgg(col("e")).as("m")).head().getSeq[Double](0).toArray
    val n = m(0)
    val sums = m.slice(1, dim + 1)
    val mean = sums.map(_ / n)
    // upper-tri gram at m(dim+1 + idx), idx over d1<=d2 pairs (d1 asc,
    // d2 from d1) — same layout dimCorrelation reads.
    val cov = Array.ofDim[Double](dim, dim)
    var idx = dim + 1
    for (d1 <- 0 until dim; d2 <- d1 until dim) {
      val c = (m(idx) - sums(d1) * sums(d2) / n) / n
      cov(d1)(d2) = c; cov(d2)(d1) = c
      idx += 1
    }
    (mean, cov)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix. O(d^3)
    * per sweep, a handful of sweeps to converge — driver-local by
    * design (the matrix is d×d, not data-sized). Returns eigenvalues
    * sorted descending with matching unit eigenvectors (sign fixed:
    * largest-|component| positive, for determinism).
    */
  private[graft] def jacobiEigen(
      aIn: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = aIn.length
    val a = aIn.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 50 && off > 1e-12) {
      off = 0.0
      for (p <- 0 until d; q <- (p + 1) until d) {
        off = math.max(off, math.abs(a(p)(q)))
        if (math.abs(a(p)(q)) > 1e-15) {
          val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
          val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0)) match {
            case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
            case x => x
          }
          val c = 1.0 / math.sqrt(t * t + 1.0)
          val s = t * c
          for (i <- 0 until d) {
            val aip = a(i)(p); val aiq = a(i)(q)
            a(i)(p) = c * aip - s * aiq
            a(i)(q) = s * aip + c * aiq
          }
          for (i <- 0 until d) {
            val api = a(p)(i); val aqi = a(q)(i)
            a(p)(i) = c * api - s * aqi
            a(q)(i) = s * api + c * aqi
          }
          for (i <- 0 until d) {
            val vip = v(i)(p); val viq = v(i)(q)
            v(i)(p) = c * vip - s * viq
            v(i)(q) = s * vip + c * viq
          }
        }
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => -a(i)(i))
    val vals = order.map(i => a(i)(i)).toArray
    val vecs = order.map { i =>
      val col0 = (0 until d).map(r0 => v(r0)(i)).toArray
      val maxIdx = col0.indices.maxBy(j => math.abs(col0(j)))
      if (col0(maxIdx) < 0) col0.map(-_) else col0
    }.toArray
    (vals, vecs)
  }

  // ---- Product quantization (q129) --------------------------------------

  /** Per-subspace PQ codebooks (Jégou et al., PAMI 2011) trained
    * driver-side over the SAME bounded sorted sample as
    * [[sampledKmeansCentroids]], with the same determinism contract:
    * stride init over the vec_id-sorted sample, Lloyd assignment by
    * squared L2 computed as an in-order left fold of (x−c)·(x−c)
    * (explicit multiply — never Math.pow, whose rounding the oracle
    * could not mirror), ties to the lowest code, per-dim means
    * accumulated in vec_id order, empty codes keep their centroid.
    * Every double is reproduced verbatim by the oracle's unrolled
    * per-subspace SQL (OracleHashSql.q129PqAdc).
    *
    * Returns m codebooks of ks centroids of dim/m doubles each.
    */
  private[graft] def sampledPqCodebooks(spark: SparkSession,
                                        embeddings: DataFrame, m: Int, ks: Int,
                                        iters: Int, sampleN: Int,
                                        dim: Int): Seq[Seq[Seq[Double]]] = {
    val ds = dim / m
    require(m * ds == dim, s"dim $dim not divisible into $m subspaces")
    val rows = embeddings.orderBy(col("vec_id")).limit(sampleN)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    // The oracle (OracleHashSql.q129PqAdc) hardcodes stride = sampleN / ks;
    // a short table would silently diverge the init centroids, so fail loudly
    // instead of letting the hash check mismatch confusingly.
    require(rows.length == sampleN,
      s"embeddings sample has ${rows.length} rows, expected exactly $sampleN " +
        "(oracle derives init stride from sampleN — table too small for this config)")
    val stride = rows.length / ks
    (0 until m).map { j =>
      val subs = rows.map { case (id, v) => (id, v.slice(j * ds, (j + 1) * ds)) }
      var cents: Array[Array[Double]] =
        (0 until ks).map(c => subs(c * stride)._2).toArray
      for (_ <- 0 until iters) {
        val sums = Array.fill(ks)(new Array[Double](ds))
        val counts = new Array[Long](ks)
        subs.foreach { case (_, sv) =>
          var best = 0; var bestD = Double.PositiveInfinity
          var c = 0
          while (c < ks) {
            var acc = 0.0; var d = 0
            while (d < ds) {
              val diff = sv(d) - cents(c)(d); acc += diff * diff; d += 1
            }
            if (acc < bestD) { best = c; bestD = acc } // strict <: lowest code wins ties
            c += 1
          }
          counts(best) += 1
          var d = 0
          while (d < ds) { sums(best)(d) += sv(d); d += 1 }
        }
        cents = (0 until ks).map { c =>
          if (counts(c) == 0) cents(c)
          else {
            val mv = new Array[Double](ds)
            var d = 0
            while (d < ds) { mv(d) = sums(c)(d) / counts(c); d += 1 }
            mv
          }
        }.toArray
      }
      cents.map(_.toSeq).toSeq
    }
  }

  /** m × ks per-row tables against the codebook literal, shared by
    * [[pqAdcTopK]] and [[ivfPqTopK]] so the fold order the oracle
    * mirrors term-for-term exists in exactly one place: squared-L2
    * distances (explicit (x−c)·(x−c), in-order over dims) and
    * dot-product LUT entries.
    */
  private def pqSubL2s(cbLit: Column, emb: Column,
                       m: Int, ks: Int, ds: Int): Column =
    transform(sequence(lit(0), lit(m - 1)), j =>
      transform(sequence(lit(0), lit(ks - 1)), kk =>
        aggregate(sequence(lit(1), lit(ds)), lit(0.0), (acc, d) => {
          val x = element_at(emb, (j * ds + d).cast("int")).cast("double")
          val c = element_at(element_at(element_at(cbLit, j + 1), kk + 1), d)
          acc + (x - c) * (x - c)
        })))

  private def pqLut(cbLit: Column, emb: Column,
                    m: Int, ks: Int, ds: Int): Column =
    transform(sequence(lit(0), lit(m - 1)), j =>
      transform(sequence(lit(0), lit(ks - 1)), kk =>
        aggregate(sequence(lit(1), lit(ds)), lit(0.0), (acc, d) => {
          val x = element_at(emb, (j * ds + d).cast("int")).cast("double")
          val c = element_at(element_at(element_at(cbLit, j + 1), kk + 1), d)
          acc + x * c
        })))

  /** PQ-ADC approximate top-k (q129): the codebook-compression ANN
    * tier — each corpus vector is encoded ONCE into m one-byte codes
    * (argmin-L2 per subspace against its codebook), and a query scores
    * a vector by summing m lookup-table entries (asymmetric distance
    * computation: LUT[j][code_j] = ⟨q_j, c_{j,code_j}⟩) instead of a
    * dim-wide float op. Top-`PqTopC` ADC candidates per query are then
    * reranked by EXACT cosine; precision of the final top-k is exact
    * given the candidates, recall is the PQ approximation (spec-bounded
    * against brute force).
    *
    * Scale: encoding is a per-row codegen HOF against codebook
    * LITERALS (m·ks·ds doubles ≈ KBs in the plan — the standard
    * broadcast-model pattern), zero shuffle; the scored stream's
    * rank-filter runs through WindowGroupLimit (map-side top-topC per
    * query before the exchange), so the shuffle carries
    * O(queries × topC) rows. This variant scans all codes per query —
    * PQ's fast-scan design point; at cell-restricted scale compose
    * with IVF ([[ivfPqTopK]]). All arithmetic is in-order left folds,
    * mirrored exactly by OracleHashSql.q129PqAdc.
    */
  def pqAdcTopK(spark: SparkSession, embeddings: DataFrame,
                queries: DataFrame, k: Int = 10): DataFrame = {
    GraftFunctions.register(spark)
    val (m, ks, ds) = (PqM, PqKs, Dim / PqM)
    val cb = sampledPqCodebooks(spark, embeddings, m, ks, PqIters, SampleN, Dim)
    val cbLit = typedlit(cb)
    // squared-L2 distances of every subvector to every centroid of its
    // subspace: m × ks doubles per row, one codegen pass
    val codes = embeddings
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
        pqSubL2s(cbLit, col("embedding"), m, ks, ds).as("dists"))
      // argmin per subspace; array_position returns the FIRST match →
      // lowest code wins exact ties (oracle: ORDER BY dist, code)
      .withColumn("codes", expr(
        "transform(dists, dd -> cast(array_position(dd, array_min(dd)) - 1 as int))"))
      .drop("dists")
    // per-query LUT: ⟨q_j, c_{j,k}⟩ for all (j, k) — m × ks doubles
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"),
      pqLut(cbLit, col("embedding"), m, ks, ds).as("lut"))
    val scored = codes.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      // ADC score: in-order fold over subspaces — deterministic sum
      .withColumn("adc", expr(s"""aggregate(sequence(0, ${m - 1}), 0.0D,
        (acc, j) -> acc + element_at(element_at(lut, j + 1),
                                     element_at(codes, j + 1) + 1))"""))
    val cands = scored
      .withColumn("crank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("adc").desc, col("neighbor_id").asc)))
      .filter(col("crank") <= PqTopC)
    cands
      .select(col("query_id"), col("neighbor_id"), cos(col("qv"), col("cv")).as("cos"))
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos"))
  }

  /** IVF-PQ (the Faiss/ScaNN production layout): IVF cells restrict
    * WHICH vectors a query scores (probed-cell candidates only), PQ
    * codes make each score a LUT fold instead of a dim-wide float op.
    * Cells come from [[sampledKmeansCentroids]] (cosine), codes/LUT
    * from [[sampledPqCodebooks]] (L2) — both driver-trained over
    * bounded samples, both broadcast as literals/small frames. Exact
    * cosine reranks the ADC top-`PqTopC`. Recall vs brute force is
    * spec-bounded (SimilaritySpec); the oracle-gated core is
    * [[pqAdcTopK]] (q129), which is this minus the cell restriction.
    */
  def ivfPqTopK(spark: SparkSession, embeddings: DataFrame,
                queries: DataFrame, k: Int = 10): DataFrame = {
    GraftFunctions.register(spark)
    import spark.implicits._
    val (m, ks, ds) = (PqM, PqKs, Dim / PqM)
    val cb = sampledPqCodebooks(spark, embeddings, m, ks, PqIters, SampleN, Dim)
    val cbLit = typedlit(cb)
    val cents = sampledKmeansCentroids(spark, embeddings, IvfCells, PqIters, SampleN)
    val centroids = broadcast(cents.toDF("cell_id", "centroid"))
    val wc = Window.partitionBy(col("vec_id"))
      .orderBy(col("cdist").desc, col("cell_id").asc)
    val codes = embeddings.select(col("vec_id"), col("embedding"))
      .crossJoin(centroids)
      .select(col("vec_id"), col("embedding"), col("cell_id"),
        cos(col("embedding"), col("centroid")).as("cdist"))
      .withColumn("crank", row_number().over(wc))
      .filter(col("crank") === 1)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
        col("cell_id"), pqSubL2s(cbLit, col("embedding"), m, ks, ds).as("dists"))
      .withColumn("codes", expr(
        "transform(dists, dd -> cast(array_position(dd, array_min(dd)) - 1 as int))"))
      .drop("dists")
    val q = queries.select(col("vec_id"), col("embedding"))
      .crossJoin(centroids)
      .select(col("vec_id"), col("embedding"), col("cell_id"),
        cos(col("embedding"), col("centroid")).as("cdist"))
      .withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= IvfProbes)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("cell_id"), pqLut(cbLit, col("embedding"), m, ks, ds).as("lut"))
    val scored = codes.join(broadcast(q), Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", expr(s"""aggregate(sequence(0, ${m - 1}), 0.0D,
        (acc, j) -> acc + element_at(element_at(lut, j + 1),
                                     element_at(codes, j + 1) + 1))"""))
    scored
      .withColumn("arank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("adc").desc, col("neighbor_id").asc)))
      .filter(col("arank") <= PqTopC)
      .select(col("query_id"), col("neighbor_id"), cos(col("qv"), col("cv")).as("cos"))
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos"))
  }

  /** Matryoshka truncation audit (q177) — Kusupati et al., NeurIPS'22:
    * MRL-trained embeddings promise that the FIRST dPrefix dimensions
    * alone retrieve almost as well as the full vector, which is what
    * makes cheap two-stage retrieval (coarse search on the prefix,
    * rerank on the full vector) safe to deploy. This measures that
    * promise on the actual corpus: per query, exact top-k under full-
    * dimension cosine vs top-k under prefix-only cosine, reporting the
    * overlap and recall (the deploy/don't-deploy number for dimension-
    * truncated indexes; these synthetic embeddings are NOT MRL-trained,
    * so expect visible degradation — which is the audit working).
    *
    * Both rankings are the q20 brute-force contract (broadcast queries,
    * per-partition scoring, tie-break by neighbor_id); the overlap is
    * one |queries|·k-sized join. recall_permille is integer arithmetic.
    */
  def matryoshkaRecall(spark: SparkSession, embeddings: DataFrame,
                       queries: DataFrame, k: Int,
                       dPrefix: Int): DataFrame = {
    val full = bruteForceTopK(spark, embeddings, queries, k)
      .select(col("query_id"), col("neighbor_id"))
    val embT = embeddings.withColumn("embedding",
      slice(col("embedding"), 1, dPrefix))
    val qT = queries.withColumn("embedding",
      slice(col("embedding"), 1, dPrefix))
    val trunc = bruteForceTopK(spark, embT, qT, k)
      .select(col("query_id"), col("neighbor_id"))
    val overlap = full.join(trunc, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_overlap"))
    full.groupBy(col("query_id")).agg(count(lit(1)).as("k_full"))
      .join(overlap, Seq("query_id"), "left")
      .na.fill(0L, Seq("n_overlap"))
      .select(col("query_id"), col("k_full"), col("n_overlap"),
        (col("n_overlap") * 1000L / col("k_full")).cast("long")
          .as("recall_permille"))
  }
}
