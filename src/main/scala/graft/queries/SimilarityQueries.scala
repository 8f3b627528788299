package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{AsOfJoin, Dedup, EntityResolution, GraphOps, Multimodal, PriceAlerts, Relational, Similarity, Sketches, TextAnalysis, TimeSeries}
import graft.QueryHelpers._

/** Similarity / ANN family: brute-force cosine, LSH, IVF(+PQ), coresets, projections, hard negatives, MMR.
  *
  * Registry split out of SparkEntry (round 9): the maps below are
  * merged back into `SparkEntry.queries` / `SparkEntry.oracleSql`,
  * so names, semantics, and the DuckDB-oracle pairing are unchanged.
  */
object SimilarityQueries {

  // q21/q29/q44/q129's depth and q125's components, passed to the operator
  // and the oracle alike
  private val AnnK = 10
  private val PcaRank = 4
  /** The query set of the top-k queries: the first `QueryIds` vectors by id.
    * The engine filters on it and every oracle reads it.
    */
  private[graft] final val QueryIds = 5

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Brute-force cosine top-k (exact ANN baseline).
    "q20_sim_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(s, emb, emb.filter(col("vec_id") < QueryIds), 10)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), r4(col("cos")).as("cos"))
        .orderBy("query_id", "rank")
    }),


    // LSH-bucketed ANN top-k (the scale path; recall vs q20 is tested
    // in SimilaritySpec). Oracle embeds the exact plane constants as
    // SQL literals (OracleHashSql.q21AnnLsh).
    "q21_sim_ann_lsh" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.annTopK(s, emb, emb.filter(col("vec_id") < QueryIds), AnnK)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), r4(col("cos")).as("cos"))
        .orderBy("query_id", "rank")
    }),


    // IVF ANN top-k (centroid cells + nProbe; recall vs q20 tested in
    // SimilaritySpec). Fully relational → exact DuckDB oracle.
    "q29_sim_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(s, emb, emb.filter(col("vec_id") < QueryIds), AnnK)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), r4(col("cos")).as("cos"))
        .orderBy("query_id", "rank")
    }),


    // IVF ANN top-k with deterministic sampled-k-means centroids — the
    // recall-quality variant you'd ship (q29's first-N centroids are
    // the trivial stand-in). Training is a bounded-sample driver-side
    // Lloyd with a fixed fold order; the oracle unrolls the same
    // iterations in SQL, so even the trained centroids are verified
    // bit-exactly.
    "q44_sim_ivf_kmeans" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopKTrained(s, emb, emb.filter(col("vec_id") < QueryIds), AnnK)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), r4(col("cos")).as("cos"))
        .orderBy("query_id", "rank")
    }),


    // Embedding dimension correlation (top-20 |Pearson| pairs) via the
    // Gram-matrix pattern: per-row outer-product expansion folded by
    // the typed VectorSum Aggregator — one moment vector per task ever
    // reaches the shuffle.
    "q65_dim_correlation" -> ((s, dir) => {
      Similarity.dimCorrelationTopK(s, Tables.embeddings(s, dir))
        .orderBy("rank")
    }),


    // Cluster cohesion: per-label centroid + member-to-centroid cosine
    // stats — embedding hygiene for a labeled corpus; centroids are a
    // labels-sized broadcast, zero pairwise work.
    "q88_cluster_cohesion" -> ((s, dir) => {
      Similarity.clusterCohesion(s, Tables.embeddings(s, dir))
        .select(col("label"), col("n_vecs"),
          r4(col("avg_cos")).as("avg_cos"), r4(col("min_cos")).as("min_cos"))
        .orderBy("label")
    }),


    // JL-style dimensionality reduction with a deterministic ±1
    // projection over int8-quantized embeddings — integer-exact, so
    // the projection itself sits under the hash-oracle gate.
    "q123_random_projection" -> ((s, dir) => {
      Similarity.randomProjection(Tables.embeddings(s, dir))
        .orderBy("vec_id")
    }),


    // Contrastive hard negatives: top-k most-similar vectors with a
    // DIFFERENT label per anchor (q20's broadcast shape + label
    // disequality in the join).
    "q124_hard_negatives" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.hardNegatives(s, emb, emb.filter(col("vec_id") < QueryIds), 10)
        .select(col("anchor_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), r4(col("cos")).as("cos"))
        .orderBy("anchor_id", "rank")
    }),


    // PCA projection: distributed Gram moments (the q65 aggregate) →
    // driver FIXED-ROUND power iteration + deflation → broadcast
    // top-r basis vectors as literals. The oracle unrolls the same
    // rounds in DuckDB list folds (q61/q129 technique), so the whole
    // pipeline is hash-certified; eigen GEOMETRY (orthonormality,
    // Jacobi cross-check, captured variance) is spec-verified.
    "q125_pca_project" -> ((s, dir) => {
      val p = Similarity.pcaProject(s, Tables.embeddings(s, dir), r = PcaRank)
      p.select((col("vec_id") +:
        p.columns.filter(_.startsWith("c")).toIndexedSeq
          .map(c => r4(col(c)).as(c))): _*)
        .orderBy("vec_id")
    }),


    // PQ-ADC approximate top-k (Jégou et al. product quantization):
    // per-subspace codebooks trained deterministically over a bounded
    // sample, corpus encoded to m byte codes per vector, queries score
    // via LUT folds, exact-cosine rerank — every double mirrored by
    // the oracle's unrolled per-subspace SQL. The IVF-composed form
    // (ivfPqTopK) is spec-bounded for recall.
    "q129_pq_adc_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.pqAdcTopK(s, emb, emb.filter(col("vec_id") < QueryIds), AnnK)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          r4(col("cos")).as("cos"))
        .orderBy("query_id", "rank")
    }),


    // MMR diverse rerank: λ·relevance − (1−λ)·max-sim-to-selected,
    // greedy rounds unrolled per query over the capped candidate pool.
    "q158_mmr_rerank" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.mmrRerank(s, emb, emb.filter(col("vec_id") < QueryIds))
        .select(col("query_id"), col("rank"), col("doc_id"),
          r4(col("rel")).as("rel"), r4(col("mmr")).as("mmr"))
        .orderBy("query_id", "rank")
    }),


    // k-center greedy coreset: Gonzalez farthest-first exemplars +
    // nearest-center assignment (diversity sampling for curation).
    "q156_kcenter_coreset" -> ((s, dir) => {
      Similarity.kCenterCoreset(s, Tables.embeddings(s, dir))
        .select(col("vec_id"), col("center_id"),
          r4(col("cos")).as("cos"), col("is_center"))
        .orderBy("vec_id")
    }),


    // Binary sign-quantized ANN: 2×64-bit sign words per vector,
    // xor+popcount Hamming candidates, exact cosine rerank on the
    // capped candidate set (the 1-bit tier after int8 q47 / PQ q129).
    "q155_binary_hamming_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.binaryHammingTopK(s, emb, emb.filter(col("vec_id") < QueryIds))
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("hamming"), r4(col("cos")).as("cos"))
        .orderBy("query_id", "rank")
    }),


    // Matryoshka truncation audit: recall@10 of prefix-16-dim cosine
    // retrieval vs the full 64-dim ranking, per query.
    "q177_matryoshka_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.matryoshkaRecall(s, emb,
          emb.filter(col("vec_id") < 20), 10, 16)
        .orderBy("query_id")
    }),
  )

  /** DuckDB oracle SQL for every query above (same keys). */
  val oracleSql: Map[String, String] = Map(

    "q20_sim_topk" ->
      s"""WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                CAST(c.embedding AS DOUBLE[])) AS cos
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < $QueryIds)
        |SELECT query_id, rank, neighbor_id, floor((cos) * 10000 + 0.5) / 10000 AS cos
        |FROM (SELECT query_id, neighbor_id, cos,
        |             row_number() OVER (PARTITION BY query_id
        |                                ORDER BY cos DESC, neighbor_id ASC) AS rank
        |      FROM scored)
        |WHERE rank <= 10
        |ORDER BY 1, 2""".stripMargin,

    "q21_sim_ann_lsh" ->
      OracleHashSql.q21AnnLsh(Similarity.annPlaneSets, AnnK),

    "q29_sim_ivf" -> OracleHashSql.q29Ivf(AnnK),

    "q44_sim_ivf_kmeans" -> OracleHashSql.q44IvfKmeans(AnnK),


    // q65: pairwise dim moments via a (vec, dim)-exploded self-join —
    // the oracle can afford dim²·N rows at fixture scale; the engine's
    // Gram fold computes the same sums (order-noise ~1e-15 only).
    "q65_dim_correlation" ->
      s"""WITH x AS MATERIALIZED (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |dims AS MATERIALIZED (
        |  SELECT vec_id, s.d AS d, s.v AS v FROM (
        |    SELECT vec_id,
        |           unnest(list_transform(range(${Similarity.Dim}), j ->
        |             {'d': j, 'v': e[(j+1)::INT]})) AS s
        |    FROM x)),
        |stats AS (
        |  SELECT a.d AS d1, b.d AS d2, count(*)::DOUBLE AS n,
        |         sum(a.v) AS sx, sum(b.v) AS sy,
        |         sum(a.v*a.v) AS sxx, sum(b.v*b.v) AS syy,
        |         sum(a.v*b.v) AS sxy
        |  FROM dims a JOIN dims b ON a.vec_id = b.vec_id AND a.d < b.d
        |  GROUP BY 1, 2)
        |SELECT * FROM (
        |  SELECT d1::BIGINT AS d1, d2::BIGINT AS d2,
        |         (n*sxy - sx*sy) /
        |           (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)) AS corr,
        |         row_number() OVER (ORDER BY abs((n*sxy - sx*sy) /
        |           (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy))) DESC,
        |           d1, d2)::BIGINT AS rank
        |  FROM stats)
        |WHERE rank <= ${Similarity.DimCorrK}
        |ORDER BY rank""".stripMargin,


    // q88: per-dim centroid sums, then list_cosine_similarity to the
    // rebuilt centroid list (summation-order noise absorbed by r4).
    "q88_cluster_cohesion" ->
      """WITH e AS (
        |  SELECT label::BIGINT AS label,
        |         CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings),
        |dims AS (
        |  SELECT label, i, SUM(e[i]) AS s, COUNT(*)::BIGINT AS n
        |  FROM (SELECT label, e, unnest(range(1, 65)) AS i FROM e)
        |  GROUP BY 1, 2),
        |cents AS (
        |  SELECT label, max(n) AS n_vecs,
        |         list(s / n ORDER BY i) AS centroid
        |  FROM dims GROUP BY 1),
        |scored AS (
        |  SELECT e.label, n_vecs,
        |         list_cosine_similarity(e.e, c.centroid) AS cos
        |  FROM e JOIN cents c ON e.label = c.label)
        |SELECT label, max(n_vecs) AS n_vecs,
        |       floor(avg(cos) * 10000 + 0.5) / 10000 AS avg_cos,
        |       floor(min(cos) * 10000 + 0.5) / 10000 AS min_cos
        |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin,


    // q123: q47's quantization CTE + the exact ±1 sign lists baked as
    // literals (Similarity.projSigns is the single source of truth,
    // like q21's plane constants) — all-integer, hash-exact.
    "q123_random_projection" -> {
      val signs = Similarity.projSigns(Similarity.ProjK, Similarity.Dim)
      val comps = signs.zipWithIndex.map { case (sj, j) =>
        val lits = sj.map(_.toString).mkString("[", ",", "]::BIGINT[]")
        f"list_sum(list_transform(range(${Similarity.Dim}), i -> q[(i+1)::INT] * ($lits)[(i+1)::INT]))::BIGINT AS p$j%02d"
      }.mkString(",\n       ")
      s"""WITH s AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |sc AS (
         |  SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS scale
         |  FROM s),
         |qt AS (
         |  SELECT vec_id,
         |         CASE WHEN scale > 0
         |              THEN list_transform(e, x -> floor(x / scale * 127 + 0.5)::BIGINT)
         |              ELSE list_transform(e, x -> 0::BIGINT) END AS q
         |  FROM sc)
         |SELECT vec_id,
         |       $comps
         |FROM qt ORDER BY vec_id""".stripMargin
    },


    // q124: q20's oracle with the label-disequality join condition.
    "q124_hard_negatives" ->
      s"""WITH scored AS (
        |  SELECT q.vec_id AS anchor_id, c.vec_id AS neighbor_id,
        |         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                CAST(c.embedding AS DOUBLE[])) AS cos
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id <> c.vec_id AND q.label <> c.label
        |  WHERE q.vec_id < $QueryIds)
        |SELECT anchor_id, rank, neighbor_id,
        |       floor((cos) * 10000 + 0.5) / 10000 AS cos
        |FROM (SELECT anchor_id, neighbor_id, cos,
        |             row_number() OVER (PARTITION BY anchor_id
        |                                ORDER BY cos DESC, neighbor_id ASC)
        |               AS rank
        |      FROM scored)
        |WHERE rank <= 10
        |ORDER BY 1, 2""".stripMargin,


    "q125_pca_project" -> OracleHashSql.q125PcaPower(PcaRank),

    "q129_pq_adc_topk" -> OracleHashSql.q129PqAdc(AnnK),

    "q158_mmr_rerank" -> OracleHashSql.q158Mmr,

    "q156_kcenter_coreset" -> OracleHashSql.q156KCenter,


    // q155: identical sign packing (two BIGINT words), xor+bit_count
    // Hamming, integer candidate cut, then the q20 cosine contract.
    "q155_binary_hamming_ann" ->
      s"""WITH b AS MATERIALIZED (
        |  SELECT vec_id, embedding,
        |    list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 32),
        |      i -> CASE WHEN embedding[(i+1)::INT] > 0
        |                THEN (1::BIGINT << i::INT) ELSE 0::BIGINT END)),
        |      (a, x) -> a + x) AS w0,
        |    list_reduce(list_prepend(0::BIGINT, list_transform(range(32, 64),
        |      i -> CASE WHEN embedding[(i+1)::INT] > 0
        |                THEN (1::BIGINT << (i-32)::INT) ELSE 0::BIGINT END)),
        |      (a, x) -> a + x) AS w1
        |  FROM embeddings),
        |sc AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         (bit_count(xor(q.w0, c.w0)) +
        |          bit_count(xor(q.w1, c.w1)))::BIGINT AS hamming,
        |         CAST(q.embedding AS DOUBLE[]) AS qe,
        |         CAST(c.embedding AS DOUBLE[]) AS ce
        |  FROM b q JOIN b c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < $QueryIds),
        |cand AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |                 ORDER BY hamming, neighbor_id) AS crank
        |    FROM sc) WHERE crank <= ${Similarity.BinaryCand}),
        |rr AS (
        |  SELECT query_id, neighbor_id, hamming,
        |         list_cosine_similarity(qe, ce) AS cos
        |  FROM cand)
        |SELECT query_id, rank, neighbor_id, hamming,
        |       floor(cos * 10000 + 0.5) / 10000 AS cos
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                   ORDER BY cos DESC, neighbor_id) AS rank
        |      FROM rr)
        |WHERE rank <= 10 ORDER BY 1, 2""".stripMargin,


    // q177: both rankings are the q20 brute-force contract; the
    // truncated side slices the list before the cosine.
    "q177_matryoshka_recall" ->
      """WITH qs AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
        |full_r AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |           row_number() OVER (PARTITION BY q.vec_id
        |             ORDER BY list_cosine_similarity(
        |               CAST(q.embedding AS DOUBLE[]),
        |               CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rnk
        |    FROM qs q JOIN embeddings c ON q.vec_id <> c.vec_id)
        |  WHERE rnk <= 10),
        |trunc_r AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |           row_number() OVER (PARTITION BY q.vec_id
        |             ORDER BY list_cosine_similarity(
        |               CAST(q.embedding[1:16] AS DOUBLE[]),
        |               CAST(c.embedding[1:16] AS DOUBLE[])) DESC, c.vec_id) AS rnk
        |    FROM qs q JOIN embeddings c ON q.vec_id <> c.vec_id)
        |  WHERE rnk <= 10),
        |ov AS (
        |  SELECT f.query_id, count(*)::BIGINT AS n_overlap
        |  FROM full_r f JOIN trunc_r t
        |    ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
        |  GROUP BY 1)
        |SELECT f.query_id, count(*)::BIGINT AS k_full,
        |       coalesce(max(ov.n_overlap), 0)::BIGINT AS n_overlap,
        |       (coalesce(max(ov.n_overlap), 0) * 1000
        |          // count(*))::BIGINT AS recall_permille
        |FROM full_r f LEFT JOIN ov ON ov.query_id = f.query_id
        |GROUP BY f.query_id
        |ORDER BY f.query_id""".stripMargin,
  )
}
