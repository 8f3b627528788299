package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.Similarity
import graft.sources.Tables

/** ANN-quality artifact (`RECALL.json`): recall@k of every approximate
  * similarity tier against brute-force ground truth (q20), on
  * `SPARK_GRAFT_SF_DIR`, over a wider query set (vec_id < 100) than
  * the 5-query oracle entries use. Prints ONE JSON line (same contract
  * as [[Bench]]/StreamBench) and writes it to `RECALL.json` (or
  * `SPARK_GRAFT_RECALL_OUT`), so an ANN recall regression becomes
  * diff-visible round over round instead of only when it crosses a
  * SimilaritySpec floor. The spec floors stay the hard gate; this
  * artifact records the actual numbers those floors bound.
  */
object Recall {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(4, "ERROR")
    val k = 10
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 100)
    def pairs(df: DataFrame): Set[(Long, Long)] = df
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Similarity.bruteForceTopK(spark, emb, queries, k))
    // derived, not assumed: a short fixture reports its real query count
    val nQueries = truth.map(_._1).toSet.size
    // same parameterizations as the oracle-gated queries (q21/q29/q44/
    // q129) plus the spec-only IVF-PQ composition
    val methods = Seq[(String, () => DataFrame)](
      "q21_ann_lsh" -> (() => Similarity.annTopK(spark, emb, queries, k)),
      "q29_ivf_firstN" -> (() => Similarity.ivfTopK(spark, emb, queries, k)),
      "q44_ivf_kmeans" -> (() => Similarity.ivfTopKTrained(spark, emb, queries, k)),
      "q129_pq_adc" -> (() => Similarity.pqAdcTopK(spark, emb, queries, k)),
      "ivf_pq" -> (() => Similarity.ivfPqTopK(spark, emb, queries, k)),
      "q155_binary_hamming" ->
        (() => Similarity.binaryHammingTopK(spark, emb, queries, k = k)),
      // q177's matryoshka tier, bare: exact search on the first 16 dims.
      // NOT a usable ANN path — recall is pure truncation loss; kept as
      // the calibration curve (labeled via `purpose` below) that tells
      // you how deep a prefix-16 shortlist must be.
      "q177_prefix16" -> (() => {
        import org.apache.spark.sql.functions.slice
        val cut = (df: DataFrame) =>
          df.withColumn("embedding", slice(col("embedding"), 1, 16))
        Similarity.bruteForceTopK(spark, cut(emb), cut(queries), k)
      }),
      // the USABLE matryoshka path: prefix-16 candidate stage with a
      // bounded shortlist, full-dim exact rerank. The synthetic
      // embeddings are near-isotropic (prefix dims carry only 16/64 of
      // the energy), so the calibration curve above says the shortlist
      // must run ~10% of the corpus deep; real matryoshka-trained
      // embeddings front-load energy and need far less.
      "q177_prefix16_rerank" ->
        (() => Similarity.prefixRerankTopK(spark, emb, queries, k,
          shortlist = 200)))
    val recalls = methods.map { case (name, fn) =>
      val got = pairs(fn())
      name -> (truth & got).size.toDouble / truth.size
    }
    val rj = Harness.obj(recalls.map { case (n, r) => n -> f"$r%.4f" })
    // self-describing artifact: tiers whose number is a calibration
    // readout, not a retrieval quality claim, say so
    val purpose =
      """{"q177_prefix16":"truncation-calibration (see q177_prefix16_rerank for the usable tier)"}"""
    val line =
      s"""{"metric":"recall_at_$k","truth_pairs":${truth.size},"n_queries":$nQueries,"recalls":$rj,"purpose":$purpose,"sf":"$sfDir"}"""
    Harness.finish(spark, sys.env.getOrElse("SPARK_GRAFT_RECALL_OUT", "RECALL.json"),
      line, line)
  }
}
