package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{AsOfJoin, Dedup, EntityResolution, GraphOps, Multimodal, PriceAlerts, Relational, Similarity, Sketches, TextAnalysis, TimeSeries}
import graft.QueryHelpers._

/** Deduplication family: exact, MinHash+LSH, SimHash, n-gram Jaccard, prefix-filter set similarity, CDC chunking, near-dup policies.
  *
  * Registry split out of SparkEntry (round 9): the maps below are
  * merged back into `SparkEntry.queries` / `SparkEntry.oracleSql`,
  * so names, semantics, and the DuckDB-oracle pairing are unchanged.
  */
object DedupQueries {

  // q182's truth cut, passed to the exact prefix filter and its oracle
  private val CalibrationTruth = 0.3

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── Training-data pipeline (north star) ────────────────────────────
    // Exact dedup: survivor + copy count per distinct text.
    "q14_dedup_exact" -> ((s, dir) => {
      Dedup.exact(Tables.documents(s, dir)).orderBy("doc_id")
    }),


    // Fingerprint dedup over md5(normalized text).
    "q15_dedup_fingerprint" -> ((s, dir) => {
      Dedup.byFingerprint(Tables.documents(s, dir)).orderBy("doc_id")
    }),


    // Exact word-set jaccard near-dup pairs (blocked by source).
    "q16_dedup_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), 0.5)
        .select(col("doc_a"), col("doc_b"), r4(col("jaccard")).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }),


    // MinHash+LSH candidate pairs (shingle→minhash→band→bucket-join).
    // Oracle: OracleHashSql.q17MinhashLsh reproduces the FNV-1a/splitmix
    // signatures bit-exactly in DuckDB HUGEINT arithmetic.
    "q17_dedup_minhash_lsh" -> ((s, dir) => {
      Dedup.minhashLshPairs(s, Tables.documents(s, dir))
        .select(col("doc_a"), col("doc_b"), r4(col("est_jaccard")).as("est_jaccard"))
        .orderBy("doc_a", "doc_b")
    }),


    // SimHash near-dup pairs (hamming ≤ 3 via 16-bit chunk buckets).
    // hamming cast to long: DuckDB bit_count emits a narrow int.
    "q18_dedup_simhash" -> ((s, dir) => {
      Dedup.simhashPairs(s, Tables.documents(s, dir))
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("doc_a", "doc_b")
    }),


    // Embedding-cosine near-dup pairs (label-blocked exact).
    "q19_dedup_embedding" -> ((s, dir) => {
      Dedup.embeddingCosinePairs(s, Tables.embeddings(s, dir), 0.3)
        .select(col("vec_a"), col("vec_b"), r4(col("cos")).as("cos"))
        .orderBy("vec_a", "vec_b")
    }),


    // LSH-blocked exact jaccard: candidates from MinHash banding,
    // exact sorted-merge rerank — the at-scale form of q16 (whose
    // `source` blocking is fixture-only). Oracle mirrors the LSH
    // candidate generation bit-exactly (OracleHashSql).
    "q36_dedup_lsh_jaccard" -> ((s, dir) => {
      Dedup.lshBlockedJaccardPairs(s, Tables.documents(s, dir))
        .select(col("doc_a"), col("doc_b"), r4(col("jaccard")).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }),


    // LSH-blocked embedding near-dup pairs: hyperplane buckets propose
    // candidates, exact cosine reranks — the at-scale form of q19
    // (whose `label` blocking is fixture-only). Oracle embeds the
    // plane constants (OracleHashSql.q37LshBlockedCosine).
    "q37_dedup_embedding_lsh" -> ((s, dir) => {
      Dedup.lshBlockedCosinePairs(s, Tables.embeddings(s, dir))
        .select(col("vec_a"), col("vec_b"), r4(col("cos")).as("cos"))
        .orderBy("vec_a", "vec_b")
    }),


    // Near-dup cluster assignment: connected components over the q17
    // MinHash+LSH pair graph (min-label propagation to fixpoint) — the
    // canonical-survivor step that actually shrinks the corpus (A~B,
    // B~C collapse to ONE survivor even when A~C was never emitted).
    "q49_dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.minhashLshPairs(s, Tables.documents(s, dir))
        .select(col("doc_a"), col("doc_b"))
      GraphOps.dedupClusters(pairs)
        .orderBy("cluster_id", "doc_id")
    }),


    // Content-defined chunking + cross-doc chunk dedup: rolling-hash
    // boundaries follow content (re-sync after edits), so near-dup
    // docs share chunks even without aligned n-grams — the
    // storage-dedup primitive at chunk granularity.
    "q54_cdc_chunks" -> ((s, dir) => {
      Dedup.cdcChunkDedup(s, Tables.documents(s, dir))
        .orderBy("chunk_md5", "n_docs", "n_occ")
    }),


    // Edit-distance rerank over LSH candidates: character-level near-dup
    // (transpositions/OCR noise) — Levenshtein runs ONLY on the
    // LSH-bounded candidate set, never a blocked self-join.
    "q55_dedup_edit_distance" -> ((s, dir) => {
      Dedup.lshEditDistancePairs(s, Tables.documents(s, dir))
        .select(col("doc_a"), col("doc_b"), col("edit_dist"),
          r4(col("sim")).as("sim"))
        .orderBy("doc_a", "doc_b", "edit_dist", "sim")
    }),


    // The end-to-end corpus build, composed from the operator library in
    // ONE declarative plan: fingerprint-dedup survivors -> quality gate
    // -> benchmark decontamination (anti-join, benchmark n-grams
    // broadcast) -> per-source mixture sampling (weight table broadcast,
    // content-hash uniform) -> training-sequence packing of what's left.
    // Catalyst fuses the whole chain; the corpus is scanned, filtered,
    // and laid out without ever materializing an intermediate table.
    "q57_corpus_pipeline" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val fp = Dedup.byFingerprint(docs).select(col("doc_id"))
      val quality = TextAnalysis.qualityMetrics(docs)
        .filter(col("quality") >= 0.3).select(col("doc_id"))
      val bench = docs.filter(col("doc_id") < 5)
      val corpus = docs.filter(col("doc_id") >= 5)
      val contaminated = TextAnalysis.contamination(corpus, bench, n = 4)
        .select(col("doc_id"))
      val u = conv(substring(md5(col("text")), 1, 4), 16, 10).cast("long")
      val weights = mixtureWeights.toDF("source", "keep_frac")
      val kept = corpus
        .join(fp, "doc_id")
        .join(quality, "doc_id")
        .join(contaminated, Seq("doc_id"), "left_anti")
        .join(broadcast(weights), Seq("source"))
        .filter(u < (col("keep_frac") * 65536).cast("long"))
        .select(docs.columns.toIndexedSeq.map(col): _*)
      TextAnalysis.sequencePacking(kept)
        .orderBy("doc_id", "source", "n_tokens", "seq_id")
    }),


    // Composed corpus filter: fingerprint-dedup survivors that also pass
    // the quality floor — the end-to-end "clean the corpus" pipeline.
    "q31_corpus_filter" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val survivors = Dedup.byFingerprint(docs).select(col("doc_id"))
      val quality = TextAnalysis.qualityMetrics(docs)
        .filter(col("quality") >= 0.3)
        .select(col("doc_id"), col("n_tokens_ws"), col("quality"))
      survivors.join(quality, "doc_id")
        .select(col("doc_id"), col("n_tokens_ws"),
          r4(col("quality")).as("quality"))
        .orderBy("doc_id", "n_tokens_ws", "quality")
    }),


    // SemDeDup semantic dedup: k-means cells (the bit-exact q44
    // trainer) + intra-cell cosine drop — survivors with their cluster
    // geometry. The at-scale complement of q37's LSH blocking.
    "q64_semantic_dedup" -> ((s, dir) => {
      Dedup.semanticDedup(s, Tables.embeddings(s, dir))
        .orderBy("vec_id")
    }),


    // Containment rerank over the LSH candidates: |A∩B| / min(|A|,|B|)
    // — catches a doc quoted inside a larger one (high containment,
    // low jaccard). Threshold as an exact-integer inequality.
    "q81_containment" -> ((s, dir) => {
      Dedup.lshContainmentPairs(s, Tables.documents(s, dir))
        .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_min"),
          r4(col("n_inter").cast("double") / col("n_min"))
            .as("containment"))
        .orderBy("doc_a", "doc_b")
    }),


    // Keep-best survivor selection over the near-dup clusters: real
    // pipelines keep the most complete copy (longest text, id
    // tie-break), not the arbitrary min-id — the policy layer on top
    // of q49's cluster assignment.
    "q91_dedup_keep_best" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pairs = Dedup.minhashLshPairs(s, Tables.documents(s, dir))
        .select(col("doc_a"), col("doc_b"))
      // join n_chars FIRST, then compute cluster_size AND the keep-best
      // rank in the SAME cluster_id window scope (r17, guide §2.4): the
      // dedupClusters form ran the size window before the join, and the
      // broadcast join dropped its partitioning, so the rank window
      // re-exchanged the cluster-scale frame on cluster_id a second
      // time. One exchange + one sort now serve both windows; the join
      // is 1:1 on doc_id, so cluster_size counts the same rows.
      val clusters = GraphOps.connectedComponents(pairs)
        .select(col("doc_id"), col("cluster_id"))
      val w = Window.partitionBy(col("cluster_id"))
      val rk = row_number().over(
        w.orderBy(col("n_chars").desc, col("doc_id").asc))
      clusters
        .join(Tables.documents(s, dir).select("doc_id", "n_chars"), "doc_id")
        .withColumn("cluster_size", count(lit(1)).over(w))
        .withColumn("rk", rk)
        .filter(col("rk") === 1)
        .select(col("cluster_id"), col("doc_id").as("survivor_id"),
          col("cluster_size"), col("n_chars").as("n_chars_kept"))
        .orderBy("cluster_id")
    }),


    // EXACT all-pairs shingle-jaccard join via prefix filtering
    // (AllPairs/PPJoin) — the uncapped exact scale form retiring q16's
    // capped baseline; the oracle computes plain all-pairs, so the
    // hash match certifies prefix filtering is result-preserving.
    "q127_prefix_filter_jaccard" -> ((s, dir) => {
      Dedup.prefixFilterJaccardPairs(Tables.documents(s, dir), 0.5)
        .select(col("doc_a"), col("doc_b"), r4(col("jaccard")).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }),


    // Cluster-safe train/val split: the split key is the NEAR-DUP
    // CLUSTER, not the document, so near-duplicates can never straddle
    // train and val — closing the leakage trap q41/q93 only DETECT
    // (a near-copy of a training doc sitting in the eval split).
    // Singletons fall back to their own doc_id as cluster id; the
    // same md5-prefix rule as q30 keeps the split content-addressed
    // and reshuffle-stable.
    "q136_cluster_safe_split" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashLshPairs(s, docs)
        .select(col("doc_a"), col("doc_b"))
      val clusters = GraphOps.dedupClusters(pairs)
        .select(col("doc_id"), col("cluster_id"))
      val firstHex = substring(md5(col("cluster_id").cast("string")), 1, 1)
      docs.select(col("doc_id")).join(clusters, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
        .select(col("doc_id"), col("cluster_id"),
          when(firstHex.isin("0", "1", "2", "3"), "val")
            .otherwise("train").as("split"))
        .orderBy("doc_id")
    }),


    // LSH calibration curve: recall of q17's minhash banding (no
    // estimate cut) against EXACT shingle jaccard, per jaccard decade
    // band — the measured S-curve that tunes bands/rows before a
    // 100 TB dedup run. Truth comes from the exactness-certified
    // prefix-filter join (q127's form), never an n² self-join. (This
    // synthetic corpus is bimodal — all true pairs sit in band 9, so
    // the curve is one row here; the machinery is band-general.)
    "q182_lsh_calibration" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // one tokenize→shingle→sort→distinct scan feeds BOTH sides
      // (r16): exact truth via the prefix filter, candidates via
      // MinHash — whose set semantics make sorted-distinct input
      // bit-identical to the raw shingle stream
      val sets = Dedup.shingleSets(docs, shingleSize = 3)
        .localCheckpoint(true)
      val truth = Dedup.prefixFilterJaccardPairsFromSets(sets,
        threshold = CalibrationTruth)
      val cand = Dedup.minhashLshPairsFromShingles(s,
          sets.select(col("doc_id"), col("sh").as("shingles")),
          estimateThreshold = 0.0)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("caught"))
      truth
        .withColumn("band",
          least(floor(col("jaccard") * 10), lit(9.0)).cast("long"))
        .join(cand, Seq("doc_a", "doc_b"), "left")
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("caught"), lit(0L))).as("n_caught"))
        .select(col("band"), col("n_true"), col("n_caught"),
          (col("n_caught") * 1000L / col("n_true")).cast("long")
            .as("recall_permille"))
        .orderBy("band")
    }),


    // Dedup survivor EXPLAIN table — the governance view the dedup
    // family (q14/q15/q17) feeds: for every dropped document, who it
    // collapsed into and at which tier. Tiers are mutually exclusive
    // and cascade: byte-exact first, whitespace/case-normalized next,
    // then minhash near-dup candidates (min-id partner; the full
    // transitive clustering is q49/q91 — this is the per-doc audit
    // row, not the cluster assignment).
    "q195_dedup_explain" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text")).localCheckpoint(true)
      val wExact = org.apache.spark.sql.expressions.Window
        .partitionBy(col("h"))
      def tier(df: DataFrame, keyCol: org.apache.spark.sql.Column,
               name: String) = {
        val withMin = df.withColumn("h", keyCol)
          .withColumn("surv", min(col("doc_id")).over(wExact))
        (withMin.filter(col("doc_id") =!= col("surv"))
          .select(col("doc_id"), col("surv").as("survivor_id"),
            lit(name).as("tier")),
          withMin.filter(col("doc_id") === col("surv"))
            .select(col("doc_id"), col("text")))
      }
      val (exactDrops, afterExact) = tier(docs, md5(col("text")), "exact")
      val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
      val (normDrops, afterNorm) = tier(afterExact, md5(norm), "normalized")
      val remaining = afterNorm.select(col("doc_id"))
      val pairs = Dedup.minhashLshPairs(s, Tables.documents(s, dir))
        .join(remaining.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"))
        .join(remaining.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"))
      val nearDrops = pairs.groupBy(col("doc_b").as("doc_id"))
        .agg(min(col("doc_a")).as("survivor_id"))
        .select(col("doc_id"), col("survivor_id"),
          lit("near_dup").as("tier"))
      exactDrops.unionByName(normDrops).unionByName(nearDrops)
        .orderBy("doc_id", "tier")
    }),
  )

  /** DuckDB oracle SQL for every query above (same keys). */
  val oracleSql: Map[String, String] = Map(

    "q14_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY text
        |ORDER BY 1""".stripMargin,


    "q15_dedup_fingerprint" ->
      """SELECT min(doc_id) AS doc_id,
        |       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |       COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY 2
        |ORDER BY 1""".stripMargin,


    "q16_dedup_ngram_jaccard" ->
      // the bounded CTE mirrors the engine's maxBlockSize skew guard
      // (Dedup.ngramJaccardPairs drops blocks larger than the cap)
      s"""WITH bounded AS (
        |  SELECT doc_id, source, text
        |  FROM (SELECT doc_id, source, text,
        |               COUNT(*) OVER (PARTITION BY source) AS block_n
        |        FROM documents)
        |  WHERE block_n <= ${graft.operators.Dedup.DefaultMaxBlockSize})
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       floor((len(list_intersect(list_distinct(string_split(a.text, ' ')),
        |                                list_distinct(string_split(b.text, ' '))))::DOUBLE
        |             / len(list_distinct(list_concat(string_split(a.text, ' '),
        |                                             string_split(b.text, ' '))))) * 10000 + 0.5) / 10000 AS jaccard
        |FROM bounded a JOIN bounded b
        |  ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(list_distinct(string_split(a.text, ' ')),
        |                         list_distinct(string_split(b.text, ' '))))::DOUBLE
        |      / len(list_distinct(list_concat(string_split(a.text, ' '),
        |                                      string_split(b.text, ' ')))) >= 0.5
        |ORDER BY 1, 2""".stripMargin,


    "q17_dedup_minhash_lsh" -> OracleHashSql.q17MinhashLsh,

    "q18_dedup_simhash" -> OracleHashSql.q18Simhash,


    "q19_dedup_embedding" ->
      """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |       floor((list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                    CAST(b.embedding AS DOUBLE[]))) * 10000 + 0.5) / 10000 AS cos
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) >= 0.3
        |ORDER BY 1, 2""".stripMargin,

    "q36_dedup_lsh_jaccard" -> OracleHashSql.q36LshBlockedJaccard,

    "q37_dedup_embedding_lsh" -> OracleHashSql.q37LshBlockedCosine(Dedup.cosinePlaneSets),

    "q49_dedup_clusters" -> OracleHashSql.q49DedupClusters,

    "q54_cdc_chunks" -> OracleHashSql.q54CdcChunks,

    "q55_dedup_edit_distance" -> OracleHashSql.q55EditDistance,


    "q57_corpus_pipeline" -> {
      val values = mixtureWeights
        .map { case (src, f) => s"('$src', $f)" }.mkString(", ")
      s"""WITH fp AS (
        |  SELECT min(doc_id) AS doc_id
        |  FROM documents
        |  GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))),
        |qual AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |           0.4 * (len(list_filter(string_split(lower(text), ' '),
        |                    x -> x IN ('the','a','of','and','in','to','is','it','that','for')))::DOUBLE
        |                 / greatest(len(list_filter(string_split(lower(text), ' '),
        |                    x -> length(x) > 0))::DOUBLE, 1.0))
        |           + 0.3 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
        |                    / greatest(length(text)::DOUBLE, 1.0))
        |           + 0.3 * (least(len(list_filter(string_split(lower(text), ' '),
        |                    x -> length(x) > 0))::DOUBLE, 100.0) / 100.0) AS qv
        |    FROM documents)
        |  WHERE qv >= 0.3),
        |toks AS (
        |  SELECT doc_id, list_filter(string_split(lower(text),' '), x -> length(x) > 0) AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)-2),
        |                 i -> array_to_string(t[i:i+3], ' '))) AS g
        |  FROM toks WHERE len(t) >= 4),
        |test AS (SELECT DISTINCT g FROM grams WHERE doc_id < 5),
        |contaminated AS (
        |  SELECT DISTINCT c.doc_id FROM grams c JOIN test USING (g)
        |  WHERE c.doc_id >= 5),
        |weights(source, keep_frac) AS (VALUES $values),
        |kept AS (
        |  SELECT d.doc_id, d.source, d.text
        |  FROM documents d
        |  JOIN fp USING (doc_id)
        |  JOIN qual USING (doc_id)
        |  JOIN weights USING (source)
        |  WHERE d.doc_id >= 5
        |    AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
        |    AND ('0x' || substr(md5(d.text), 1, 4))::BIGINT <
        |        CAST(keep_frac * 65536 AS BIGINT)),
        |t57 AS (
        |  SELECT doc_id, source,
        |         len(list_filter(string_split(lower(text), ' '), x -> length(x) > 0))::BIGINT AS n_tokens
        |  FROM kept),
        |c57 AS (
        |  SELECT doc_id, source, n_tokens,
        |         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |                             ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
        |  FROM t57)
        |SELECT doc_id, source, n_tokens, ((cum - n_tokens) // 2048)::BIGINT AS seq_id
        |FROM c57
        |ORDER BY 1, 2, 3, 4""".stripMargin
    },


    "q31_corpus_filter" ->
      """WITH survivors AS (
        |  SELECT min(doc_id) AS doc_id
        |  FROM documents
        |  GROUP BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))),
        |quality AS (
        |  SELECT doc_id,
        |         len(list_filter(string_split(lower(text), ' '), x -> length(x) > 0)) AS n_tokens_ws,
        |         0.4 * (len(list_filter(string_split(lower(text), ' '),
        |                  x -> x IN ('the','a','of','and','in','to','is','it','that','for')))::DOUBLE
        |               / greatest(len(list_filter(string_split(lower(text), ' '),
        |                  x -> length(x) > 0))::DOUBLE, 1.0))
        |         + 0.3 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
        |                  / greatest(length(text)::DOUBLE, 1.0))
        |         + 0.3 * (least(len(list_filter(string_split(lower(text), ' '),
        |                  x -> length(x) > 0))::DOUBLE, 100.0) / 100.0) AS q
        |  FROM documents)
        |SELECT s.doc_id, q.n_tokens_ws, floor((q.q) * 10000 + 0.5) / 10000 AS quality
        |FROM survivors s JOIN quality q ON s.doc_id = q.doc_id
        |WHERE q.q >= 0.3
        |ORDER BY 1, 2, 3""".stripMargin,

    "q64_semantic_dedup" -> OracleHashSql.q64SemanticDedup,


    // q81: q36's bit-exact candidate CTEs + containment rerank.
    "q81_containment" -> OracleHashSql.q81Containment,


    // q91: q49's recursive components + keep-longest argmax.
    "q91_dedup_keep_best" -> OracleHashSql.q91DedupKeepBest,


    // q127: deliberately does NOT mirror the engine's prefix filter —
    // plain all-pairs-sharing-a-shingle jaccard, so the hash match
    // certifies that prefix filtering is result-preserving. Shingling
    // mirrors q118 (wsTokens + 3-token space-joined), distinct sets.
    "q127_prefix_filter_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |                             x -> length(x) > 0) AS t
        |  FROM documents),
        |docs AS (
        |  SELECT doc_id, list_distinct(list_transform(range(len(t) - 2),
        |           i -> array_to_string(t[(i+1)::INT:(i+3)::INT], ' '))) AS sh
        |  FROM toks WHERE len(t) >= 3),
        |ex AS (SELECT doc_id, unnest(sh) AS s FROM docs),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |       floor((len(list_intersect(a.sh, b.sh))::DOUBLE
        |              / len(list_distinct(list_concat(a.sh, b.sh)))) * 10000 + 0.5)
        |         / 10000 AS jaccard
        |FROM cand JOIN docs a ON doc_a = a.doc_id JOIN docs b ON doc_b = b.doc_id
        |WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
        |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
        |ORDER BY 1, 2""".stripMargin,

    "q136_cluster_safe_split" -> OracleHashSql.q136ClusterSafeSplit,


    "q182_lsh_calibration" -> OracleHashSql.q182LshCalibration(CalibrationTruth),


    // q195: the same three-tier cascade; the near-dup tier reuses the
    // full q17 minhash/banding replay restricted to tier-1/2
    // survivors, with the min-id partner rule.
    "q195_dedup_explain" -> OracleHashSql.q195DedupExplain,
  )
}
