package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{AsOfJoin, Dedup, EntityResolution, GraphOps, Multimodal, PriceAlerts, Relational, Similarity, Sketches, TextAnalysis, TimeSeries}
import graft.QueryHelpers._

/** Text-analysis family: quality scores, langid, token stats, TF-IDF/BM25, chunking, decontamination, DSIR, mixtures/splits/packing.
  *
  * Registry split out of SparkEntry (round 9): the maps below are
  * merged back into `SparkEntry.queries` / `SparkEntry.oracleSql`,
  * so names, semantics, and the DuckDB-oracle pairing are unchanged.
  */
object TextQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Text quality metrics (length/punct/stopword/token counts + score).
    "q22_text_quality" -> ((s, dir) => {
      TextAnalysis.qualityMetrics(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_chars"), col("n_tokens_ws"),
          col("n_tokens_bpe"), col("n_punct"), col("n_alpha"),
          r4(col("quality")).as("quality"))
        .orderBy("doc_id")
    }),


    // Language-ID heuristic (stopword n-gram scores + argmax).
    "q23_text_langid" -> ((s, dir) => {
      TextAnalysis.languageId(Tables.documents(s, dir))
        .select(col("doc_id"),
          r4(col("score_en")).as("score_en"),
          r4(col("score_de")).as("score_de"),
          r4(col("score_fr")).as("score_fr"),
          r4(col("score_es")).as("score_es"),
          col("lang_pred"))
        .orderBy("doc_id")
    }),


    // Benchmark decontamination: corpus docs sharing any word 4-gram
    // with the "benchmark" set (first 5 docs) — the train/test-overlap
    // sweep of a training-data pipeline (production uses n=8..13; n=4
    // here so the synthetic fixture shows hits).
    "q41_contamination" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.contamination(docs.filter(col("doc_id") >= 5),
          docs.filter(col("doc_id") < 5), n = 4)
        .orderBy("doc_id", "n_overlapping")
    }),


    // Training-sequence packing: each doc assigned to the fixed
    // token-budget sequence it starts in (concat-and-chunk pretraining
    // layout) — per-source doc_id-ordered cumulative token counts, all
    // integer arithmetic.
    "q45_sequence_packing" -> ((s, dir) => {
      TextAnalysis.sequencePacking(Tables.documents(s, dir))
        .orderBy("doc_id", "source", "n_tokens", "seq_id")
    }),


    // Per-source length-percentile gate: drop each source's shortest
    // 20% by token count (deterministic percent_rank over
    // (n_tokens, doc_id) — no ties, integer-driven).
    "q46_length_percentile" -> ((s, dir) => {
      TextAnalysis.lengthPercentileFilter(Tables.documents(s, dir))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          r4(col("pr")).as("pr"))
        .orderBy("doc_id", "source", "n_tokens", "pr")
    }),


    // Cross-document boilerplate 4-grams (C4-style): document frequency
    // of n-grams shared by >= 2 docs.
    "q48_boilerplate_ngrams" -> ((s, dir) => {
      TextAnalysis.boilerplateNgrams(Tables.documents(s, dir))
        .orderBy("g", "n_docs")
    }),


    // Per-doc top-3 rarity-weighted terms (TF-IDF keyword extraction
    // with linear idf — exact-integer ratio, so bit-exactly oracled).
    "q50_tfidf_terms" -> ((s, dir) => {
      TextAnalysis.tfidfTerms(Tables.documents(s, dir))
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          r4(col("score")).as("score"), col("rk"))
        .orderBy("doc_id", "rk")
    }),


    // Exact-quota stratified sample: per source keep exactly
    // min(quota, |source|) docs chosen by content-hash order — the
    // fixed-budget sibling of q43's rate-based mixture.
    "q51_stratified_sample" -> ((s, dir) => {
      import s.implicits._
      val quotas = stratifiedQuotas.toDF("source", "quota")
      TextAnalysis.stratifiedSample(Tables.documents(s, dir), quotas)
        .orderBy("doc_id", "source", "rk")
    }),


    // Intra-document repetition (Gopher-style quality signal): distinct
    // vs total 3-gram counts per document.
    "q42_repetition" -> ((s, dir) => {
      TextAnalysis.repetition(Tables.documents(s, dir), n = 3)
        .select(col("doc_id"), col("n_grams"), col("n_distinct"),
          r4(col("distinct_ratio")).as("distinct_ratio"))
        .orderBy("doc_id")
    }),


    // Segment-level dedup with document reconstruction (C4-style line
    // dedup on 8-token segments): keep each distinct segment's first
    // global occurrence, rebuild docs from survivors in order. Exact
    // duplicates of earlier docs vanish entirely.
    "q62_segment_dedup" -> ((s, dir) => {
      TextAnalysis.segmentDedupRebuild(Tables.documents(s, dir))
        .orderBy("doc_id")
    }),


    // Unigram LM quality scoring (the CCNet-style perplexity filter
    // with the corpus as its own model): mean negative log-likelihood
    // per document. Raw doubles (q65 precedent — sub-1e-12 summation
    // noise sits far inside the compare tolerance).
    "q71_lm_quality" -> ((s, dir) => {
      TextAnalysis.unigramLogProb(Tables.documents(s, dir))
        .orderBy("doc_id")
    }),


    // Token co-occurrence PMI over the top-50 vocabulary — pair space
    // bounded at v^2/2 per doc by the broadcast vocab, never a corpus
    // cross product.
    "q73_pmi_cooccurrence" -> ((s, dir) => {
      TextAnalysis.pmiCooccurrence(Tables.documents(s, dir))
    }),


    // Deterministic weighted sampling (Efraimidis–Spirakis): top-200
    // keys u^(1/w), content-addressed u, power-of-two weights so the
    // key is iterated IEEE sqrt — bit-identical to the oracle.
    "q74_weighted_sample" -> ((s, dir) => {
      import s.implicits._
      TextAnalysis.weightedSample(Tables.documents(s, dir),
          sampleWeights.toDF("source", "w"), 200)
        .orderBy(col("key").desc, col("doc_id").asc)
    }),


    // Distributed BPE tokenizer training: the first 5 merge rules. One
    // corpus pass for word frequencies; every merge round then runs
    // over the vocabulary only (iteration cost independent of corpus
    // size).
    "q76_bpe_merges" -> ((s, dir) => {
      TextAnalysis.bpeMerges(Tables.documents(s, dir))
    }),


    // BPE ENCODE: q76's learned merges applied back to the corpus —
    // per-source token compression (chars vs post-merge tokens). The
    // corpus text is read once for the (source, word) frequencies; the
    // symbol table stays vocabulary-bounded.
    "q80_bpe_encode" -> ((s, dir) => {
      TextAnalysis.bpeEncode(Tables.documents(s, dir))
        .orderBy("source")
    }),


    // Per-source distribution drift: KL(P_src || P_corpus) over token
    // frequencies, add-one smoothed on the corpus vocabulary — the
    // mixture-monitoring primitive. Raw doubles (q65/q71 precedent).
    "q82_source_drift_kl" -> ((s, dir) => {
      TextAnalysis.sourceDriftKl(Tables.documents(s, dir))
        .orderBy("source")
    }),


    // Hashed-feature linear quality classifier at scan speed: the
    // token→bucket→weight chain folded inside one aggregate() HOF —
    // zero shuffle, exact integer score.
    "q96_quality_classifier" -> ((s, dir) => {
      TextAnalysis.qualityClassifier(s, Tables.documents(s, dir))
    }),


    // BM25 keyword retrieval: full posting-set scores for a fixed
    // 4-query workload — query terms broadcast, tf inside a per-row
    // HOF (no token explode / inverted-index shuffle).
    "q98_bm25_retrieval" -> ((s, dir) => {
      TextAnalysis.bm25(Tables.documents(s, dir), bm25Queries)
    }),


    // Overlapping passage chunking (RAG unit): window 32 / stride 24
    // token chunks with offsets + md5 chunk fingerprint. Pure per-row
    // explode, zero shuffle.
    "q99_passage_chunks" -> ((s, dir) => {
      TextAnalysis.passageChunks(Tables.documents(s, dir))
    }),


    // Bigram LM quality scoring: add-half-smoothed corpus bigram
    // model, per-doc NLL — q71's unigram scorer one context up.
    "q100_bigram_lm" -> ((s, dir) => {
      TextAnalysis.bigramLogProb(Tables.documents(s, dir))
    }),


    // Inter-document novelty: fraction of a doc's distinct 3-gram
    // shingles first seen in this doc (min-doc_id attribution).
    "q103_shingle_novelty" -> ((s, dir) => {
      TextAnalysis.shingleNovelty(Tables.documents(s, dir))
    }),


    // Retrieval eval harness: MRR/nDCG/P/R@10 for q98's workload under
    // an integer coordination-tf ranking (rank boundaries bit-exact
    // across engines) and md5-derived relevance labels.
    "q106_retrieval_eval" -> ((s, dir) => {
      TextAnalysis.retrievalEval(Tables.documents(s, dir), bm25Queries)
    }),


    // Tokenizer-vocab coverage: top-500 corpus vocab, per-source OOV
    // rate — the "does this slice fit the tokenizer" gate.
    "q107_vocab_coverage" -> ((s, dir) => {
      TextAnalysis.vocabCoverage(Tables.documents(s, dir))
    }),


    // Character Shannon entropy + evenness per doc (Gopher-family
    // quality signal; deterministic sorted fold).
    "q108_char_entropy" -> ((s, dir) => {
      TextAnalysis.charEntropy(Tables.documents(s, dir))
    }),


    // Deterministic word-dropout augmentation (content+position keyed
    // md5 residues — reproducible train-time noise).
    "q110_word_dropout" -> ((s, dir) => {
      TextAnalysis.wordDropout(Tables.documents(s, dir))
    }),


    // Length-percentile calibration: histogram-join percent_rank
    // (per-source + global) with integer sort keys.
    "q111_length_calibration" -> ((s, dir) => {
      TextAnalysis.lengthCalibration(Tables.documents(s, dir))
    }),


    // Inverted-index build: per-term df + capped ascending posting
    // list (rank-filtered BEFORE collection — no unbounded buffers).
    "q112_posting_lists" -> ((s, dir) => {
      TextAnalysis.postingLists(Tables.documents(s, dir))
    }),


    // Temperature-weighted source mixture: p_temp ∝ p_raw^0.3
    // renormalized; upsample factor per source.
    "q113_temperature_mixture" -> ((s, dir) => {
      TextAnalysis.temperatureMixture(Tables.documents(s, dir))
    }),


    // Cross-document repeated-substring spans (Lee et al.-style) —
    // shingle-chain extension of duplicated 8-token runs; shuffle keys
    // are the shingle and the doc, never a suffix-array sort.
    "q118_repeated_substrings" -> ((s, dir) => {
      TextAnalysis.repeatedSubstringSpans(Tables.documents(s, dir))
        .orderBy("doc_id", "span_start")
    }),


    // The actionable half of q118: cut every detected span and rebuild
    // each document from the survivors (ExactSubstr removal policy).
    "q119_substring_removal" -> ((s, dir) => {
      TextAnalysis.removeRepeatedSubstrings(Tables.documents(s, dir))
        .orderBy("doc_id")
    }),


    // Length-distribution-matched resampling: per-source acceptance
    // weights that reshape every source's length histogram to the
    // corpus-wide one; content-addressed accept/reject (q30/q43
    // convention), weights derived from identical integer counts on
    // both engines so even the boundary is deterministic.
    "q143_length_matched_resample" -> ((s, dir) => {
      val r = TextAnalysis.lengthMatchedResample(Tables.documents(s, dir))
      r.select(col("doc_id"), col("source"), col("bucket"),
        r4(col("keep_frac")).as("keep_frac"), col("kept"))
        .orderBy("doc_id")
    }),


    // PII scan + redaction: emails/IPs/SSNs/phones counted and
    // replaced by placeholder tokens; deterministic PII injected on
    // doc_id % 97 == 0 so the oracle (RE2) cross-checks Java-regex
    // match semantics on real matches, not an empty corpus.
    "q144_pii_scrub" -> ((s, dir) => {
      TextAnalysis.piiScrub(Tables.documents(s, dir))
        .orderBy("doc_id")
    }),


    // Blocklist gate (C4-style wordlist filter): occurrence counts +
    // integer-arithmetic keep decision (n_hits·100 < n_tokens·pct).
    "q145_blocklist_filter" -> ((s, dir) => {
      TextAnalysis.blocklistFilter(Tables.documents(s, dir))
        .orderBy("doc_id")
    }),


    // DSIR-style importance selection: hashed-unigram target/raw
    // probability ratios (integer-quantized — see the operator's
    // determinism note), per-source top-quarter quota.
    "q152_dsir_selection" -> ((s, dir) => {
      TextAnalysis.dsirSelect(Tables.documents(s, dir)).orderBy("doc_id")
    }),


    // Token-budget prefix fill: cut each source to a fixed token
    // budget in content-addressed priority order (shard-writer fill
    // semantics; any scoring column drops into the priority slot).
    "q159_token_budget_fill" -> ((s, dir) => {
      TextAnalysis.tokenBudgetFill(Tables.documents(s, dir))
        .orderBy("doc_id")
    }),


    // Deterministic training-shard manifest: content-addressed shard
    // assignment + per-shard byte budget, balance per-mille, id range
    // and order-independent integrity fingerprint.
    "q157_shard_manifest" -> ((s, dir) => {
      TextAnalysis.shardManifest(Tables.documents(s, dir))
        .orderBy("shard_id")
    }),


    // URL canonicalization dedup: authority lowercase, default-port /
    // utm_* / fragment strip, min-id survivor per canonical URL
    // (deterministic messy-URL injection, q144/q146 convention).
    "q153_url_canonical_dedup" -> ((s, dir) => {
      TextAnalysis.urlCanonicalDedup(Tables.documents(s, dir))
        .orderBy("doc_id")
    }),


    // Hybrid retrieval: BM25 ranks ⊕ embedding-cosine ranks fused by
    // reciprocal-rank fusion — integer ranks make the fused scores
    // bit-identical across engines; BM25 ranking keys on the
    // r4-floored score so float noise can't flip a rank.
    "q147_hybrid_rrf" -> ((s, dir) => {
      TextAnalysis.hybridRrf(s, Tables.documents(s, dir),
        Tables.embeddings(s, dir), bm25Queries)
        .orderBy("query_id", "rank")
    }),


    // Robust winnowing (MOSS) fingerprints per document — the
    // plagiarism-detection fingerprint family member q25 (full-doc
    // rolling hash) and q15 (shingle set) bracket; certified as the
    // full selected SET per doc (count+sum+min+max).
    "q176_winnow_fingerprints" -> ((s, dir) => {
      TextAnalysis.winnowFingerprints(Tables.documents(s, dir))
        .orderBy("doc_id")
    }),
  )

  /** DuckDB oracle SQL for every query above (same keys). */
  val oracleSql: Map[String, String] = Map(

    "q22_text_quality" ->
      """SELECT doc_id,
        |       length(text) AS n_chars,
        |       len(list_filter(string_split(lower(text), ' '), x -> length(x) > 0)) AS n_tokens_ws,
        |       len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_tokens_bpe,
        |       length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
        |       length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha,
        |       floor((0.4 * (len(list_filter(string_split(lower(text), ' '),
        |                         x -> x IN ('the','a','of','and','in','to','is','it','that','for')))::DOUBLE
        |                    / greatest(len(list_filter(string_split(lower(text), ' '),
        |                         x -> length(x) > 0))::DOUBLE, 1.0))
        |           + 0.3 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
        |                    / greatest(length(text)::DOUBLE, 1.0))
        |           + 0.3 * (least(len(list_filter(string_split(lower(text), ' '),
        |                         x -> length(x) > 0))::DOUBLE, 100.0) / 100.0)) * 10000 + 0.5) / 10000 AS quality
        |FROM documents
        |ORDER BY 1""".stripMargin,


    "q23_text_langid" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS t
        |  FROM documents),
        |scores AS (
        |  SELECT doc_id,
        |    len(list_filter(t, x -> x IN ('the','a','of','and','in','to','is','it','that','for')))::DOUBLE / greatest(len(t)::DOUBLE, 1.0) AS s_en,
        |    len(list_filter(t, x -> x IN ('der','die','das','und','ist','nicht','ein','zu','den','mit')))::DOUBLE / greatest(len(t)::DOUBLE, 1.0) AS s_de,
        |    len(list_filter(t, x -> x IN ('le','les','et','est','une','des','que','pour','dans','pas')))::DOUBLE / greatest(len(t)::DOUBLE, 1.0) AS s_fr,
        |    len(list_filter(t, x -> x IN ('el','los','y','es','un','una','por','con','no','se')))::DOUBLE / greatest(len(t)::DOUBLE, 1.0) AS s_es
        |  FROM toks)
        |SELECT doc_id,
        |       floor((s_en) * 10000 + 0.5) / 10000 AS score_en, floor((s_de) * 10000 + 0.5) / 10000 AS score_de,
        |       floor((s_fr) * 10000 + 0.5) / 10000 AS score_fr, floor((s_es) * 10000 + 0.5) / 10000 AS score_es,
        |       CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
        |            WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
        |            WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
        |            WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
        |            ELSE 'es' END AS lang_pred
        |FROM scores
        |ORDER BY 1""".stripMargin,


    "q41_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(lower(text),' '), x -> length(x) > 0) AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)-2),
        |                 i -> array_to_string(t[i:i+3], ' '))) AS g
        |  FROM toks WHERE len(t) >= 4),
        |test AS (SELECT DISTINCT g FROM grams WHERE doc_id < 5)
        |SELECT c.doc_id, count(DISTINCT c.g) AS n_overlapping
        |FROM grams c JOIN test USING (g)
        |WHERE c.doc_id >= 5
        |GROUP BY 1
        |ORDER BY 1, 2""".stripMargin,


    "q45_sequence_packing" ->
      s"""WITH t AS (
        |  SELECT doc_id, source,
        |         len(list_filter(string_split(lower(text), ' '), x -> length(x) > 0))::BIGINT AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |                             ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens
        |  FROM t)
        |SELECT doc_id, source, n_tokens,
        |       ((cum_tokens - n_tokens) // ${TextAnalysis.PackTokens})::BIGINT AS seq_id
        |FROM c
        |ORDER BY 1, 2, 3, 4""".stripMargin,


    "q46_length_percentile" ->
      // prr vs pr: the filter must see the UNROUNDED rank (DuckDB WHERE
      // can bind SELECT aliases, so the output alias is kept distinct)
      s"""WITH t AS (
        |  SELECT doc_id, source,
        |         len(list_filter(string_split(lower(text), ' '), x -> length(x) > 0))::BIGINT AS n_tokens
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, source, n_tokens,
        |         percent_rank() OVER (PARTITION BY source ORDER BY n_tokens, doc_id) AS prr
        |  FROM t)
        |SELECT doc_id, source, n_tokens, floor(prr * 10000 + 0.5) / 10000 AS pr
        |FROM p WHERE prr >= ${TextAnalysis.DropBelow}
        |ORDER BY 1, 2, 3, 4""".stripMargin,


    "q48_boilerplate_ngrams" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)-2),
        |                 i -> array_to_string(t[i:i+3], ' ')))) AS g
        |  FROM toks WHERE len(t) >= 4)
        |SELECT g, count(*)::BIGINT AS n_docs
        |FROM grams
        |GROUP BY 1
        |HAVING count(*) >= 2
        |ORDER BY 1, 2""".stripMargin,


    "q50_tfidf_terms" ->
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split(lower(text),' '), x -> length(x) > 0)) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
        |df AS (
        |  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        |n AS (
        |  SELECT count(*)::BIGINT AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, term, tf, df, (tf * n_docs) / df AS sc
        |  FROM tf JOIN df USING (term), n),
        |ranked AS (
        |  SELECT doc_id, term, tf, df, sc,
        |         row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY sc DESC, term ASC) AS rk
        |  FROM scored)
        |SELECT doc_id, term, tf, df,
        |       floor(sc * 10000 + 0.5) / 10000 AS score, rk::BIGINT AS rk
        |FROM ranked WHERE rk <= ${TextAnalysis.TfidfK}
        |ORDER BY 1, 6""".stripMargin,


    "q51_stratified_sample" -> {
      val values = stratifiedQuotas
        .map { case (src, q) => s"('$src', $q)" }.mkString(", ")
      s"""WITH quotas(source, quota) AS (VALUES $values),
        |h AS (
        |  SELECT doc_id, source,
        |         ('0x' || substr(md5(text), 1, 8))::BIGINT AS u
        |  FROM documents),
        |r AS (
        |  SELECT h.doc_id, h.source, quota,
        |         row_number() OVER (PARTITION BY h.source
        |                            ORDER BY u, doc_id) AS rk
        |  FROM h JOIN quotas USING (source))
        |SELECT doc_id, source, rk::BIGINT AS rk
        |FROM r WHERE rk <= quota
        |ORDER BY 1, 2, 3""".stripMargin
    },


    "q42_repetition" ->
      """WITH g AS (
        |  SELECT doc_id,
        |         CASE WHEN len(t) >= 3
        |              THEN list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))
        |              ELSE [] END AS grams
        |  FROM (SELECT doc_id, list_filter(string_split(lower(text),' '), x -> length(x) > 0) AS t
        |        FROM documents))
        |SELECT doc_id,
        |       len(grams)::BIGINT AS n_grams,
        |       len(list_distinct(grams))::BIGINT AS n_distinct,
        |       floor((len(list_distinct(grams))::DOUBLE
        |              / greatest(len(grams)::DOUBLE, 1.0)) * 10000 + 0.5) / 10000 AS distinct_ratio
        |FROM g
        |ORDER BY 1""".stripMargin,


    // q62: segment split mirrors wsTokens (lower + split-on-space +
    // drop empties); first-occurrence key is the same doc_id*4096+idx
    // packing; reassembly order is the segment index.
    "q62_segment_dedup" ->
      """WITH base AS MATERIALIZED (
        |  SELECT doc_id,
        |         list_filter(string_split(lower(text), ' '),
        |                     t -> length(t) > 0) AS toks
        |  FROM documents),
        |segs AS MATERIALIZED (
        |  SELECT doc_id,
        |         unnest(list_transform(range((len(toks) + 7) // 8), j ->
        |           {'idx': j,
        |            'seg': array_to_string(toks[(j*8+1)::INT : (j*8+8)::INT], ' ')})) AS s
        |  FROM base),
        |occ AS MATERIALIZED (
        |  SELECT doc_id, s.idx AS idx, s.seg AS seg,
        |         doc_id * 4096 + s.idx AS occ
        |  FROM segs),
        |firsts AS (SELECT seg, min(occ) AS first_occ FROM occ GROUP BY seg),
        |kept AS (
        |  SELECT o.doc_id, o.idx, o.seg FROM occ o
        |  JOIN firsts f ON o.seg = f.seg AND o.occ = f.first_occ),
        |rebuilt AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_kept,
        |         string_agg(seg, ' ' ORDER BY idx) AS rb
        |  FROM kept GROUP BY doc_id),
        |totals AS (SELECT doc_id, count(*)::BIGINT AS n_seg FROM occ GROUP BY doc_id)
        |SELECT r.doc_id, t.n_seg, r.n_kept,
        |       length(r.rb)::BIGINT AS n_chars_rebuilt,
        |       md5(r.rb) AS rebuilt_md5
        |FROM rebuilt r JOIN totals t ON r.doc_id = t.doc_id
        |ORDER BY r.doc_id""".stripMargin,


    // q71: same unigram model in SQL; nll = ln(N) - avg(ln cnt).
    "q71_lm_quality" ->
      """WITH toks AS (
        |  SELECT doc_id, t AS token FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |    FROM documents)
        |  WHERE length(t) > 0),
        |vocab AS (
        |  SELECT token, COUNT(*)::DOUBLE AS cnt FROM toks GROUP BY 1),
        |tot AS (SELECT SUM(cnt) AS n_total FROM vocab)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |       ln((SELECT n_total FROM tot)) - avg(ln(cnt)) AS nll
        |FROM toks JOIN vocab USING (token)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,


    // q73: same vocabulary cut and pair count in SQL.
    "q73_pmi_cooccurrence" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, t AS token FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |    FROM documents)
        |  WHERE length(t) > 0),
        |vocab AS (
        |  SELECT token, COUNT(*)::DOUBLE AS df FROM toks GROUP BY 1
        |  ORDER BY 2 DESC, 1 ASC LIMIT 50),
        |vt AS (SELECT doc_id, token, df FROM toks JOIN vocab USING (token)),
        |nd AS (SELECT COUNT(*)::DOUBLE AS n_docs FROM documents)
        |SELECT a.token AS t1, b.token AS t2, COUNT(*) AS c_xy,
        |       ln((SELECT n_docs FROM nd) * COUNT(*)::DOUBLE /
        |          (max(a.df) * max(b.df))) AS pmi
        |FROM vt a JOIN vt b
        |  ON a.doc_id = b.doc_id AND a.token < b.token
        |GROUP BY 1, 2
        |ORDER BY 3 DESC, 1 ASC, 2 ASC
        |LIMIT 100""".stripMargin,


    // q74: same A-ES keys; u from 13 md5 hex chars (52-bit exact),
    // u^(1/w) as iterated sqrt (correctly rounded per IEEE 754, so the
    // key — and therefore the top-200 cut — matches bit-for-bit).
    "q74_weighted_sample" -> {
      val values = sampleWeights
        .map { case (src, w) => s"('$src', $w)" }.mkString(", ")
      s"""WITH weights(source, w) AS (VALUES $values),
        |keyed AS (
        |  SELECT doc_id, source, w,
        |         (('0x' || substr(md5(text), 1, 13))::BIGINT::DOUBLE + 0.5)
        |           / 4503599627370496.0 AS u
        |  FROM documents JOIN weights USING (source))
        |SELECT doc_id, source, w::BIGINT AS w,
        |       CASE CAST(log2(w) AS INT)
        |         WHEN 0 THEN u
        |         WHEN 1 THEN sqrt(u)
        |         WHEN 2 THEN sqrt(sqrt(u))
        |         ELSE sqrt(sqrt(sqrt(u))) END AS key
        |FROM keyed
        |ORDER BY key DESC, doc_id ASC
        |LIMIT 200""".stripMargin
    },


    // q76: the same 5 merge rounds unrolled as CTEs (OracleHashSql).
    "q76_bpe_merges" -> OracleHashSql.q76BpeMerges,


    // q80: encode side of the shared BPE CTE chain.
    "q80_bpe_encode" -> OracleHashSql.q80BpeEncode,


    // q82: same smoothed KL fold in SQL.
    "q82_source_drift_kl" ->
      """WITH toks AS (
        |  SELECT source, t AS token FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS t
        |    FROM documents)
        |  WHERE length(t) > 0),
        |corpus AS (
        |  SELECT token, COUNT(*)::DOUBLE AS c_corpus FROM toks GROUP BY 1),
        |nc AS (SELECT SUM(c_corpus) AS n_corpus FROM corpus),
        |nv AS (SELECT COUNT(*)::DOUBLE AS n_vocab FROM corpus),
        |bysrc AS (
        |  SELECT source, token, COUNT(*)::DOUBLE AS c_src
        |  FROM toks GROUP BY 1, 2),
        |st AS (SELECT source, SUM(c_src) AS n_src FROM bysrc GROUP BY 1)
        |SELECT source,
        |       SUM(p * ln(p / (c_corpus / (SELECT n_corpus FROM nc)))) AS kl,
        |       COUNT(*)::BIGINT AS n_vocab_terms
        |FROM (
        |  SELECT st.source, corpus.token, corpus.c_corpus,
        |         (COALESCE(b.c_src, 0) + 1)
        |           / (st.n_src + (SELECT n_vocab FROM nv)) AS p
        |  FROM corpus CROSS JOIN st
        |  LEFT JOIN bysrc b
        |    ON b.source = st.source AND b.token = corpus.token)
        |GROUP BY 1 ORDER BY 1""".stripMargin,


    // q96: token→bucket→weight hash chain mirrored over distinct
    // tokens; BIGINT sum is order-independent so grouping is free.
    "q96_quality_classifier" -> OracleHashSql.q96QualityClassifier,


    // q98: BM25 with every constant combination spelled as the same
    // IEEE op the engine folds (1.2 + 1.0, not 2.2); score is a sum of
    // <= 3 doubles, inside the checker's 1e-9 float tolerance.
    "q98_bm25_retrieval" -> {
      val values = bm25Queries
        .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }
        .mkString(", ")
      s"""WITH q(query_id, term) AS (VALUES $values),
        |dd AS (
        |  SELECT doc_id,
        |         list_filter(string_split(lower(text), ' '),
        |                     x -> length(x) > 0) AS toks
        |  FROM documents),
        |d AS (SELECT doc_id, toks, len(toks)::BIGINT AS dl FROM dd),
        |stats AS (SELECT count(*)::BIGINT AS n_docs,
        |                 SUM(dl)::BIGINT AS sum_dl FROM d),
        |dfs AS (
        |  SELECT term, count(*)::BIGINT AS df
        |  FROM d CROSS JOIN (SELECT DISTINCT term FROM q) t
        |  WHERE list_contains(toks, term) GROUP BY 1),
        |cand AS (
        |  SELECT query_id, q.term, doc_id, dl,
        |         len(list_filter(toks, x -> x = q.term))::BIGINT AS tf
        |  FROM d CROSS JOIN q)
        |SELECT query_id::BIGINT AS query_id, doc_id::BIGINT AS doc_id,
        |       count(*)::BIGINT AS n_terms,
        |       SUM(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |           * (tf * (1.2 + 1.0))
        |           / (tf + 1.2 * (1.0 - 0.75
        |                          + 0.75 * dl / (sum_dl::DOUBLE / n_docs))))
        |         AS score
        |FROM cand JOIN dfs USING (term), stats
        |WHERE tf > 0
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },


    // q99: integer/string chunking — truncating and floor division
    // agree because dl > 0 is enforced on both sides.
    "q99_passage_chunks" ->
      s"""WITH dd AS (
        |  SELECT doc_id,
        |         list_filter(string_split(lower(text), ' '),
        |                     x -> length(x) > 0) AS toks
        |  FROM documents),
        |d AS (SELECT doc_id, toks, len(toks)::BIGINT AS dl FROM dd
        |      WHERE len(toks) > 0),
        |c AS (
        |  SELECT doc_id, toks, dl, unnest(range((dl - 1) // ${TextAnalysis.PassageStride} + 1)) AS chunk_id
        |  FROM d),
        |x AS (
        |  SELECT doc_id, chunk_id::BIGINT AS chunk_id,
        |         (chunk_id * ${TextAnalysis.PassageStride})::BIGINT AS start_tok,
        |         least(${TextAnalysis.PassageWindow}, dl - chunk_id * ${TextAnalysis.PassageStride})::BIGINT AS n_tok,
        |         array_to_string(
        |           list_slice(toks, chunk_id * ${TextAnalysis.PassageStride} + 1,
        |                      chunk_id * ${TextAnalysis.PassageStride} + least(${TextAnalysis.PassageWindow}, dl - chunk_id * ${TextAnalysis.PassageStride})),
        |           ' ') AS chunk_text
        |  FROM c)
        |SELECT doc_id, chunk_id, start_tok, n_tok, chunk_text,
        |       md5(chunk_text) AS chunk_fp
        |FROM x ORDER BY 1, 2""".stripMargin,


    // q100: DuckDB's range(2, n+1) is already empty for n < 2, so only
    // the Spark side needs the descending-sequence guard. Mirrors the
    // Spark plan's pre-aggregated form: (doc, bg) → m first, each
    // ln-term weighted by m (the fingerprint join keys are a pure
    // shuffle-width optimization — string keys give the same answer,
    // which is exactly what this oracle checks). <= 98 ln-terms per
    // doc — well inside the 1e-9 float tolerance.
    "q100_bigram_lm" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         list_filter(string_split(lower(text), ' '),
        |                     x -> length(x) > 0) AS t
        |  FROM documents),
        |pairs AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(2, len(t) + 1),
        |                               i -> t[i - 1] || ' ' || t[i])) AS bg
        |  FROM d),
        |occ AS (
        |  SELECT doc_id, bg, count(*)::BIGINT AS m
        |  FROM pairs GROUP BY 1, 2),
        |uni AS (
        |  SELECT w, count(*)::BIGINT AS ca
        |  FROM (SELECT unnest(t) AS w FROM d) GROUP BY 1),
        |vv AS (SELECT count(*)::BIGINT AS v FROM uni),
        |big AS (SELECT bg, SUM(m)::BIGINT AS cab FROM occ GROUP BY 1),
        |sc AS (
        |  SELECT doc_id, SUM(m)::BIGINT AS n_bigrams,
        |         SUM(-ln((cab + 0.5) / (ca + 0.5 * v)) * m) AS nll
        |  FROM occ
        |  JOIN big USING (bg)
        |  JOIN uni ON uni.w = split_part(bg, ' ', 1)
        |  CROSS JOIN vv
        |  GROUP BY 1)
        |SELECT doc_id, n_bigrams, nll, nll / n_bigrams AS nll_tok
        |FROM sc ORDER BY doc_id""".stripMargin,


    "q103_shingle_novelty" -> OracleHashSql.q103ShingleNovelty,


    // q106: every division is spelled ::DOUBLE (a bare DuckDB 1.0 is
    // DECIMAL and decimal÷bigint is not the IEEE op Spark runs); rank
    // is integer-keyed so the window order is bit-exact both engines.
    "q106_retrieval_eval" -> {
      val values = bm25Queries
        .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }
        .mkString(", ")
      s"""WITH q(query_id, term) AS (VALUES $values),
        |d AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |                             x -> length(x) > 0) AS toks
        |  FROM documents),
        |cand AS (
        |  SELECT query_id, doc_id, count(*)::BIGINT AS n_terms,
        |         SUM(tf)::BIGINT AS tf_sum
        |  FROM (SELECT query_id, doc_id,
        |               len(list_filter(toks, x -> x = q.term))::BIGINT AS tf
        |        FROM d CROSS JOIN q)
        |  WHERE tf > 0 GROUP BY 1, 2),
        |r AS (
        |  SELECT *,
        |    CASE WHEN ('0x' || substr(md5(query_id::VARCHAR || ':' ||
        |                doc_id::VARCHAR), 1, 13))::BIGINT % 5 = 0
        |         THEN 1 ELSE 0 END AS rel,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY n_terms DESC, tf_sum DESC, doc_id ASC) AS rank
        |  FROM cand),
        |a AS (
        |  SELECT query_id, count(*)::BIGINT AS n_cand,
        |         SUM(rel)::BIGINT AS n_rel,
        |         SUM(CASE WHEN rank <= ${TextAnalysis.RetrievalK} THEN rel ELSE 0 END)::BIGINT
        |           AS rel_at_k,
        |         MAX(CASE WHEN rank <= ${TextAnalysis.RetrievalK} AND rel = 1
        |             THEN 1.0::DOUBLE / rank ELSE 0.0::DOUBLE END) AS mrr,
        |         SUM(CASE WHEN rank <= ${TextAnalysis.RetrievalK} AND rel = 1
        |             THEN 1.0::DOUBLE / ln(rank + 1.0::DOUBLE)
        |             ELSE 0.0::DOUBLE END) AS dcg
        |  FROM r GROUP BY 1),
        |i AS (
        |  SELECT *, CASE WHEN n_rel = 0 THEN 0.0::DOUBLE ELSE
        |      coalesce(list_sum(list_transform(
        |        range(1, least(n_rel, ${TextAnalysis.RetrievalK}) + 1),
        |        i -> 1.0::DOUBLE / ln(i::DOUBLE + 1.0::DOUBLE))),
        |        0.0::DOUBLE) END AS idcg
        |  FROM a)
        |SELECT query_id::BIGINT AS query_id, n_cand, n_rel, rel_at_k, mrr,
        |       CASE WHEN idcg > 0.0 THEN dcg / idcg
        |            ELSE 0.0::DOUBLE END AS ndcg,
        |       rel_at_k::DOUBLE / ${TextAnalysis.RetrievalK}.0::DOUBLE AS p_at_k,
        |       CASE WHEN n_rel > 0 THEN rel_at_k::DOUBLE / n_rel
        |            ELSE 0.0::DOUBLE END AS recall_at_k
        |FROM i ORDER BY 1""".stripMargin
    },


    // q107: vocab boundary is deterministic both engines — (count
    // desc, token asc) tie-break; oov_rate is one int÷int IEEE op.
    "q107_vocab_coverage" ->
      s"""WITH toks AS (
        |  SELECT doc_id, source,
        |         unnest(list_filter(string_split(lower(text), ' '),
        |                            x -> length(x) > 0)) AS token
        |  FROM documents),
        |vocab AS (
        |  SELECT token FROM toks GROUP BY token
        |  ORDER BY count(*) DESC, token ASC LIMIT ${TextAnalysis.VocabSize})
        |SELECT source, count(DISTINCT doc_id)::BIGINT AS n_docs,
        |       count(*)::BIGINT AS n_tokens,
        |       SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)::BIGINT
        |         AS n_oov,
        |       SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)::DOUBLE
        |         / count(*) AS oov_rate
        |FROM toks t LEFT JOIN vocab v ON t.token = v.token
        |GROUP BY 1 ORDER BY 1""".stripMargin,


    // q108: the char-histogram fold runs over the SORTED distinct list
    // on both engines — one deterministic summation order.
    "q108_char_entropy" ->
      """WITH c AS (
        |  SELECT doc_id, regexp_extract_all(text, '[\s\S]') AS ch
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, len(ch)::BIGINT AS n,
        |         list_transform(list_sort(list_distinct(ch)),
        |           x -> len(list_filter(ch, y -> y = x))::DOUBLE) AS cnts
        |  FROM c WHERE len(ch) > 0)
        |SELECT doc_id, n AS n_chars, len(cnts)::BIGINT AS n_unique,
        |       ln(n::DOUBLE) -
        |         list_sum(list_transform(cnts, c -> c * ln(c))) / n
        |         AS entropy,
        |       CASE WHEN len(cnts) > 1 THEN
        |         (ln(n::DOUBLE) -
        |          list_sum(list_transform(cnts, c -> c * ln(c))) / n)
        |           / ln(len(cnts)::DOUBLE)
        |       ELSE 0.0::DOUBLE END AS evenness
        |FROM d ORDER BY 1""".stripMargin,


    // q110: DuckDB lambda indices are 1-based — the engine hashes the
    // 1-based ordinal too (i + 1 on the Spark side).
    "q110_word_dropout" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split(lower(text), ' '),
        |                     x -> length(x) > 0) AS toks
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, len(toks)::BIGINT AS n_orig,
        |         list_filter(toks, (x, i) ->
        |           ('0x' || substr(md5(doc_id::VARCHAR || ':' ||
        |             i::VARCHAR || ':' || x), 1, 13))::BIGINT % 10 >= 1)
        |           AS kept
        |  FROM t WHERE len(toks) > 0)
        |SELECT doc_id, n_orig, len(kept)::BIGINT AS n_kept,
        |       array_to_string(kept, ' ') AS aug_text,
        |       (n_orig - len(kept))::DOUBLE / n_orig AS drop_rate
        |FROM d ORDER BY 1""".stripMargin,


    // q111: the oracle runs the textbook percent_rank windows; the
    // engine computes the identical (less/(n-1)) via histogram joins.
    "q111_length_calibration" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |         len(list_filter(string_split(lower(text), ' '),
        |                         x -> length(x) > 0))::BIGINT AS n_tokens
        |  FROM documents)
        |SELECT doc_id, source, n_tokens,
        |       percent_rank() OVER (PARTITION BY source ORDER BY n_tokens)
        |         AS pct_source,
        |       percent_rank() OVER (ORDER BY n_tokens) AS pct_global
        |FROM d ORDER BY 1""".stripMargin,


    // q112: DISTINCT after the unnest (Spark: array_distinct before
    // the explode — same per-doc term set); string_agg with ORDER BY
    // mirrors the sorted comma-joined postings.
    "q112_posting_lists" ->
      s"""WITH toks AS (
        |  SELECT DISTINCT doc_id, term FROM (
        |    SELECT doc_id,
        |           unnest(list_filter(string_split(lower(text), ' '),
        |                              x -> length(x) > 0)) AS term
        |    FROM documents)),
        |dfv AS (SELECT term, count(*)::BIGINT AS df FROM toks GROUP BY 1),
        |top AS (
        |  SELECT term, doc_id,
        |         row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
        |  FROM toks),
        |cap AS (
        |  SELECT term,
        |         string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS postings,
        |         count(*)::BIGINT AS n_postings
        |  FROM top WHERE rn <= ${TextAnalysis.PostingCap} GROUP BY 1)
        |SELECT term, df, postings, n_postings
        |FROM dfv JOIN cap USING (term) ORDER BY term""".stripMargin,


    // q113: pow/division on the |sources|-row table — identical IEEE
    // double arithmetic both engines; the 20-term z sum is far inside
    // the 1e-9 tolerance whatever the fold order.
    "q113_temperature_mixture" ->
      s"""WITH per AS (
        |  SELECT source, count(*)::BIGINT AS n_docs,
        |         SUM(len(list_filter(string_split(lower(text), ' '),
        |                             x -> length(x) > 0)))::BIGINT AS n_tokens
        |  FROM documents GROUP BY 1),
        |t AS (SELECT SUM(n_tokens)::BIGINT AS tot FROM per),
        |p AS (
        |  SELECT source, n_docs, n_tokens,
        |         n_tokens::DOUBLE / tot AS p_raw,
        |         pow(n_tokens::DOUBLE / tot, ${TextAnalysis.TempAlpha}) AS pa
        |  FROM per CROSS JOIN t),
        |z AS (SELECT SUM(pa) AS z FROM p)
        |SELECT source, n_docs, n_tokens, p_raw, pa / z AS p_temp,
        |       (pa / z) / p_raw AS upsample
        |FROM p CROSS JOIN z ORDER BY source""".stripMargin,


    // q118: same shingling as the engine (wsTokens split + 8-token
    // space-joined shingles), duplicate test = global COUNT window over
    // the shingle string, islands via pos - row_number — all integer.
    "q118_repeated_substrings" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split(lower(text), ' '),
        |                     x -> length(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(range(len(t) - 7)) AS pos,
        |         unnest(list_transform(range(len(t) - 7),
        |                i -> array_to_string(t[(i+1)::INT:(i+8)::INT], ' '))) AS s
        |  FROM toks WHERE len(t) >= 8),
        |dup AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, count(*) OVER (PARTITION BY s) AS occ FROM sh)
        |  WHERE occ >= 2),
        |isl AS (
        |  SELECT doc_id, pos,
        |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
        |           AS island
        |  FROM dup),
        |runs AS (
        |  SELECT doc_id, min(pos)::BIGINT AS span_start,
        |         (max(pos) + 7)::BIGINT AS span_end
        |  FROM isl GROUP BY doc_id, island)
        |SELECT doc_id, span_start, span_end,
        |       span_end - span_start + 1 AS span_tokens
        |FROM runs WHERE span_end - span_start + 1 >= 16
        |ORDER BY doc_id, span_start""".stripMargin,


    // q119: q118's runs grouped to per-doc span lists, then a 1-based
    // list_filter((x, i)) mirrors Spark's 0-based filter((x, i)).
    "q119_substring_removal" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split(lower(text), ' '),
        |                     x -> length(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(range(len(t) - 7)) AS pos,
        |         unnest(list_transform(range(len(t) - 7),
        |                i -> array_to_string(t[(i+1)::INT:(i+8)::INT], ' '))) AS s
        |  FROM toks WHERE len(t) >= 8),
        |dup AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, count(*) OVER (PARTITION BY s) AS occ FROM sh)
        |  WHERE occ >= 2),
        |isl AS (
        |  SELECT doc_id, pos,
        |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
        |           AS island
        |  FROM dup),
        |runs AS (
        |  SELECT doc_id, min(pos)::BIGINT AS ss, (max(pos) + 7)::BIGINT AS se
        |  FROM isl GROUP BY doc_id, island),
        |spans AS (
        |  SELECT doc_id, list(struct_pack(s := ss, e := se)) AS sps
        |  FROM runs WHERE se - ss + 1 >= 16 GROUP BY doc_id),
        |rebuilt AS (
        |  SELECT d.doc_id, len(d.t)::BIGINT AS n_tokens,
        |         CASE WHEN sp.sps IS NULL THEN d.t
        |              ELSE list_filter(d.t, (x, i) ->
        |                len(list_filter(sp.sps,
        |                    r -> r.s <= i - 1 AND i - 1 <= r.e)) = 0)
        |         END AS kept
        |  FROM toks d LEFT JOIN spans sp ON d.doc_id = sp.doc_id)
        |SELECT doc_id, n_tokens, (n_tokens - len(kept))::BIGINT AS n_removed,
        |       coalesce(array_to_string(kept, ' '), '') AS rebuilt
        |FROM rebuilt ORDER BY doc_id""".stripMargin,


    // q143: identical integer counts → identical double weights →
    // identical floor(w·65536) threshold on both engines.
    "q143_length_matched_resample" ->
      """WITH docs AS MATERIALIZED (
        |  SELECT doc_id, source, text, (n_chars // 100) AS bucket
        |  FROM documents),
        |sb AS (SELECT source, bucket, count(*) AS n_sb FROM docs GROUP BY 1, 2),
        |bt AS (SELECT bucket, count(*) AS n_b FROM docs GROUP BY 1),
        |st AS (SELECT source, count(*) AS n_s FROM docs GROUP BY 1),
        |tt AS (SELECT count(*) AS n FROM docs)
        |SELECT d.doc_id, d.source, d.bucket,
        |       floor(least(1.0, (n_b / n) / (n_sb / n_s)) * 10000 + 0.5)
        |         / 10000 AS keep_frac,
        |       (('0x' || substr(md5(d.text), 1, 4))::BIGINT <
        |        CAST(floor(least(1.0, (n_b / n) / (n_sb / n_s)) * 65536)
        |             AS BIGINT)) AS kept
        |FROM docs d
        |JOIN sb ON sb.source = d.source AND sb.bucket = d.bucket
        |JOIN bt ON bt.bucket = d.bucket
        |JOIN st ON st.source = d.source, tt
        |ORDER BY doc_id""".stripMargin,


    // q144: same deterministic PII injection, RE2 counterparts of the
    // Java regexes (fixed-shape patterns, no backrefs/lookaround →
    // identical match sets), 'g' for replace-all parity.
    "q144_pii_scrub" ->
      """WITH base AS MATERIALIZED (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 97 = 0 THEN text || ' contact user' ||
        |      doc_id::VARCHAR || '@example.com call 415-555-' ||
        |      lpad((doc_id % 10000)::VARCHAR, 4, '0') ||
        |      ' from 10.0.' || (doc_id % 256)::VARCHAR || '.7 ssn 123-45-' ||
        |      lpad((doc_id % 10000)::VARCHAR, 4, '0')
        |    ELSE text END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '[a-z0-9.]+@[a-z0-9]+\.[a-z]{2,4}', 0))::BIGINT AS n_email,
        |  len(regexp_extract_all(t, '([0-9]{1,3}\.){3}[0-9]{1,3}', 0))::BIGINT AS n_ip,
        |  len(regexp_extract_all(t, '[0-9]{3}-[0-9]{2}-[0-9]{4}', 0))::BIGINT AS n_ssn,
        |  len(regexp_extract_all(t, '[0-9]{3}-[0-9]{3}-[0-9]{4}', 0))::BIGINT AS n_phone,
        |  md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        |    '[a-z0-9.]+@[a-z0-9]+\.[a-z]{2,4}', '<EMAIL>', 'g'),
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
        |    '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g'),
        |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
        |FROM base ORDER BY doc_id""".stripMargin,


    // q145: list_filter membership + the same integer keep rule.
    "q145_blocklist_filter" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         len(string_split(lower(text), ' '))::BIGINT AS n_tokens,
        |         len(list_filter(string_split(lower(text), ' '),
        |             x -> x IN ('slow', 'error', 'crash')))::BIGINT AS n_hits
        |  FROM documents)
        |SELECT doc_id, source, n_tokens, n_hits,
        |       (n_hits * 100 < n_tokens * 3) AS kept
        |FROM t ORDER BY doc_id""".stripMargin,

    "q152_dsir_selection" -> OracleHashSql.q152Dsir,


    // q159: identical window cumsum over the (priority, doc_id)
    // order; md5-prefix priority parses hex on both engines.
    "q159_token_budget_fill" ->
      s"""WITH t AS (
        |  SELECT doc_id, source,
        |         len(list_filter(string_split(lower(text), ' '),
        |             x -> length(x) > 0))::BIGINT AS n_tokens,
        |         ('0x' || substring(md5(text), 1, 8))::BIGINT AS priority
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens, priority,
        |         sum(n_tokens) OVER (PARTITION BY source
        |           ORDER BY priority, doc_id
        |           ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens
        |  FROM t)
        |SELECT doc_id, source, n_tokens, priority, cum_tokens,
        |       (cum_tokens <= ${TextAnalysis.TokenBudget}) AS kept
        |FROM c ORDER BY doc_id""".stripMargin,

    "q157_shard_manifest" -> OracleHashSql.q157ShardManifest,


    // q153: identical injection + canonicalization chain; RE2 ('g'
    // flag, \1 backrefs) vs Java regex ($1) is the cross-check.
    "q153_url_canonical_dedup" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://' ||
        |    CASE WHEN doc_id % 3 = 0
        |         THEN upper('www.site' || ((doc_id % 120) % 30)::VARCHAR
        |                    || '.example.com')
        |         ELSE 'www.site' || ((doc_id % 120) % 30)::VARCHAR
        |              || '.example.com' END ||
        |    CASE WHEN doc_id % 4 = 0 THEN ':80'
        |         WHEN doc_id % 10 = 7 THEN ':8080' ELSE '' END ||
        |    '/articles/' || (doc_id % 120)::VARCHAR ||
        |    CASE WHEN doc_id % 2 = 0
        |         THEN '?utm_source=feed&id=' || ((doc_id % 120) % 5)::VARCHAR
        |              || '&utm_campaign=c'
        |         ELSE '?id=' || ((doc_id % 120) % 5)::VARCHAR END ||
        |    CASE WHEN doc_id % 5 = 0 THEN '#section2' ELSE '' END AS raw_url
        |  FROM documents),
        |c0 AS (SELECT doc_id, raw_url,
        |              regexp_replace(raw_url, '#.*$', '') AS v FROM u),
        |c1 AS (SELECT doc_id, raw_url,
        |              lower(regexp_extract(v, '^(https?://[^/?]*)', 1)) ||
        |              regexp_replace(v, '^https?://[^/?]*', '') AS v FROM c0),
        |c2 AS (SELECT doc_id, raw_url,
        |              regexp_replace(v, ':80(/|\?|$)', '\1') AS v FROM c1),
        |c3 AS (SELECT doc_id, raw_url,
        |              regexp_replace(v, '&utm_[a-z]+=[^&]*', '', 'g') AS v
        |       FROM c2),
        |c4 AS (SELECT doc_id, raw_url,
        |              regexp_replace(v, '\?utm_[a-z]+=[^&]*&', '?') AS v
        |       FROM c3),
        |c5 AS (SELECT doc_id, raw_url,
        |              regexp_replace(v, '\?utm_[a-z]+=[^&]*$', '')
        |                AS canonical_url
        |       FROM c4)
        |SELECT doc_id, raw_url, canonical_url,
        |       count(*) OVER (PARTITION BY canonical_url)::BIGINT
        |         AS n_variants,
        |       (doc_id = min(doc_id) OVER (PARTITION BY canonical_url))
        |         AS kept
        |FROM c5 ORDER BY doc_id""".stripMargin,


    // q147: q98's BM25 CTEs + a q20-style cosine ranking, fused by
    // RRF. Ranks are integers (BM25 ranking keys on the r4-floored
    // score), so 1/(60+rank) sums are bit-identical across engines.
    "q147_hybrid_rrf" -> {
      val values = bm25Queries
        .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }
        .mkString(", ")
      val qids = bm25Queries.map(_._1).mkString(", ")
      s"""WITH q(query_id, term) AS (VALUES $values),
        |dd AS (
        |  SELECT doc_id,
        |         list_filter(string_split(lower(text), ' '),
        |                     x -> length(x) > 0) AS toks
        |  FROM documents),
        |d AS (SELECT doc_id, toks, len(toks)::BIGINT AS dl FROM dd),
        |stats AS (SELECT count(*)::BIGINT AS n_docs,
        |                 SUM(dl)::BIGINT AS sum_dl FROM d),
        |dfs AS (
        |  SELECT term, count(*)::BIGINT AS df
        |  FROM d CROSS JOIN (SELECT DISTINCT term FROM q) t
        |  WHERE list_contains(toks, term) GROUP BY 1),
        |cand AS (
        |  SELECT query_id, q.term, doc_id, dl,
        |         len(list_filter(toks, x -> x = q.term))::BIGINT AS tf
        |  FROM d CROSS JOIN q),
        |bm AS (
        |  SELECT query_id::BIGINT AS query_id, doc_id::BIGINT AS doc_id,
        |         SUM(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |             * (tf * (1.2 + 1.0))
        |             / (tf + 1.2 * (1.0 - 0.75
        |                            + 0.75 * dl / (sum_dl::DOUBLE / n_docs))))
        |           AS score
        |  FROM cand JOIN dfs USING (term), stats
        |  WHERE tf > 0 GROUP BY 1, 2),
        |bmr AS (
        |  SELECT query_id, doc_id, r_bm FROM (
        |    SELECT query_id, doc_id, row_number() OVER (
        |      PARTITION BY query_id
        |      ORDER BY floor(score * 10000 + 0.5) / 10000 DESC,
        |               doc_id ASC)::BIGINT AS r_bm
        |    FROM bm)
        |  WHERE r_bm <= 20),
        |em AS (
        |  SELECT qe.vec_id AS query_id, e.vec_id AS doc_id,
        |         list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
        |                                CAST(e.embedding AS DOUBLE[])) AS cos
        |  FROM embeddings qe JOIN embeddings e ON e.vec_id <> qe.vec_id
        |  WHERE qe.vec_id IN ($qids)),
        |emr AS (
        |  SELECT query_id, doc_id, r_em FROM (
        |    SELECT query_id, doc_id, row_number() OVER (
        |      PARTITION BY query_id
        |      ORDER BY cos DESC, doc_id ASC)::BIGINT AS r_em
        |    FROM em)
        |  WHERE r_em <= 20),
        |fused AS (
        |  SELECT coalesce(b.query_id, e2.query_id) AS query_id,
        |         coalesce(b.doc_id, e2.doc_id) AS doc_id,
        |         b.r_bm, e2.r_em,
        |         coalesce(1.0 / (60.0 + b.r_bm), 0.0) +
        |         coalesce(1.0 / (60.0 + e2.r_em), 0.0) AS rrf
        |  FROM bmr b FULL JOIN emr e2
        |    ON b.query_id = e2.query_id AND b.doc_id = e2.doc_id)
        |SELECT query_id, rank, doc_id, r_bm, r_em, rrf FROM (
        |  SELECT query_id, doc_id, r_bm, r_em, rrf,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY rrf DESC, doc_id ASC)::BIGINT AS rank
        |  FROM fused)
        |WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin
    },


    "q176_winnow_fingerprints" -> OracleHashSql.q176Winnow,
  )
}
