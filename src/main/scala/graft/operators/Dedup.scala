package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, HashFunctions, TextFunctions}

/** Deduplication family for the training-data pipeline: exact,
  * fingerprint, n-gram jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup.
  *
  * Scale design (100 TB): every variant reduces the pairwise O(n²)
  * problem to a shuffle on a bounded key — full text (exact), md5
  * (fingerprint), LSH band bucket (minhash), 16-bit chunk (simhash) —
  * followed by a within-bucket self-join. The PROBABILISTIC variants
  * (minhash/cosine-LSH blocks, k-means cells) bound bucket population
  * ([[MaxBucketSize]]) so a degenerate bucket (all-identical spam)
  * cannot quadratically explode an executor; dropped buckets are the
  * standard trade there (those docs are trivially all-duplicates and
  * are caught by the exact/fingerprint pass anyway). [[simhashPairs]]
  * is deliberately UNGUARDED: its 4-chunk pigeonhole is a hard
  * completeness contract (every pair at hamming ≤ 3 shares a chunk),
  * and dropping a degenerate chunk bucket would silently break it —
  * identical-content floods form TRUE duplicate pairs, and the
  * structural fix is the exact/fingerprint pass UPSTREAM, not a
  * recall hole here.
  */
object Dedup {

  private[graft] val MaxBucketSize = 1000     // LSH bucket cap of boundedByCount (q17, q37 oracles too)
  private[graft] val LshJaccardThreshold = 0.5 // lshBlockedJaccardPairs' jaccard cut (q36)
  private[graft] val SimhashMaxHamming = 3    // simhashPairs' hamming cut (q18): the 4-chunk pigeonhole bound
  private[graft] val LshCosineThreshold = 0.3 // lshBlockedCosinePairs' cosine cut (q37)
  private[graft] val SemDedupThreshold = 0.3  // semanticDedup's cosine cut (q64) ...
  private[graft] val SemDedupCells = 16       // ... over SemDedupCells k-means cells,
  private[graft] val SemDedupMaxCell = 1000   // ... a cell past this size skipped whole
  private[graft] val MinhashK = 64            // minhashLshPairs' signature length ...
  private[graft] val MinhashBands = 16        // ... in MinhashBands bands
  private val CandidateEst = 0.2              // MinHash cut ahead of the exact reranks

  /** lshBlockedCosinePairs' (and q37's oracle's) hyperplanes, tuned to
    * the fixture's cos ≥ 0.3 regime; near-dup at cos ≥ 0.9 wants ≈8 planes.
    */
  private[graft] val cosinePlaneSets: Seq[Seq[Seq[Double]]] =
    (0 until 12).map(t => Similarity.hyperplanes(3, Similarity.Dim, 137L + t))

  /** Skew guard shared by the probabilistic block/bucket/cell dedup
    * variants: keep rows whose `keys` population is ≤ `max`, via a
    * count WINDOW rather than a groupBy+anti-join — the downstream
    * self-joins sort on the same keys, so the window rides the
    * exchange they need anyway (ReusedExchange) and the upstream
    * lineage (tokenize/minhash) computes exactly once; the anti-join
    * form recomputes it for the counts branch and measured 2.5× slower
    * at sf0.1. `keepCountAs` retains the population column (the
    * semantic-dedup output wants the cell size).
    */
  private def boundedByCount(df: DataFrame, keys: Seq[String], max: Int,
                             keepCountAs: Option[String] = None): DataFrame = {
    val name = keepCountAs.getOrElse("__guard_n")
    val out = df
      .withColumn(name, count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)))
      .filter(col(name) <= max)
    if (keepCountAs.isDefined) out else out.drop(name)
  }

  /** Attach a per-doc value column to BOTH sides of a candidate pair
    * frame — the LSH candidate-rerank scaffold shared by the
    * containment / blocked-jaccard / edit-distance variants:
    * (doc_a, doc_b) × perDoc(doc_id, v) → (doc_a, doc_b, v_a, v_b).
    */
  private def joinPairSides(cands: DataFrame, perDoc: DataFrame,
                            valueCol: String): DataFrame =
    cands
      .join(perDoc.withColumnsRenamed(
        Map("doc_id" -> "doc_a", valueCol -> s"${valueCol}_a")), "doc_a")
      .join(perDoc.withColumnsRenamed(
        Map("doc_id" -> "doc_b", valueCol -> s"${valueCol}_b")), "doc_b")

  /** Default block-size cap for the quadratic-within-block baselines —
    * shared with the DuckDB oracle SQL so engine and oracle agree on
    * the guard semantics.
    */
  val DefaultMaxBlockSize = 100000

  /** Exact dedup: one survivor (min doc_id) per distinct text.
    * Plain hash aggregation — one shuffle on the text bytes.
    */
  def exact(documents: DataFrame): DataFrame =
    documents.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))

  /** Fingerprint dedup: survivor per md5(normalized text) — catches
    * case/whitespace-only variants that exact dedup misses. At scale the
    * 16-byte digest shuffles instead of the full text.
    */
  def byFingerprint(documents: DataFrame): DataFrame =
    documents
      .withColumn("fp", TextFunctions.fingerprintMd5(col("text")))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("fp"), col("n_copies"))

  /** Exact word-set jaccard near-dup pairs within a blocking key (here:
    * `source`) — the oracle-checkable exact baseline the approximate
    * variants are judged against.
    *
    * The self-join is quadratic WITHIN a block, so blocks are bounded by
    * `maxBlockSize` (same skew guard as the LSH buckets): a degenerate
    * block — one source holding a huge slice of the corpus — is dropped
    * rather than allowed to go O(n²) on a single executor. Dropped
    * blocks are the standard trade; at scale the LSH-blocked form
    * ([[lshBlockedJaccardPairs]]) is the right tool, this is the exact
    * baseline.
    */
  def ngramJaccardPairs(documents: DataFrame, threshold: Double,
                        maxBlockSize: Int = DefaultMaxBlockSize): DataFrame = {
    GraftFunctions.register(documents.sparkSession)
    // sort+dedup ONCE per doc; the pairwise join then runs a linear
    // merge per pair (custom expression), not hash-set building
    val withSets = documents.select(col("doc_id"), col("source"),
      array_sort(array_distinct(split(col("text"), " "))).as("toks"))
    val bounded = boundedByCount(withSets, Seq("source"), maxBlockSize)
    val a = bounded.withColumn("n", size(col("toks"))).as("a")
    val b = bounded.withColumn("n", size(col("toks"))).as("b")
    // length prefilter: jaccard >= t forces |A|/|B| within [t, 1/t]
    // (|A∩B| <= min, |A∪B| >= max), so size-incompatible pairs are
    // pruned BEFORE the linear merge. The eps slack keeps it a pure
    // NECESSARY condition under float overshoot (same slack as the
    // prefix filter): greatest(n)*t in doubles can land epsilon above
    // the exact integer bound (100*0.07 = 7.000000000000001 > 7) and
    // would otherwise prune a boundary pair the final exact filter
    // keeps — with the slack, results are unchanged and the oracle
    // needs no mirror.
    val eps = 1e-9
    a.join(b, col("a.source") === col("b.source") && col("a.doc_id") < col("b.doc_id") &&
        least(col("a.n"), col("b.n")).cast("double") >=
          greatest(col("a.n"), col("b.n")) * threshold - eps)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        GraftFunctions.jaccardSorted(col("a.toks"), col("b.toks")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash + LSH candidate pairs: shingle → k-minhash → band →
    * bucket self-join → estimate filter. Only docs sharing an LSH bucket
    * are ever paired, so the shuffle key is the bucket, not the pair.
    */
  def minhashLshPairs(spark: SparkSession, documents: DataFrame,
                      estimateThreshold: Double = 0.5): DataFrame = {
    GraftFunctions.register(spark) // before the eager select analysis
    minhashLshPairsFromShingles(spark,
      documents
        .select(col("doc_id"),
          GraftFunctions.wordShingles(TextFunctions.wsTokens(col("text")), 3)
            .as("shingles"))
        .filter(size(col("shingles")) > 0),
      estimateThreshold)
  }

  /** [[minhashLshPairs]] over a PRECOMPUTED (doc_id, shingles) frame —
    * the sharing seam for callers that already hold the corpus's
    * shingle sets (q182 computes them once for both its exact-truth
    * and LSH-candidate sides). MinHash is pure SET semantics — the
    * signature is a min over per-shingle hashes — so duplicate or
    * re-ordered shingles (e.g. [[shingleSets]]' sorted-distinct form)
    * yield bit-identical signatures to the raw shingle stream.
    *
    * PRECONDITION: every `shingles` array must be NON-EMPTY (the public
    * [[minhashLshPairs]] path filters `size(shingles) > 0` before
    * calling here; [[shingleSets]] guarantees it by construction). An
    * empty array hashes to the all-Long.MaxValue signature, so all
    * empty docs would collide in every band and pass the estimate
    * filter at 1.0 — spurious pairs. Kept as a documented contract
    * rather than a defensive re-filter so the q182 hot path does not
    * pay a per-row predicate for a condition its producer already
    * guarantees (r16 ADVICE).
    */
  def minhashLshPairsFromShingles(spark: SparkSession, shingled: DataFrame,
                                  estimateThreshold: Double = 0.5): DataFrame = {
    GraftFunctions.register(spark)
    val rowsPerBand = MinhashK / MinhashBands
    // sigs feeds BOTH bucket self-join sides: materialize the
    // shingle→minhash computation once (r17, guide §5). The signature
    // is the family's hot loop — O(|shingles|·k) per doc — and the
    // self-join's two subtrees each recomputed it from the raw
    // shingles; the checkpoint is doc-grain (doc_id + k longs), far
    // smaller than the exploded bucket frame, so the band explode is
    // recomputed per side from materialized sigs instead.
    val sigs = shingled
      .select(col("doc_id"),
        GraftFunctions.minhashSig(col("shingles"), MinhashK).as("sig"))
      .localCheckpoint(true)

    val buckets = sigs
      .select(col("doc_id"), col("sig"),
        posexplode(GraftFunctions.bandHash(col("sig"), MinhashBands, rowsPerBand)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))

    // Bound degenerate buckets before the self-join ([[boundedByCount]]
    // — the 2.5×-slower anti-join alternative is measured in its doc).
    val bounded = boundedByCount(buckets, Seq("band", "bucket"), MaxBucketSize)

    val l = bounded.as("l")
    val r = bounded.as("r")
    // Single-emission: a pair sharing k bands would appear k times and
    // need a distinct() SHUFFLE; instead each pair is emitted only from
    // its FIRST shared band (recomputed per-row from the signatures —
    // cheap codegen, no exchange). Contract note: if that first shared
    // band sat in a guard-dropped bucket the pair is dropped — the skew
    // guard already sacrifices degenerate buckets by design, and the
    // oracle mirrors this exact semantics.
    l.join(r,
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
          col("l.doc_id") < col("r.doc_id"))
      .filter(col("l.band") ===
        GraftFunctions.firstSharedBand(col("l.sig"), col("r.sig"), MinhashBands, rowsPerBand))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        GraftFunctions.minhashEst(col("l.sig"), col("r.sig")).as("est_jaccard"))
      .filter(col("est_jaccard") >= estimateThreshold)
  }

  /** Containment detection over the LSH candidate pairs: the
    * asymmetric cousin of q36's Jaccard rerank — |A∩B| / min(|A|,|B|)
    * — which catches a document QUOTED INSIDE a larger one (high
    * containment, low Jaccard). Threshold is the exact-integer
    * inequality den·|∩| ≥ num·min (default 7/10): no float boundary,
    * bit-identical membership on any engine. Emits
    * (doc_a, doc_b, n_inter, n_min) with containment = n_inter/n_min.
    *
    * Scale/recall note: candidates come from the SAME symmetric
    * MinHash banding as q36 — sound for near-equal sizes, but a tiny
    * doc inside a huge one dilutes the big doc's signature and can
    * escape the bands; true asymmetric containment blocking at 100 TB
    * partitions by size band or uses ordered minhash. Declared limit,
    * same family as q16's fixture blocking.
    */
  def lshContainmentPairs(spark: SparkSession, documents: DataFrame): DataFrame = {
    GraftFunctions.register(spark)
    val cands = minhashLshPairs(spark, documents, estimateThreshold = CandidateEst)
      .select(col("doc_a"), col("doc_b"))
    val toks = documents.select(col("doc_id"),
      array_sort(array_distinct(split(col("text"), " "))).as("toks"))
    joinPairSides(cands, toks, "toks")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("toks_a"), col("toks_b")))
          .cast("long").as("n_inter"),
        least(size(col("toks_a")), size(col("toks_b")))
          .cast("long").as("n_min"))
      .filter(col("n_inter") * lit(10L) >= col("n_min") * lit(7L))
  }

  /** LSH-blocked EXACT jaccard: MinHash+LSH proposes candidate pairs
    * (no quadratic pair space), then the exact sorted-merge jaccard
    * reranks them — the 100 TB-correct form of [[ngramJaccardPairs]],
    * whose `source` blocking key is a fixture stand-in. Recall is the
    * LSH S-curve; precision is exact.
    */
  def lshBlockedJaccardPairs(spark: SparkSession, documents: DataFrame): DataFrame = {
    GraftFunctions.register(spark)
    val cands = minhashLshPairs(spark, documents, estimateThreshold = CandidateEst)
      .select(col("doc_a"), col("doc_b"))
    val toks = documents.select(col("doc_id"),
      array_sort(array_distinct(split(col("text"), " "))).as("toks"))
    joinPairSides(cands, toks, "toks")
      .select(col("doc_a"), col("doc_b"),
        GraftFunctions.jaccardSorted(col("toks_a"), col("toks_b")).as("jaccard"))
      .filter(col("jaccard") >= LshJaccardThreshold)
  }

  /** EXACT all-pairs shingle-set similarity join via prefix filtering
    * (AllPairs, Bayardo et al. WWW'07; PPJoin, Xiao et al. WWW'08) —
    * the uncapped exact scale form: unlike q16 (source-blocked, block
    * cap) and q36 (LSH candidates, S-curve recall), this returns the
    * EXACT set of pairs with shingle-set jaccard ≥ t over the whole
    * corpus, with no cap and no approximation, yet never enumerates
    * the quadratic pair space.
    *
    * Principle: fix a global total order on shingles — ascending
    * corpus document-frequency, ties by shingle string — and sort each
    * document's distinct shingles by it. If jaccard(A,B) ≥ t then
    * |A∩B| ≥ ceil(t·max(|A|,|B|)), and the O-smallest common shingle
    * provably lies within the first |X| − ceil(t·|X|) + 1 shingles of
    * BOTH sides (pigeonhole on the sorted suffix: were it in X's
    * suffix, X would need |X|−ceil(t·|X|)+1 prefix tokens below it
    * plus ≥ ceil(t·|X|) common tokens at-or-above it — more than |X|).
    * So joining ONLY prefix shingles finds every qualifying pair, and
    * because prefixes are the RAREST shingles of each doc, the join
    * key's bucket population is small by construction: high-df
    * shingles fall outside prefixes and never become join keys —
    * the skew that forces q16's cap prunes itself here.
    *
    * Pipeline (all bounded-key shuffles): shingle-set per doc → df
    * aggregation (shingle-keyed) → per-doc (df, shingle) sort window
    * (doc-keyed) → prefix×prefix self-join (shingle-keyed) + size
    * compatibility filter (|A|,|B| within [t, 1/t] ratio — necessary
    * condition, results unchanged) → pair distinct (candidate-keyed,
    * candidates ≪ pairs) → sorted-merge jaccard rerank ≥ t.
    *
    * The oracle deliberately does NOT mirror the prefix filter: it
    * computes plain all-pairs-sharing-a-shingle jaccard, so the hash
    * match certifies that prefix filtering is result-preserving.
    */
  def prefixFilterJaccardPairs(documents: DataFrame, threshold: Double = 0.5): DataFrame =
    // the shingle-set frame is referenced four times (df aggregation,
    // prefix build, both rerank sides); checkpoint the one expensive
    // pass (tokenize→shingle→sort→distinct) instead of recomputing it
    prefixFilterJaccardPairsFromSets(
      shingleSets(documents).localCheckpoint(true), threshold)

  /** The shared sorted-distinct shingle-set frame — (doc_id, sh, n) —
    * [[prefixFilterJaccardPairs]] builds; exposed so a caller running
    * BOTH an exact and an LSH pass (q182's calibration) can pay the
    * tokenize→shingle→sort→distinct scan once and feed the same
    * materialized frame to [[prefixFilterJaccardPairsFromSets]] and
    * [[minhashLshPairsFromShingles]].
    */
  def shingleSets(documents: DataFrame, shingleSize: Int = 3): DataFrame = {
    GraftFunctions.register(documents.sparkSession)
    documents
      .select(col("doc_id"), TextFunctions.wsTokens(col("text")).as("t"))
      .filter(size(col("t")) >= shingleSize)
      .select(col("doc_id"),
        array_sort(array_distinct(
          GraftFunctions.wordShingles(col("t"), shingleSize))).as("sh"))
      .withColumn("n", size(col("sh")))
  }

  /** [[prefixFilterJaccardPairs]] over a precomputed (ideally already
    * materialized) [[shingleSets]] frame.
    */
  def prefixFilterJaccardPairsFromSets(sets: DataFrame,
                                       threshold: Double): DataFrame = {
    GraftFunctions.register(sets.sparkSession)
    import org.apache.spark.sql.expressions.Window
    // float-robustness epsilon for the two NECESSARY-condition bounds
    // below: ceil(t·n) in doubles can overshoot the mathematical
    // ceiling (0.07·100 = 7.000000000000001 → ceil 8, true 7), which
    // would SHORTEN the prefix and silently drop qualifying pairs.
    // Slacking both bounds by ε only admits extra candidates — the
    // exact rerank keeps the result identical (exactness verified by
    // the plain-all-pairs oracle).
    val eps = 1e-9
    val df = sets.select(explode(col("sh")).as("s"))
      .groupBy("s").agg(count(lit(1)).as("df"))
    // prefix length p = n − ceil(t·n) + 1 under (df asc, shingle asc)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    val prefix = sets
      .select(col("doc_id"), col("n"), explode(col("sh")).as("s"))
      .join(df, "s")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("n") - ceil(col("n") * threshold - eps) + 1)
      .select(col("doc_id"), col("n"), col("s"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.n"), col("b.n")).cast("double") >=
            greatest(col("a.n"), col("b.n")) * threshold - eps)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        GraftFunctions.jaccardSorted(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash near-dup pairs: 64-bit simhash per doc, bucketed by each of
    * its four 16-bit chunks; pairs sharing a chunk are checked for
    * hamming distance ≤ [[SimhashMaxHamming]] (pigeonhole-complete).
    */
  def simhashPairs(spark: SparkSession, documents: DataFrame): DataFrame = {
    require(SimhashMaxHamming <= 3,
      "simhashPairs: the 4x16-bit chunk bucketing is complete only for " +
        "hamming <= 3 (pigeonhole) — a larger threshold would silently " +
        "miss qualifying pairs; widen the band scheme instead")
    GraftFunctions.register(spark)
    val hashed = documents.select(col("doc_id"),
      GraftFunctions.simhash64(TextFunctions.wsTokens(col("text"))).as("sh"))
    val buckets = hashed.select(col("doc_id"), col("sh"),
      explode(HashFunctions.simhashBands(col("sh"))).as("bh"))
      .select(col("doc_id"), col("sh"), col("bh.band").as("band"),
        col("bh.bucket").as("bucket"))
    val l = buckets.as("l")
    val r = buckets.as("r")
    // Single-emission via first shared chunk. DELIBERATELY no skew
    // guard (see the object doc): the 4-chunk pigeonhole is a hard
    // completeness contract for hamming <= 3, so this is EXACTLY
    // equivalent to the distinct() it replaces — minus the shuffle;
    // identical-content floods are the exact/fingerprint pass's job.
    // Chunk b matches iff bits [16b, 16b+16) of the xor
    // are zero; emit only from the smallest matching chunk.
    val x = col("l.sh").bitwiseXOR(col("r.sh"))
    def chunkEq(b: Int) =
      shiftrightunsigned(x, b * 16).bitwiseAND(lit(0xffffL)) === 0L
    val firstChunk = (0 until 4).foldRight(lit(-1)) { (b, acc) =>
      when(chunkEq(b), lit(b)).otherwise(acc)
    }
    l.join(r,
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
          col("l.doc_id") < col("r.doc_id"))
      .filter(col("l.band") === firstChunk)
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        HashFunctions.hamming64(col("l.sh"), col("r.sh")).as("hamming"))
      .filter(col("hamming") <= SimhashMaxHamming)
  }

  /** LSH-blocked embedding near-dup pairs — the at-scale form of
    * [[embeddingCosinePairs]] the way [[lshBlockedJaccardPairs]] is the
    * scale form of [[ngramJaccardPairs]]: random-hyperplane LSH buckets
    * propose candidate pairs (shuffle key = bucket, never the pair
    * space), then the exact cosine reranks them. Precision is exact;
    * recall is the hyperplane S-curve of [[cosinePlaneSets]].
    */
  def lshBlockedCosinePairs(spark: SparkSession, embeddings: DataFrame): DataFrame = {
    GraftFunctions.register(spark)
    val planeSets = cosinePlaneSets
    // the fused bucket computation (tables × planes dot products per
    // vector) feeds BOTH self-join sides: materialize it once (r17,
    // guide §5 — the same seam as minhashLshPairsFromShingles' sigs);
    // vec-grain (vec_id + tables longs), cheap to store
    val withBks = embeddings
      .select(col("vec_id"),
        Similarity.lshBucketsFused(col("embedding"), planeSets).as("bks"))
      .localCheckpoint(true)
    val buckets = withBks
      .select(col("vec_id"), col("bks"), posexplode(col("bks")))
      .withColumnsRenamed(Map("pos" -> "tbl", "col" -> "bucket"))
    // window guard — same ReusedExchange rationale as minhashLshPairs
    val bounded = boundedByCount(buckets, Seq("tbl", "bucket"), MaxBucketSize)
    val l = bounded.as("l")
    val r = bounded.as("r")
    // single-emission: each pair only from its first shared table (the
    // bucket arrays ride along), replacing a distinct() shuffle with a
    // per-row filter — same contract as minhashLshPairs
    val cand = l.join(r,
        col("l.tbl") === col("r.tbl") && col("l.bucket") === col("r.bucket") &&
          col("l.vec_id") < col("r.vec_id"))
      .filter(col("l.tbl") ===
        GraftFunctions.firstSharedIndex(col("l.bks"), col("r.bks")))
      .select(col("l.vec_id").as("vec_a"), col("r.vec_id").as("vec_b"))
    val vecs = embeddings.select(col("vec_id"), col("embedding"))
    cand
      .join(vecs.withColumnsRenamed(Map("vec_id" -> "vec_a", "embedding" -> "emb_a")), "vec_a")
      .join(vecs.withColumnsRenamed(Map("vec_id" -> "vec_b", "embedding" -> "emb_b")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        GraftFunctions.cosineSim(col("emb_a"), col("emb_b")).as("cos"))
      .filter(col("cos") >= LshCosineThreshold)
  }

  /** SemDeDup-style semantic dedup (Abbas et al., 2023): cluster the
    * embedding space with deterministic sampled k-means
    * ([[Similarity.sampledKmeansCentroids]] — the q44 trainer, so the
    * centroids are bit-identical across engines), then WITHIN each
    * cluster drop every vector that has a lower-id neighbor at
    * cosine ≥ [[SemDedupThreshold]]. Pairwise comparison never leaves a
    * cluster: the all-pairs cost is Σ|cell|², controlled by the cell
    * count (production picks cells ≈ N/targetCellSize; a
    * `SemDedupMaxCell` guard — MIRRORED in the oracle — excludes
    * degenerate cells outright, the q17/q36/q37 bounded-block
    * contract). Returns the surviving vectors with their cluster and
    * its pre-dedup population.
    *
    * vs [[lshBlockedCosinePairs]] (q37): LSH blocks by random
    * hyperplanes — high recall at a sharp threshold; k-means blocks
    * by global structure — the SemDeDup shape, which also yields the
    * cluster geometry (cell sizes, centroids) the curation pipeline
    * reuses for mixture balancing.
    */
  def semanticDedup(spark: SparkSession, embeddings: DataFrame): DataFrame = {
    GraftFunctions.register(spark)
    import spark.implicits._
    val centroids = Similarity.sampledKmeansCentroids(spark, embeddings,
        SemDedupCells, Similarity.KmeansIters, Similarity.SampleN)
      .toDF("cell_id", "centroid")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("cdist").desc, col("cell_id").asc)
    val assigned = embeddings.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("embedding"), col("cell_id"),
        GraftFunctions.cosineSim(col("embedding"), col("centroid")).as("cdist"))
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") === 1)
      .drop("cdist", "crank")
    // checkpoint once: bounded feeds the a-side, the b-side, AND the
    // left_anti below — without it the centroid crossJoin + nearest-
    // centroid window re-execute for the anti-join's left leg (the
    // same multi-reference seam prefixFilterJaccardPairs checkpoints)
    val bounded = boundedByCount(assigned, Seq("cell_id"), SemDedupMaxCell,
        keepCountAs = Some("cell_n"))
      .localCheckpoint(true)
    val a = bounded.as("a")
    val b = bounded.as("b")
    // no distinct(): left_anti absorbs duplicate drop votes for free
    val dropped = a.join(b,
        col("a.cell_id") === col("b.cell_id") &&
          col("a.vec_id") < col("b.vec_id"))
      .filter(GraftFunctions.cosineSim(
        col("a.embedding"), col("b.embedding")) >= SemDedupThreshold)
      .select(col("b.vec_id").as("vec_id"))
    bounded.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell_id"), col("cell_n"))
  }

  /** Edit-distance near-dup pairs: MinHash+LSH proposes candidates (no
    * quadratic pair space), Levenshtein reranks them — character-level
    * similarity the token/hash family can't see (transpositions,
    * hyphenation, OCR noise). Levenshtein is O(|a|·|b|) per pair, which
    * is exactly why it must NEVER run on a blocked self-join at scale:
    * the candidate set is LSH-bounded, so the quadratic cost applies
    * only to pairs already known to share shingle structure.
    */
  def lshEditDistancePairs(spark: SparkSession, documents: DataFrame): DataFrame = {
    GraftFunctions.register(spark)
    val cands = minhashLshPairs(spark, documents, estimateThreshold = CandidateEst)
      .select(col("doc_a"), col("doc_b"))
    val txt = documents.select(col("doc_id"), col("text"))
    joinPairSides(cands, txt, "text")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("text_a"), col("text_b")).cast("long").as("edit_dist"),
        greatest(length(col("text_a")), length(col("text_b")))
          .cast("long").as("maxlen"))
      .select(col("doc_a"), col("doc_b"), col("edit_dist"),
        (lit(1.0) - col("edit_dist").cast("double") / col("maxlen")).as("sim"))
  }

  /** Cross-document chunk-level dedup via content-defined chunking:
    * each document is split at rolling-hash boundaries
    * ([[graft.functions.HashImpl.cdcChunks]]), and chunks appearing in
    * ≥ 2 distinct documents are reported — the storage-dedup /
    * delta-encoding primitive (near-dup documents share most of their
    * chunks even when no exact n-gram alignment exists, because the
    * boundaries follow content and re-synchronize after an edit).
    *
    * Scale: chunking is a per-row rolling pass inside codegen; the only
    * shuffle carries (chunk digest → count) with map-side partial
    * aggregation. The chunk string itself never needs to survive the
    * exchange in production (group by the digest); it is grouped here
    * so the oracle can verify digests directly.
    */
  def cdcChunkDedup(spark: SparkSession, documents: DataFrame): DataFrame = {
    GraftFunctions.register(spark)
    documents
      .select(col("doc_id"),
        explode(GraftFunctions.cdcChunks(col("text"), 16, 63)).as("chunk"))
      .groupBy(md5(col("chunk")).as("chunk_md5"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= 2)
  }

  /** Embedding-cosine near-dup pairs, blocked by `label` (the ANN-free
    * exact variant; at scale the blocking key would be an LSH/IVF cell —
    * see [[lshBlockedCosinePairs]]).
    */
  def embeddingCosinePairs(spark: SparkSession, embeddings: DataFrame,
                           threshold: Double): DataFrame = {
    GraftFunctions.register(spark)
    val a = embeddings.as("a")
    val b = embeddings.as("b")
    a.join(b, col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        GraftFunctions.cosineSim(col("a.embedding"), col("b.embedding")).as("cos"))
      .filter(col("cos") >= threshold)
  }
}
