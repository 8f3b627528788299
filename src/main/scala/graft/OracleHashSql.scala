package graft

/** DuckDB-SQL builders that mirror the engine's integer-hash pipelines
  * (functions/expressions.scala: fnv1a64, splitmix64 mix, minhashSig,
  * bandHash, simHash64) BIT-EXACTLY, so the LSH/simhash queries get full
  * rows+schema+hash oracle verification instead of rows-only checks.
  *
  * Technique: 64-bit modular arithmetic on DuckDB HUGEINT (128-bit) —
  * multiply-mod-2^64 via 32-bit limb decomposition, xor via a
  * signed-BIGINT round-trip, byte folds via list_reduce over
  * unicode() codepoints (the fixture corpus is pure ASCII, so codepoint
  * = UTF-8 byte). The splitmix64 avalanche is expanded as NESTED
  * SUBQUERIES, not lateral aliases — DuckDB inlines lateral aliases
  * textually, which makes the expression tree grow exponentially.
  *
  * Validated bit-exact against HashImpl on sf0.01 and sf0.1.
  */
object OracleHashSql {

  import graft.operators.{Dedup, Multimodal, Relational, Similarity, Sketches, TextAnalysis}

  private val TWO64 = "18446744073709551616::HUGEINT"
  private val TWO32 = "4294967296::HUGEINT"
  private val OFF = "14695981039346656037::HUGEINT" // FNV-1a offset basis
  private val PRIME = "1099511628211::HUGEINT" // FNV-1a prime
  private val GOLD = "11400714819323198485" // 0x9e3779b97f4a7c15
  private val M1 = "13787848793156543929" // 0xbf58476d1ce4e5b9
  private val M2 = "10723151780598845931" // 0x94d049bb133111eb

  /** (j·GOLD) mod 2^64 for j < `Dedup.MinhashK`, precomputed — the
    * minhash `mixed` CTE evaluates this per (shingle × j) row, so an
    * array lookup beats a per-row 64-bit multiply emulation.
    */
  private val goldJ64 =
    (0 until Dedup.MinhashK).map(j => java.math.BigInteger.valueOf(j.toLong)
        .multiply(new java.math.BigInteger("11400714819323198485"))
        .mod(java.math.BigInteger.TWO.pow(64)))
      .mkString("[", ",", "]::HUGEINT[]")

  /** Unsigned HUGEINT in [0,2^64) -> the BIGINT with the same 64 bits. */
  private def toS(x: String): String =
    s"(CASE WHEN ($x) >= 9223372036854775808::HUGEINT " +
      s"THEN (($x) - $TWO64)::BIGINT ELSE ($x)::BIGINT END)"

  /** Signed BIGINT -> unsigned HUGEINT with the same 64 bits. */
  private def toU(x: String): String =
    s"(CASE WHEN ($x) < 0 THEN ($x)::HUGEINT + $TWO64 ELSE ($x)::HUGEINT END)"

  /** 64-bit xor of two unsigned HUGEINTs. Both operands live in
    * [0,2^64), so int128 xor never touches a sign bit and equals u64
    * xor directly — no signed/unsigned CASE dance needed (that dance
    * was ~3 CASE branches per xor and dominated the DuckDB check time
    * on the million-row hash CTEs).
    */
  private def xor64(a: String, b: String): String =
    s"xor(($a), ($b))"

  /** (a*c) mod 2^64; a in [0,2^64), c any 64-bit constant. 32-bit limb
    * split keeps every intermediate below 2^97 (HUGEINT max is 2^127).
    */
  private def mulMod(a: String, c: String): String =
    s"((((($a) // $TWO32) * $c::HUGEINT) % $TWO32) * $TWO32 " +
      s"+ (($a) % $TWO32) * $c::HUGEINT) % $TWO64"

  /** FNV-1a fold over a HUGEINT byte list, starting from `init`.
    * list_reduce has no init parameter, so the init is prepended.
    */
  private def fnvFold(init: String, bytesList: String): String =
    s"list_reduce(list_prepend($init, $bytesList), " +
      s"(h, c) -> (${xor64("h", "c")} * $PRIME) % $TWO64)"

  /** UTF-8 bytes of an ASCII string column as HUGEINTs. */
  private def strBytes(s: String): String =
    s"list_transform(string_split($s,''), c -> unicode(c)::HUGEINT)"

  /** splitmix64 finalizer (h0 column -> hmix column) as nested
    * subqueries; `inner` must select h0 plus any carried columns.
    */
  private def mixSubq(inner: String, h0: String): String =
    s"""
 SELECT * EXCLUDE (h4), ${xor64("h4", "h4 // 2147483648::HUGEINT")} AS hmix FROM (
  SELECT * EXCLUDE (h2), ${mulMod(xor64("h2", "h2 // 134217728::HUGEINT"), M2)} AS h4 FROM (
   SELECT * EXCLUDE (h0), ${mulMod(xor64("h0", "h0 // 1073741824::HUGEINT"), M1)} AS h2 FROM (
    SELECT *, $h0 AS h0 FROM ($inner)
   )))"""

  private val pow256 =
    (0 until 8).map(k => java.math.BigInteger.valueOf(256L).pow(k))
      .mkString("[", ",", "]::HUGEINT[]")
  private val pow2 =
    (0 until 64).map(k => java.math.BigInteger.valueOf(2L).pow(k))
      .mkString("[", ",", "]::HUGEINT[]")
  private val pow4 =
    (0 until 32).map(k => java.math.BigInteger.valueOf(4L).pow(k))
      .mkString("[", ",", "]::HUGEINT[]")

  /** Shared CTE chain: documents -> word-3-gram shingles -> `MinhashK`-
    * component minhash signature (signed, = HashImpl.minhashSig) ->
    * `MinhashBands` band-hash buckets (= HashImpl.bandHash) -> skew-bounded bucket self-join ->
    * candidate pairs with signature-overlap estimate `e`.
    * Mirrors Dedup.minhashLshPairs (word 3-grams, `Dedup.MinhashK`,
    * `Dedup.MinhashBands`, `Dedup.MaxBucketSize`) exactly.
    */
  private def minhashCtes: String = {
    val (k, bands, maxBucket) = (Dedup.MinhashK, Dedup.MinhashBands, Dedup.MaxBucketSize)
    val rows = k / bands
    s"""
toks AS MATERIALIZED (
  SELECT doc_id, list_filter(string_split(lower(text),' '), x -> length(x) > 0) AS t
  FROM documents),
sh AS MATERIALIZED (
  SELECT doc_id, unnest(list_transform(range(1, len(t)-1),
                 i -> array_to_string(t[i:i+2], ' '))) AS s
  FROM toks WHERE len(t) >= 3),
shb AS MATERIALIZED (
  SELECT s, ${fnvFold(OFF, strBytes("s"))} AS b
  FROM (SELECT DISTINCT s FROM sh)),
mixed AS MATERIALIZED (
  SELECT s, j, ${toS("hmix")} AS hv FROM (${mixSubq(
      s"SELECT s, b, j FROM shb, (SELECT unnest(range($k)) AS j)",
      xor64("b", s"($goldJ64)[j + 1]"))})),
sig AS MATERIALIZED (
  SELECT doc_id, list(m ORDER BY j) AS sig FROM (
    SELECT sh.doc_id, mixed.j, min(mixed.hv) AS m
    FROM sh JOIN mixed ON sh.s = mixed.s
    GROUP BY 1, 2)
  GROUP BY doc_id),
bandfold AS MATERIALIZED (
  SELECT doc_id, band, ${fnvFold(
      xor64(OFF, mulMod("band::HUGEINT", GOLD)),
      s"list_transform(range(0,${rows * 8}), k -> (${toU(s"sig[band*$rows + (k//8) + 1]")} // ($pow256)[(k%8)+1]) % 256::HUGEINT)")} AS fold
  FROM sig, (SELECT unnest(range($bands)) AS band)),
buckets AS MATERIALIZED (
  SELECT doc_id, band, ${toS("fold")} AS bucket FROM bandfold),
bounded AS MATERIALIZED (
  SELECT doc_id, band, bucket FROM (
    SELECT doc_id, band, bucket, count(*) OVER (PARTITION BY band, bucket) AS n
    FROM buckets)
  WHERE n <= $maxBucket),
firstshared AS MATERIALIZED (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, min(l.band) AS fb
  FROM buckets l JOIN buckets r
    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
  GROUP BY 1, 2),
cand AS MATERIALIZED (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bounded l JOIN bounded r
    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
  JOIN firstshared fs
    ON fs.doc_a = l.doc_id AND fs.doc_b = r.doc_id AND fs.fb = l.band),
est AS MATERIALIZED (
  SELECT doc_a, doc_b,
         len(list_filter(list_zip(sa.sig, sb.sig), p -> p[1] = p[2]))::DOUBLE / ${k.toDouble} AS e
  FROM cand
  JOIN sig sa ON sa.doc_id = doc_a
  JOIN sig sb ON sb.doc_id = doc_b)"""
  }

  /** Oracle for q17: MinHash+LSH candidate pairs, est >= 0.5. */
  def q17MinhashLsh: String =
    s"""WITH $minhashCtes
SELECT doc_a, doc_b, floor(e * 10000 + 0.5) / 10000 AS est_jaccard
FROM est
WHERE e >= 0.5
ORDER BY 1, 2"""

  /** Oracle for q182: LSH calibration curve. TRUTH is the brute-force
    * all-pairs 3-word-shingle jaccard (affordable at oracle SF — the
    * quadratic form the engine's prefix filter provably equals, q127);
    * CANDIDATES are the full q17 minhash/banding replay with no
    * estimate cut. Per jaccard decade band: true pairs, caught pairs,
    * recall — the measured LSH S-curve.
    */
  def q182LshCalibration(truthThreshold: Double): String =
    s"""WITH $minhashCtes,
sh3 AS (
  SELECT doc_id, list_sort(list_distinct(list_transform(range(1, len(t)-1),
                 i -> array_to_string(t[i:i+2], ' ')))) AS shs
  FROM toks WHERE len(t) >= 3),
truth AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.shs, b.shs))::DOUBLE
           / (len(a.shs) + len(b.shs)
              - len(list_intersect(a.shs, b.shs)))::DOUBLE AS j
  FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id),
banded AS (
  SELECT doc_a, doc_b, least(floor(j * 10), 9.0)::BIGINT AS band
  FROM truth WHERE j >= $truthThreshold),
lcand AS (SELECT doc_a, doc_b, 1::BIGINT AS caught FROM est),
agg AS (
  SELECT band, count(*)::BIGINT AS n_true,
         sum(coalesce(caught, 0))::BIGINT AS n_caught
  FROM banded LEFT JOIN lcand USING (doc_a, doc_b)
  GROUP BY band)
SELECT band, n_true, n_caught,
       (n_caught * 1000 // n_true)::BIGINT AS recall_permille
FROM agg ORDER BY band"""

  /** Oracle for q195: the three-tier dedup-explain cascade — byte
    * md5, whitespace/case-normalized md5, then q17 minhash candidates
    * (est ≥ 0.5) restricted to the earlier tiers' survivors with the
    * min-id partner rule.
    */
  def q195DedupExplain: String =
    s"""WITH $minhashCtes,
exmin AS (
  SELECT doc_id, text, min(doc_id) OVER (PARTITION BY md5(text)) AS surv
  FROM documents),
exact_drops AS (
  SELECT doc_id, surv AS survivor_id, 'exact' AS tier
  FROM exmin WHERE doc_id <> surv),
after_exact AS (SELECT doc_id, text FROM exmin WHERE doc_id = surv),
nmmin AS (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))) AS surv
  FROM after_exact),
norm_drops AS (
  SELECT doc_id, surv AS survivor_id, 'normalized' AS tier
  FROM nmmin WHERE doc_id <> surv),
remaining AS (SELECT doc_id FROM nmmin WHERE doc_id = surv),
near_drops AS (
  SELECT est.doc_b AS doc_id, min(est.doc_a) AS survivor_id,
         'near_dup' AS tier
  FROM est
  JOIN remaining ra ON ra.doc_id = est.doc_a
  JOIN remaining rb ON rb.doc_id = est.doc_b
  WHERE e >= 0.5
  GROUP BY est.doc_b)
SELECT doc_id, survivor_id, tier FROM (
  SELECT * FROM exact_drops
  UNION ALL SELECT * FROM norm_drops
  UNION ALL SELECT * FROM near_drops)
ORDER BY doc_id, tier"""

  /** Oracle for q36: LSH candidates (est >= 0.2) exact-reranked with
    * word-set jaccard >= `Dedup.LshJaccardThreshold` (= Dedup.lshBlockedJaccardPairs).
    */
  def q36LshBlockedJaccard: String =
    s"""WITH $minhashCtes,
rtoks AS (
  SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS rt
  FROM documents),
rerank AS (
  SELECT doc_a, doc_b,
         len(list_intersect(ta.rt, tb.rt))::DOUBLE
           / (len(ta.rt) + len(tb.rt) - len(list_intersect(ta.rt, tb.rt))) AS j
  FROM (SELECT doc_a, doc_b FROM est WHERE e >= 0.2) c
  JOIN rtoks ta ON ta.doc_id = doc_a
  JOIN rtoks tb ON tb.doc_id = doc_b)
SELECT doc_a, doc_b, floor(j * 10000 + 0.5) / 10000 AS jaccard
FROM rerank
WHERE j >= ${Dedup.LshJaccardThreshold}
ORDER BY 1, 2"""

  /** q81: the q36 candidate CTEs reranked by set containment
    * |∩| / min(|A|,|B|) with the exact-integer threshold 7/10.
    */
  def q81Containment: String =
    s"""WITH $minhashCtes,
rtoks AS (
  SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS rt
  FROM documents),
rerank AS (
  SELECT doc_a, doc_b,
         len(list_intersect(ta.rt, tb.rt))::BIGINT AS n_inter,
         least(len(ta.rt), len(tb.rt))::BIGINT AS n_min
  FROM (SELECT doc_a, doc_b FROM est WHERE e >= 0.2) c
  JOIN rtoks ta ON ta.doc_id = doc_a
  JOIN rtoks tb ON tb.doc_id = doc_b)
SELECT doc_a, doc_b, n_inter, n_min,
       floor(n_inter::DOUBLE / n_min * 10000 + 0.5) / 10000 AS containment
FROM rerank
WHERE n_inter * 10 >= n_min * 7
ORDER BY 1, 2"""

  /** Oracle for q55: LSH candidates (est >= 0.2) reranked by
    * Levenshtein edit distance (= Dedup.lshEditDistancePairs) — both
    * engines implement classic unit-cost edit distance, and the
    * normalized similarity is an exact-integer ratio.
    */
  def q55EditDistance: String =
    s"""WITH $minhashCtes,
cand55 AS (
  SELECT doc_a, doc_b FROM est WHERE e >= 0.2),
rr AS (
  SELECT doc_a, doc_b,
         levenshtein(da.text, db.text)::BIGINT AS edit_dist,
         greatest(length(da.text), length(db.text))::BIGINT AS maxlen
  FROM cand55
  JOIN documents da ON da.doc_id = doc_a
  JOIN documents db ON db.doc_id = doc_b)
SELECT doc_a, doc_b, edit_dist,
       floor((1.0 - edit_dist::DOUBLE / maxlen) * 10000 + 0.5) / 10000 AS sim
FROM rr
ORDER BY 1, 2, 3, 4"""

  /** Oracle for q18: 64-bit simhash (= HashImpl.simHash64) bucketed by
    * 16-bit chunks, pairs at hamming <= `Dedup.SimhashMaxHamming` (= Dedup.simhashPairs).
    */
  def q18Simhash: String =
    s"""WITH dtoks AS (
  SELECT doc_id, unnest(list_filter(string_split(lower(text),' '), x -> length(x) > 0)) AS tok
  FROM documents),
th AS (
  SELECT tok, ${fnvFold(OFF, strBytes("tok"))} AS h
  FROM (SELECT DISTINCT tok FROM dtoks)),
votes AS (
  SELECT t.doc_id, bits.bit,
         sum(CASE WHEN (th.h // ($pow2)[bits.bit+1]) % 2 = 1 THEN 1 ELSE -1 END) AS v
  FROM dtoks t
  JOIN th ON t.tok = th.tok
  CROSS JOIN (SELECT unnest(range(64)) AS bit) bits
  GROUP BY 1, 2),
shash AS (
  SELECT d.doc_id, ${toS("coalesce(u, 0::HUGEINT)")} AS sh
  FROM (SELECT DISTINCT doc_id FROM documents) d
  LEFT JOIN (
    SELECT doc_id, sum(CASE WHEN v > 0 THEN ($pow2)[bit+1] ELSE 0::HUGEINT END)::HUGEINT AS u
    FROM votes GROUP BY 1) s
  ON d.doc_id = s.doc_id),
chunks AS (
  SELECT doc_id, sh, band,
         (${toU("sh")} // ($pow2)[band*16+1]) % 65536::HUGEINT AS bucket
  FROM shash, (SELECT unnest(range(4)) AS band)),
pairs AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
         bit_count(xor(l.sh, r.sh))::BIGINT AS hamming
  FROM chunks l JOIN chunks r
    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id)
SELECT doc_a, doc_b, hamming
FROM pairs
WHERE hamming <= ${Dedup.SimhashMaxHamming}
ORDER BY 1, 2"""

  /** A double rendered so DuckDB parses back the identical IEEE bits
    * (Java's shortest round-trip repr; DuckDB reads E-notation).
    */
  private def dlit(d: Double): String = java.lang.Double.toString(d)

  /** VALUES rows `(tbl, pl, w)` embedding a plane-set matrix. */
  private def planeValues(planeSets: Seq[Seq[Seq[Double]]]): String =
    (for {
      (tbl, t) <- planeSets.zipWithIndex
      (plane, p) <- tbl.zipWithIndex
    } yield s"($t, $p, [${plane.map(dlit).mkString(",")}]::DOUBLE[])")
      .mkString(",\n  ")

  /** Sequential-fold dot product of `e.embedding` against plane `p.w` —
    * same element order and IEEE ops as HashImpl.lshBuckets.
    */
  private val planeDot = "list_reduce(list_prepend(0.0::DOUBLE, " +
    s"list_transform(range(1,${Similarity.Dim + 1}), i -> e.embedding[i]::DOUBLE * p.w[i])), (a,b) -> a+b)"

  /** Oracle for q21: multi-table random-hyperplane LSH ANN top-k
    * (= Similarity.annTopK over `planeSets`, `Similarity.AnnProbes`
    * probes, queries vec_id < `SimilarityQueries.QueryIds`). The exact Gaussian plane constants are
    * embedded as SQL literals; the dot product is folded sequentially
    * (list_reduce) in the same element order as HashImpl.lshBuckets so
    * the sign decisions are IEEE-identical.
    */
  def q21AnnLsh(planeSets: Seq[Seq[Seq[Double]]], k: Int): String = {
    val planeRows = planeValues(planeSets)
    val dot = planeDot
    val powList = (0 until planeSets.head.length).map(p => 1L << p).mkString("[", ",", "]")
    val flips = (0L +: (0 until Similarity.AnnProbes).map(i => 1L << i)).mkString("[", ",", "]")
    s"""WITH planes(tbl, pl, w) AS (VALUES
  $planeRows),
dots AS (
  SELECT e.vec_id, p.tbl, p.pl, $dot AS dot
  FROM embeddings e, planes p),
bucks AS (
  SELECT vec_id, tbl,
         sum(CASE WHEN dot >= 0 THEN ($powList)[pl+1] ELSE 0 END)::BIGINT AS bucket
  FROM dots GROUP BY 1, 2),
qprobe AS (
  SELECT vec_id AS query_id, tbl, xor(bucket, f.f) AS bucket
  FROM bucks, (SELECT unnest($flips) AS f) f
  WHERE vec_id < ${SimilarityQueries.QueryIds}),
cand AS (
  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
  FROM qprobe q JOIN bucks c ON q.tbl = c.tbl AND q.bucket = c.bucket
  WHERE q.query_id <> c.vec_id),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                CAST(ne.embedding AS DOUBLE[])) AS cos
  FROM cand
  JOIN embeddings qe ON qe.vec_id = cand.query_id
  JOIN embeddings ne ON ne.vec_id = cand.neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, rank::BIGINT AS rank, neighbor_id,
       floor(cos * 10000 + 0.5) / 10000 AS cos
FROM ranked WHERE rank <= $k
ORDER BY 1, 2"""
  }

  /** Oracle for q29: IVF ANN top-k with the deterministic
    * first-`IvfCells`-by-id centroids (= Similarity.ivfTopK: `IvfCells`
    * cells, `IvfProbes` probed, queries vec_id < `SimilarityQueries.QueryIds`) — the whole pipeline
    * is relational, so DuckDB reproduces it exactly.
    */
  def q29Ivf(k: Int): String =
    s"""WITH cent AS (
  SELECT vec_id AS cell_id, embedding AS centroid
  FROM embeddings ORDER BY vec_id LIMIT ${Similarity.IvfCells}),
cassign AS (
  SELECT neighbor_id, cv, cell_id FROM (
    SELECT e.vec_id AS neighbor_id, e.embedding AS cv, ct.cell_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                             CAST(ct.centroid AS DOUBLE[])) DESC,
                      ct.cell_id ASC) AS crank
    FROM embeddings e, cent ct)
  WHERE crank = 1),
qassign AS (
  SELECT query_id, qv, cell_id FROM (
    SELECT e.vec_id AS query_id, e.embedding AS qv, ct.cell_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                             CAST(ct.centroid AS DOUBLE[])) DESC,
                      ct.cell_id ASC) AS crank
    FROM embeddings e, cent ct WHERE e.vec_id < ${SimilarityQueries.QueryIds})
  WHERE crank <= ${Similarity.IvfProbes}),
scored AS (
  SELECT DISTINCT q.query_id, a.neighbor_id,
         list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
                                CAST(a.cv AS DOUBLE[])) AS cos
  FROM qassign q JOIN cassign a ON q.cell_id = a.cell_id
  WHERE q.query_id <> a.neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, rank::BIGINT AS rank, neighbor_id,
       floor(cos * 10000 + 0.5) / 10000 AS cos
FROM ranked WHERE rank <= $k
ORDER BY 1, 2"""

  /** The deterministic sampled-k-means centroid CTE chain shared by
    * q44 and q64: `sample`, `cent0`, and the unrolled Lloyd stages up
    * through `cent$iters` (see [[q44IvfKmeans]] for the arithmetic
    * contract with the driver-side trainer).
    */
  private def kmeansCentroidCtes(cells: Int): String = {
    val (iters, sampleN, dim) = (Similarity.KmeansIters, Similarity.SampleN, Similarity.Dim)
    val stride = sampleN / cells
    val iterCtes = (1 to iters).map { t =>
      s"""assign$t AS (
  SELECT vec_id, emb, cell_id FROM (
    SELECT s.vec_id, s.emb, c.cell_id,
           row_number() OVER (PARTITION BY s.vec_id
             ORDER BY list_cosine_similarity(s.emb, c.centroid) DESC,
                      c.cell_id ASC) AS rn
    FROM sample s, cent${t - 1} c) WHERE rn = 1),
agg$t AS (
  SELECT cell_id, count(*) AS n, list(emb ORDER BY vec_id) AS vecs
  FROM assign$t GROUP BY cell_id),
cent$t AS (
  SELECT c.cell_id,
         CASE WHEN a.cell_id IS NULL THEN c.centroid
              ELSE list_transform(range(1, ${dim + 1}), d ->
                list_reduce(list_prepend(0.0::DOUBLE,
                    list_transform(a.vecs, v -> v[d])), (x, y) -> x + y) / a.n)
         END AS centroid
  FROM cent${t - 1} c LEFT JOIN agg$t a ON a.cell_id = c.cell_id)"""
    }.mkString(",\n")
    s"""sample AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         row_number() OVER (ORDER BY vec_id) - 1 AS rk
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT $sampleN)),
cent0 AS (
  SELECT (rk // $stride)::INT AS cell_id, emb AS centroid FROM sample
  WHERE rk % $stride = 0 AND rk // $stride < $cells),
$iterCtes"""
  }

  /** Oracle for q44: IVF ANN top-k with deterministic sampled-k-means
    * centroids (= Similarity.ivfTopKTrained defaults). The Lloyd
    * training is UNROLLED as `iters` CTE stages that reproduce the
    * in-JVM trainer's float arithmetic verbatim: stride init over
    * the rank-sorted sample, assignment by cosine (ties → lowest cell),
    * per-dim mean as a sequential vec_id-ordered list_reduce fold
    * starting at 0.0 then one division by the count, empty cells
    * keeping their previous centroid. Probe/rerank then mirrors q29.
    */
  def q44IvfKmeans(k: Int): String = {
    val (cells, iters, sampleN, nProbe, dim) = (Similarity.IvfCells,
      Similarity.KmeansIters, Similarity.SampleN, Similarity.IvfProbes, Similarity.Dim)
    s"""WITH ${kmeansCentroidCtes(cells)},
cassign AS (
  SELECT neighbor_id, cv, cell_id FROM (
    SELECT e.vec_id AS neighbor_id, e.embedding AS cv, ct.cell_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                             ct.centroid) DESC,
                      ct.cell_id ASC) AS crank
    FROM embeddings e, cent$iters ct)
  WHERE crank = 1),
qassign AS (
  SELECT query_id, qv, cell_id FROM (
    SELECT e.vec_id AS query_id, e.embedding AS qv, ct.cell_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                             ct.centroid) DESC,
                      ct.cell_id ASC) AS crank
    FROM embeddings e, cent$iters ct WHERE e.vec_id < ${SimilarityQueries.QueryIds})
  WHERE crank <= $nProbe),
scored AS (
  SELECT q.query_id, a.neighbor_id,
         list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
                                CAST(a.cv AS DOUBLE[])) AS cos
  FROM qassign q JOIN cassign a ON q.cell_id = a.cell_id
  WHERE q.query_id <> a.neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, rank::BIGINT AS rank, neighbor_id,
       floor(cos * 10000 + 0.5) / 10000 AS cos
FROM ranked WHERE rank <= $k
ORDER BY 1, 2"""
  }

  /** Oracle for q64: SemDeDup semantic dedup (= Dedup.semanticDedup
    * constants). Same centroid chain as q44; each vector is assigned to
    * its nearest cell (ties → lowest cell), cells over `Dedup.SemDedupMaxCell`
    * are excluded (guard mirrored from the engine), and a vector is
    * dropped iff a lower-id vector in the SAME cell has cosine ≥
    * `Dedup.SemDedupThreshold`.
    */
  def q64SemanticDedup: String =
    s"""WITH ${kmeansCentroidCtes(Dedup.SemDedupCells)},
cassign AS MATERIALIZED (
  SELECT vec_id, emb0, cell_id FROM (
    SELECT e.vec_id, e.embedding AS emb0, ct.cell_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                             ct.centroid) DESC,
                      ct.cell_id ASC) AS crank
    FROM embeddings e, cent${Similarity.KmeansIters} ct)
  WHERE crank = 1),
bounded AS MATERIALIZED (
  SELECT * FROM (
    SELECT vec_id, emb0, cell_id,
           count(*) OVER (PARTITION BY cell_id) AS cell_n
    FROM cassign)
  WHERE cell_n <= ${Dedup.SemDedupMaxCell}),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM bounded a JOIN bounded b
    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(CAST(a.emb0 AS DOUBLE[]),
                               CAST(b.emb0 AS DOUBLE[])) >= ${Dedup.SemDedupThreshold})
SELECT s.vec_id, s.cell_id, s.cell_n::BIGINT AS cell_n
FROM bounded s LEFT JOIN dropped d ON s.vec_id = d.vec_id
WHERE d.vec_id IS NULL
ORDER BY s.vec_id"""

  /** Oracle for q37: LSH-blocked embedding near-dup pairs
    * (= Dedup.lshBlockedCosinePairs over `planeSets`,
    * `Dedup.MaxBucketSize`, `Dedup.LshCosineThreshold`). Plane constants embedded as
    * literals; candidate generation mirrored exactly, rerank is the
    * same list_cosine_similarity pattern as q19/q20.
    */
  def q37LshBlockedCosine(planeSets: Seq[Seq[Seq[Double]]]): String = {
    val nPlanes = planeSets.head.length
    val powList = (0 until nPlanes).map(p => 1L << p).mkString("[", ",", "]")
    s"""WITH planes(tbl, pl, w) AS (VALUES
  ${planeValues(planeSets)}),
dots AS (
  SELECT e.vec_id, p.tbl, p.pl, $planeDot AS dot
  FROM embeddings e, planes p),
bucks AS (
  SELECT vec_id, tbl,
         sum(CASE WHEN dot >= 0 THEN ($powList)[pl+1] ELSE 0 END)::BIGINT AS bucket
  FROM dots GROUP BY 1, 2),
bounded AS (
  SELECT vec_id, tbl, bucket FROM (
    SELECT vec_id, tbl, bucket, count(*) OVER (PARTITION BY tbl, bucket) AS n
    FROM bucks)
  WHERE n <= ${Dedup.MaxBucketSize}),
firstshared AS (
  SELECT l.vec_id AS va, r.vec_id AS vb, min(l.tbl) AS ft
  FROM bucks l JOIN bucks r
    ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.vec_id < r.vec_id
  GROUP BY 1, 2),
cand AS (
  SELECT l.vec_id AS vec_a, r.vec_id AS vec_b
  FROM bounded l JOIN bounded r
    ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.vec_id < r.vec_id
  JOIN firstshared fs
    ON fs.va = l.vec_id AND fs.vb = r.vec_id AND fs.ft = l.tbl),
scored AS (
  SELECT vec_a, vec_b,
         list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                CAST(eb.embedding AS DOUBLE[])) AS c
  FROM cand
  JOIN embeddings ea ON ea.vec_id = vec_a
  JOIN embeddings eb ON eb.vec_id = vec_b)
SELECT vec_a, vec_b, floor(c * 10000 + 0.5) / 10000 AS cos
FROM scored
WHERE c >= ${Dedup.LshCosineThreshold}
ORDER BY 1, 2"""
  }

  /** Oracle for q49: connected components of the q17 near-dup pair
    * graph (= GraphOps.dedupClusters over Dedup.minhashLshPairs
    * defaults). The edge set reuses the bit-exact minhash CTE chain;
    * the component id (min reachable vertex) is computed with a
    * recursive reachability CTE — semantically identical to the
    * engine's min-label propagation fixpoint, all-integer, so the
    * match is exact.
    */
  def q49DedupClusters: String =
    s"""WITH RECURSIVE $minhashCtes,
p49 AS (
  SELECT doc_a, doc_b FROM est WHERE e >= 0.5),
e49 AS (
  SELECT doc_a AS src, doc_b AS dst FROM p49
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM p49),
v49 AS (
  SELECT DISTINCT src AS v FROM e49),
reach(v, r) AS (
  SELECT v, v FROM v49
  UNION
  SELECT reach.v, e.dst FROM reach JOIN e49 e ON e.src = reach.r),
comp AS (
  SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM comp
ORDER BY cluster_id, doc_id"""

  /** q91: q49's components + keep-longest survivor policy. */
  def q91DedupKeepBest: String =
    s"""WITH RECURSIVE $minhashCtes,
p49 AS (
  SELECT doc_a, doc_b FROM est WHERE e >= 0.5),
e49 AS (
  SELECT doc_a AS src, doc_b AS dst FROM p49
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM p49),
v49 AS (
  SELECT DISTINCT src AS v FROM e49),
reach(v, r) AS (
  SELECT v, v FROM v49
  UNION
  SELECT reach.v, e.dst FROM reach JOIN e49 e ON e.src = reach.r),
comp AS (
  SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
sized AS (
  SELECT comp.doc_id, cluster_id,
         count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         d.n_chars,
         row_number() OVER (PARTITION BY cluster_id
           ORDER BY d.n_chars DESC, comp.doc_id ASC) AS rk
  FROM comp JOIN documents d ON d.doc_id = comp.doc_id)
SELECT cluster_id, doc_id AS survivor_id, cluster_size,
       n_chars AS n_chars_kept
FROM sized WHERE rk = 1
ORDER BY cluster_id"""

  /** Karp-Rabin polynomial fold (= HashImpl.polyHash64) over a HUGEINT
    * byte list: h = h·B + b mod 2^64.
    */
  private def polyFold(bytesList: String): String =
    s"list_reduce(list_prepend(0::HUGEINT, $bytesList), " +
      s"(h, c) -> (${mulMod("h", "1315423911")} + c) % $TWO64)"

  /** Oracle for q176: robust winnowing fingerprints
    * (= TextAnalysis.winnowFingerprints, k-gram polyhash64 folded to
    * 32 bits, window w, min-rightmost selection). The engine's
    * lag/lead chain criterion (L+R+1 ≥ w) is mirrored verbatim — the
    * chain⇔argmin equivalence itself is property-tested against a
    * sequential textbook scan in WinnowingSpec, and the k-gram hash is
    * the same direct polynomial fold q54's oracle uses.
    */
  def q176Winnow: String = {
    val (k, w) = (TextAnalysis.WinnowK, TextAnalysis.WinnowW)
    val lagCols = (1 until w).map(i => s"lag(hv, $i) OVER win AS l$i")
    val leadCols = (1 until w).map(i => s"lead(hv, $i) OVER win AS r$i")
    // nested-CASE chain length: stops at the first failing (or null)
    // neighbor comparison, exactly like the engine's foldRight of whens
    def chainExpr(name: Int => String, op: String): String = {
      def go(i: Int): String =
        if (i == w) (w - 1).toString
        else s"CASE WHEN ${name(i)} $op hv THEN ${
          if (i == w - 1) i.toString else go(i + 1)
        } ELSE ${i - 1} END"
      go(1)
    }
    val lExpr = chainExpr(i => s"l$i", ">=")
    val rExpr = chainExpr(i => s"r$i", ">")
    s"""WITH t AS (
  SELECT doc_id,
         list_transform(string_split(text, ''), c -> unicode(c)::HUGEINT) AS b,
         length(text)::BIGINT AS n
  FROM documents),
g AS (
  SELECT doc_id, unnest(range(1, n - $k + 2)) AS pos, b
  FROM t WHERE n >= $k),
h AS (
  SELECT doc_id, pos::BIGINT AS pos,
         ((${polyFold(s"b[pos:pos+${k - 1}]")}) % 4294967296)::BIGINT AS hv
  FROM g),
nb AS (
  SELECT doc_id, pos, hv, ${(lagCols ++ leadCols).mkString(", ")}
  FROM h WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
s AS (
  SELECT doc_id, hv,
         (($lExpr) + ($rExpr) + 1 >= $w) AS sel
  FROM nb)
SELECT doc_id, count(*)::BIGINT AS n_grams,
       sum(CASE WHEN sel THEN 1 ELSE 0 END)::BIGINT AS n_fps,
       sum(CASE WHEN sel THEN hv END)::BIGINT AS fp_sum,
       min(CASE WHEN sel THEN hv END)::BIGINT AS fp_min,
       max(CASE WHEN sel THEN hv END)::BIGINT AS fp_max
FROM s GROUP BY doc_id ORDER BY doc_id"""
  }

  /** Oracle for q54: content-defined chunking + cross-document chunk
    * dedup (= Dedup.cdcChunkDedup defaults: window 16, mask 63,
    * minDocs 2). The engine's single rolling pass is mirrored by
    * hashing each 16-byte window directly (mathematically identical —
    * the rolling recurrence subtracts the departing byte·B^w); cut
    * positions where the window hash ≡ 0 mod 64 become chunk
    * boundaries via a sorted boundary list.
    */
  def q54CdcChunks: String =
    s"""WITH t AS (
  SELECT doc_id, text,
         list_transform(string_split(text,''), c -> unicode(c)::HUGEINT) AS b,
         length(text)::BIGINT AS n
  FROM documents),
cutls AS (
  SELECT doc_id, text, n,
         list_sort(list_distinct(list_concat(list_concat(
           [0]::BIGINT[],
           list_filter(range(16, n+1), p -> ${polyFold("b[p-15:p]")} % 64 = 0)),
           [n]::BIGINT[]))) AS bs
  FROM t WHERE n > 0),
chunks AS (
  SELECT doc_id, unnest(list_transform(range(1, len(bs)), j ->
           substr(text, (bs[j]+1)::INT, (bs[j+1]-bs[j])::INT))) AS chunk
  FROM cutls)
SELECT md5(chunk) AS chunk_md5, count(DISTINCT doc_id)::BIGINT AS n_docs,
       count(*)::BIGINT AS n_occ
FROM chunks
GROUP BY 1
HAVING count(DISTINCT doc_id) >= 2
ORDER BY 1, 2, 3"""

  /** Oracle for q53: Morton z-order clustering key over
    * (user_id, event-minute) (= HashImpl.zorder64 — bit k of x lands at
    * output bit 2k, bit k of y at 2k+1). Expanded as a 32-term HUGEINT
    * bit sum; the result is cast back through the signed view so it
    * carries the same 64 bits as the Java long.
    */
  def q53ZOrder: String =
    s"""WITH b AS (
  SELECT event_id, user_id,
         (epoch_ns(ts) // 1000000000) // 60 AS m
  FROM events),
z AS (
  SELECT event_id, user_id, m,
         list_sum(list_transform(range(32), k ->
             ((user_id::HUGEINT // ($pow2)[k+1]) % 2) * ($pow4)[k+1]
           + ((m::HUGEINT // ($pow2)[k+1]) % 2) * 2 * ($pow4)[k+1])) AS zu
  FROM b)
SELECT event_id, user_id, m, ${toS("zu::HUGEINT")} AS z
FROM z
ORDER BY 4, 1, 2, 3"""

  /** Oracle for q52: count-min-sketch heavy hitters
    * (= Sketches.cmsHeavyHitters: CmsDepth rows, CmsWidth cells, top
    * CmsTopK). The per-row hash is HashImpl.fnv1a64Seeded — FNV fold from a
    * seed-mixed basis, then the splitmix avalanche — mirrored with the
    * same fnvFold/mixSubq building blocks the minhash oracle uses; the
    * counters and the min-across-rows estimate are plain integer
    * relational algebra, so the sketch itself is verified exactly.
    */
  def q52CmsHeavyHitters: String =
    s"""WITH toks AS (
  SELECT unnest(list_filter(string_split(lower(text),' '), x -> length(x) > 0)) AS token
  FROM documents),
occ AS (
  SELECT token, count(*)::BIGINT AS cnt FROM toks GROUP BY 1),
seeded AS (
  SELECT token, r, (hmix % ${Sketches.CmsWidth})::BIGINT AS cell FROM (${mixSubq(
        s"SELECT token, r FROM (SELECT DISTINCT token FROM toks), (SELECT unnest(range(${Sketches.CmsDepth})) AS r)",
        fnvFold(xor64(OFF, mulMod("r::HUGEINT", GOLD)), strBytes("token")))})),
counters AS (
  SELECT s.r, s.cell, count(*)::BIGINT AS c
  FROM toks t JOIN seeded s USING (token)
  GROUP BY 1, 2),
top AS (
  SELECT token, cnt FROM occ ORDER BY cnt DESC, token ASC LIMIT ${Sketches.CmsTopK})
SELECT top.token, top.cnt, min(co.c)::BIGINT AS est_cms
FROM top
JOIN seeded se USING (token)
JOIN counters co ON co.r = se.r AND co.cell = se.cell
GROUP BY 1, 2
ORDER BY 1, 2, 3"""

  /** Oracle for q24: per-kind integer byte statistics of the synthetic
    * media table (= Multimodal.featureStats). Every metric is integer
    * arithmetic over the payload bytes (ASCII text), so the mapPartitions
    * decode plumbing is verified end-to-end without a codec.
    */
  def q24MediaStats: String =
    s"""SELECT kind, count(*)::BIGINT AS n_files, sum(n_bytes)::BIGINT AS total_bytes,
       sum(byte_sum)::BIGINT AS byte_checksum,
       sum(width)::BIGINT AS sum_width, sum(height)::BIGINT AS sum_height
FROM (
  SELECT (['image','audio','video'])[(doc_id % 3) + 1] AS kind,
         length(text)::BIGINT AS n_bytes,
         list_sum(list_transform(string_split(text,''), c -> unicode(c)))::BIGINT AS byte_sum,
         16 + (doc_id % 8) * 16 AS width,
         16 + (doc_id % 5) * 16 AS height
  FROM documents)
GROUP BY 1
ORDER BY 1"""

  /** Oracle for q61: fixed-iteration PageRank (= GraphOps.pageRank,
    * damping `GraphOps.Damping`) over the customer→supplier purchase
    * graph. The fixed round count (`GraphQueries.PageRankRounds`) is
    * UNROLLED as a chain of CTEs (pr0..prN) — recursive CTEs can't aggregate over the recursive
    * reference, and unrolling keeps each step a plain grouped join,
    * structurally identical to the engine's per-round plan. All
    * arithmetic is double; terms are combined in the same shape as the
    * engine ((1-d)/N + d·(contrib + dang/N)), so residuals are pure
    * summation-order noise at ~1e-15 relative.
    */
  def q61PageRank: String = {
    // every CTE is MATERIALIZED: each pr step is referenced 3× (dangling
    // mass, contributions, and the next step); inlining would expand the
    // chain 3^rounds-fold and re-open the parquet scans thousands of times
    val d = graft.operators.GraphOps.Damping.toString
    val steps = (0 until GraphQueries.PageRankRounds).map { i =>
      s"""dg$i AS MATERIALIZED (
  SELECT coalesce(sum(pr), 0) AS dm FROM pr$i
  WHERE v NOT IN (SELECT src FROM deg)),
c$i AS MATERIALIZED (
  SELECT e.dst AS v, sum(p.pr / deg.outd) AS contrib
  FROM e JOIN pr$i p ON p.v = e.src JOIN deg ON deg.src = e.src
  GROUP BY e.dst),
pr${i + 1} AS MATERIALIZED (
  SELECT nodes.v,
         (1.0 - $d) / (SELECT n FROM nn) + $d *
           (coalesce(c.contrib, 0) + (SELECT dm FROM dg$i) / (SELECT n FROM nn)) AS pr
  FROM nodes LEFT JOIN c$i c ON c.v = nodes.v)"""
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS src, 100000 + l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
nodes AS MATERIALIZED (SELECT src AS v FROM e UNION SELECT dst FROM e),
nn AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM nodes),
deg AS MATERIALIZED (SELECT src, count(*)::DOUBLE AS outd FROM e GROUP BY src),
pr0 AS MATERIALIZED (SELECT v, 1.0 / (SELECT n FROM nn) AS pr FROM nodes),
$steps
SELECT v AS node_id, pr AS pagerank FROM pr${GraphQueries.PageRankRounds} ORDER BY node_id"""
  }

  /** Oracle for q136: q49's reach components with a singleton
    * fallback (docs outside every pair cluster as themselves), split
    * by the md5-prefix rule on the cluster id string.
    */
  def q136ClusterSafeSplit: String =
    s"""WITH RECURSIVE $minhashCtes,
p49 AS (
  SELECT doc_a, doc_b FROM est WHERE e >= 0.5),
e49 AS (
  SELECT doc_a AS src, doc_b AS dst FROM p49
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM p49),
v49 AS (
  SELECT DISTINCT src AS v FROM e49),
reach(v, r) AS (
  SELECT v, v FROM v49
  UNION
  SELECT reach.v, e.dst FROM reach JOIN e49 e ON e.src = reach.r),
comp AS (
  SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
alld AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
SELECT doc_id, cluster_id,
       CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 1)
                 IN ('0', '1', '2', '3')
            THEN 'val' ELSE 'train' END AS split
FROM alld
ORDER BY doc_id"""

  /** Oracle for q134: personalized PageRank (= GraphOps.
    * personalizedPageRank on the q61 graph). Same unrolled
    * MATERIALIZED chain as q61 with the teleport AND dangling mass
    * confined to the seed set: pr0 is 1/|S| on seeds else 0, and each
    * step adds (1−d)/|S| + d·dang/|S| only on seeds. Every float op
    * mirrors the engine term for term.
    */
  def q134PersonalizedPageRank(seeds: Seq[Long]): String = {
    val d = graft.operators.GraphOps.Damping.toString
    val sl = seeds.mkString(", ")
    val nS = s"${seeds.size}.0"
    val steps = (0 until GraphQueries.PageRankRounds).map { i =>
      s"""dg$i AS MATERIALIZED (
  SELECT coalesce(sum(pr), 0) AS dm FROM pr$i
  WHERE v NOT IN (SELECT src FROM deg)),
c$i AS MATERIALIZED (
  SELECT e.dst AS v, sum(p.pr / deg.outd) AS contrib
  FROM e JOIN pr$i p ON p.v = e.src JOIN deg ON deg.src = e.src
  GROUP BY e.dst),
pr${i + 1} AS MATERIALIZED (
  SELECT nodes.v,
         (CASE WHEN nodes.v IN ($sl) THEN (1.0 - $d) / $nS ELSE 0.0 END) + $d *
           (coalesce(c.contrib, 0) +
            CASE WHEN nodes.v IN ($sl)
                 THEN (SELECT dm FROM dg$i) / $nS ELSE 0.0 END) AS pr
  FROM nodes LEFT JOIN c$i c ON c.v = nodes.v)"""
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS src, 100000 + l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
nodes AS MATERIALIZED (SELECT src AS v FROM e UNION SELECT dst FROM e),
deg AS MATERIALIZED (SELECT src, count(*)::DOUBLE AS outd FROM e GROUP BY src),
pr0 AS MATERIALIZED (
  SELECT v, CASE WHEN v IN ($sl) THEN 1.0 / $nS ELSE 0.0 END AS pr
  FROM nodes),
$steps
SELECT v AS node_id, pr AS pagerank FROM pr${GraphQueries.PageRankRounds}
WHERE pr > 0.0
ORDER BY node_id"""
  }

  /** Oracle for q69: HyperLogLog distinct l_orderkey per l_returnflag
    * (= Sketches.hllDistinct(p)). The registers are reproduced
    * bit-exactly: the key's decimal string is FNV-1a folded + splitmix
    * mixed (same as hash64_seeded(0, k)), the top p bits pick the
    * bucket, and rho over the 64-p-bit suffix is an integer CASE ladder
    * (no floating log2). The harmonic denominator is the exact HUGEINT
    * sum of 2^(63-r) with 2^63 per empty register; only the final
    * division is double, against the SAME numerator literal the engine
    * embeds (Sketches.hllNumerator), rounded at 4 decimals to absorb
    * the HUGEINT->DOUBLE cast.
    */
  def q69HllDistinct: String = {
    val m = 1 << Sketches.HllP
    val suffix = 64 - Sketches.HllP
    val powSuffix = java.math.BigInteger.valueOf(2L).pow(suffix)
    // rho ladder: w = 0 -> suffix+1, else position of first 1-bit
    val ladder = (1 to suffix).map { r =>
      s"WHEN w >= ${java.math.BigInteger.valueOf(2L).pow(suffix - r)}::HUGEINT THEN $r"
    }.mkString(" ")
    s"""WITH dk AS (
  SELECT DISTINCT l_returnflag AS grp, CAST(l_orderkey AS VARCHAR) AS k
  FROM lineitem),
mixed AS (
  SELECT grp, hmix FROM (${mixSubq("SELECT grp, k FROM dk",
        fnvFold(OFF, strBytes("k")))})),
rw AS (
  SELECT grp, hmix // $powSuffix::HUGEINT AS bucket,
         hmix % $powSuffix::HUGEINT AS w
  FROM mixed),
regs AS (
  SELECT grp, bucket,
         max(CASE WHEN w = 0 THEN ${suffix + 1} $ladder END) AS r
  FROM rw GROUP BY 1, 2),
per AS (
  SELECT grp, count(*)::BIGINT AS nz,
         sum(($pow2)[64 - r])::HUGEINT AS sp
  FROM regs GROUP BY 1),
ex AS (
  SELECT l_returnflag AS grp, count(DISTINCT l_orderkey)::BIGINT AS n_exact
  FROM lineitem GROUP BY 1)
SELECT grp, n_exact, nz,
       floor((${dlit(Sketches.hllNumerator(Sketches.HllP))} /
         (sp + ($m - nz)::HUGEINT * 9223372036854775808::HUGEINT)::DOUBLE)
         * 10000 + 0.5) / 10000 AS hll_est
FROM ex JOIN per USING (grp)
ORDER BY grp"""
  }

  /** Oracle for q135: q69's register chain plus the 'ALL' union level
    * — registers max-merged per bucket, both levels estimated from
    * registers alone (mirroring Sketches.hllDistinctRollup).
    */
  def q135HllUnionRollup: String = {
    val m = 1 << Sketches.HllP
    val suffix = 64 - Sketches.HllP
    val powSuffix = java.math.BigInteger.valueOf(2L).pow(suffix)
    val ladder = (1 to suffix).map { r =>
      s"WHEN w >= ${java.math.BigInteger.valueOf(2L).pow(suffix - r)}::HUGEINT THEN $r"
    }.mkString(" ")
    s"""WITH dk AS (
  SELECT DISTINCT l_returnflag AS grp, CAST(l_orderkey AS VARCHAR) AS k
  FROM lineitem),
mixed AS (
  SELECT grp, hmix FROM (${mixSubq("SELECT grp, k FROM dk",
        fnvFold(OFF, strBytes("k")))})),
rw AS (
  SELECT grp, hmix // $powSuffix::HUGEINT AS bucket,
         hmix % $powSuffix::HUGEINT AS w
  FROM mixed),
regs AS MATERIALIZED (
  SELECT grp, bucket,
         max(CASE WHEN w = 0 THEN ${suffix + 1} $ladder END) AS r
  FROM rw GROUP BY 1, 2),
regsu AS (
  SELECT grp, bucket, r FROM regs
  UNION ALL
  SELECT 'ALL' AS grp, bucket, max(r) AS r FROM regs GROUP BY bucket),
per AS (
  SELECT grp, count(*)::BIGINT AS nz,
         sum(($pow2)[64 - r])::HUGEINT AS sp
  FROM regsu GROUP BY 1),
ex AS (
  SELECT l_returnflag AS grp, count(DISTINCT l_orderkey)::BIGINT AS n_exact
  FROM lineitem GROUP BY 1
  UNION ALL
  SELECT 'ALL', count(DISTINCT l_orderkey)::BIGINT FROM lineitem)
SELECT grp, n_exact, nz,
       floor((${dlit(Sketches.hllNumerator(Sketches.HllP))} /
         (sp + ($m - nz)::HUGEINT * 9223372036854775808::HUGEINT)::DOUBLE)
         * 10000 + 0.5) / 10000 AS hll_est
FROM ex JOIN per USING (grp)
ORDER BY grp"""
  }

  /** q76: the k BPE merge rounds unrolled as CTE chains. Each round's
    * greedy left-to-right merge is replayed with list_reduce over a
    * FLAT list accumulator ("merge into the last committed symbol") —
    * provably equivalent to the engine's (out, pending) struct fold
    * because a merged symbol l||r can never equal l, and required
    * because DuckDB 1.0.0's list_reduce returns stale struct fields
    * when the accumulator is a STRUCT (spot-verified: the integer fold
    * is correct, the struct fold loses earlier appends).
    */
  private def bpePairsCte(i: Int): String =
    s"""pairs$i AS (
  SELECT t[i] AS l, t[i+1] AS r, SUM(freq)::BIGINT AS cnt FROM (
    SELECT t, freq, unnest(range(1, len(t))) AS i FROM seqs$i)
  GROUP BY 1, 2),
top$i AS (
  SELECT l, r, cnt FROM pairs$i ORDER BY cnt DESC, l ASC, r ASC LIMIT 1)"""

  private def bpeMergeCte(i: Int): String =
    s"""seqs${i + 1} AS (
  SELECT w, list_reduce(
    list_prepend([]::VARCHAR[], list_transform(t, x -> [x])),
    (acc, cx) -> CASE
      WHEN len(acc) > 0 AND acc[-1] = l AND cx[1] = r
        THEN list_append(acc[1:len(acc)-1], l || r)
      ELSE list_append(acc, cx[1]) END) AS t, freq
  FROM seqs$i CROSS JOIN top$i)"""

  /** Shared q76/q80 CTE prefix: word table and `k` unrolled merge
    * rounds. `withFinalSeqs` additionally materializes the post-merge
    * symbol table seqs{k+1} (q80 needs it; q76 stops at top_k).
    */
  private def bpeCtes(k: Int, withFinalSeqs: Boolean): String = {
    val rounds = (1 to k).map { i =>
      bpePairsCte(i) +
        (if (i < k || withFinalSeqs) ",\n" + bpeMergeCte(i) else "")
    }.mkString(",\n")
    s"""WITH words AS (
  SELECT w, string_split(w, '') AS t, COUNT(*)::BIGINT AS freq FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE length(w) > 0 GROUP BY w),
seqs1 AS (SELECT w, t, freq FROM words),
$rounds"""
  }

  def q76BpeMerges: String = {
    val k = TextAnalysis.BpeK
    val out = (1 to k)
      .map(i => s"SELECT $i::BIGINT AS round, l, r, cnt FROM top$i")
      .mkString("\nUNION ALL\n")
    s"""${bpeCtes(k, withFinalSeqs = false)}
$out
ORDER BY round"""
  }

  /** q80: the learned merges applied back — per-source compression
    * stats from the final symbol table joined to (source, word)
    * frequencies.
    */
  def q80BpeEncode: String =
    s"""${bpeCtes(TextAnalysis.BpeK, withFinalSeqs = true)},
sf AS (SELECT w, len(t)::BIGINT AS n_tok FROM seqs${TextAnalysis.BpeK + 1}),
src AS (
  SELECT source, w, COUNT(*)::BIGINT AS freq FROM (
    SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE length(w) > 0 GROUP BY 1, 2)
SELECT source, SUM(freq)::BIGINT AS n_words,
       SUM(freq * length(w))::BIGINT AS n_chars,
       SUM(freq * n_tok)::BIGINT AS n_tokens
FROM src JOIN sf USING (w)
GROUP BY source ORDER BY source"""

  /** Oracle for q95: KMV per-source token sketches and pairwise
    * overlap estimates (= Sketches.kmvSourceOverlap, seed 0). The
    * hash is the engine's fnv1a64Seeded (FNV-1a fold + splitmix
    * finalizer), ranked in SIGNED order on both sides; the union
    * estimator's "space below h" is therefore h/2^64 + 0.5, with 2^64
    * a power of two so every double step is the identical IEEE op.
    */
  def q95KmvOverlap: String =
    s"""WITH toks AS (
  SELECT DISTINCT source, unnest(list_filter(string_split(lower(text),' '),
                                 x -> length(x) > 0)) AS token
  FROM documents),
tokh AS (
  SELECT token, ${toS("hmix")} AS hv FROM (${mixSubq(
        "SELECT DISTINCT token FROM toks",
        fnvFold(OFF, strBytes("token")))})),
shash AS (SELECT DISTINCT source, hv FROM toks JOIN tokh USING (token)),
sk AS (
  SELECT source, hv FROM (
    SELECT source, hv,
           row_number() OVER (PARTITION BY source ORDER BY hv) AS rk
    FROM shash)
  WHERE rk <= ${Sketches.KmvK}),
prs AS (
  SELECT a.source AS source_a, b.source AS source_b
  FROM (SELECT DISTINCT source FROM sk) a
  JOIN (SELECT DISTINCT source FROM sk) b ON a.source < b.source),
contrib AS (
  SELECT source_a, source_b, hv, count(*) AS n_sk
  FROM sk JOIN prs ON sk.source = prs.source_a OR sk.source = prs.source_b
  GROUP BY 1, 2, 3),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source_a, source_b
                               ORDER BY hv) AS rk
  FROM contrib),
est AS (
  SELECT source_a, source_b, count(*)::BIGINT AS kk,
         SUM(CASE WHEN n_sk = 2 THEN 1 ELSE 0 END)::BIGINT AS n_shared,
         MAX(hv) AS kth
  FROM ranked WHERE rk <= ${Sketches.KmvK} GROUP BY 1, 2),
sizes AS (SELECT source, count(*)::BIGINT AS nt FROM toks GROUP BY 1),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         count(*)::BIGINT AS n_inter
  FROM toks a JOIN toks b ON a.token = b.token AND a.source < b.source
  GROUP BY 1, 2)
SELECT e.source_a, e.source_b, e.kk,
       e.n_shared::DOUBLE / e.kk AS est_jaccard,
       COALESCE(i.n_inter, 0)::DOUBLE /
         (sa.nt + sb.nt - COALESCE(i.n_inter, 0)) AS exact_jaccard,
       (e.kk - 1)::DOUBLE /
         (e.kth::DOUBLE / 18446744073709551616.0 + 0.5) AS est_union
FROM est e
JOIN sizes sa ON sa.source = e.source_a
JOIN sizes sb ON sb.source = e.source_b
LEFT JOIN inter i ON i.source_a = e.source_a AND i.source_b = e.source_b
ORDER BY 1, 2"""

  /** Oracle for q96: hashed-feature linear classifier
    * (= TextAnalysis.qualityClassifier). Token → bucket uses seed 1
    * with `buckets` a power of two (so the unsigned HUGEINT residue
    * equals Spark's signed pmod); bucket → weight hashes the string
    * "w<bucket>" under seed 2 into [-128, 127] (256 also divides
    * 2^64). The sum is exact BIGINT, so token order is irrelevant and
    * the oracle can sum over a grouped token-weight map.
    */
  def q96QualityClassifier: String =
    s"""WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split(lower(text),' '),
                                    x -> length(x) > 0)) AS token
  FROM documents),
tokb AS (
  SELECT token, (hmix % ${TextAnalysis.FeatureBuckets})::BIGINT AS bucket FROM (${mixSubq(
        "SELECT DISTINCT token FROM toks",
        fnvFold(xor64(OFF, mulMod("1::HUGEINT", GOLD)), strBytes("token")))})),
bw AS (
  SELECT bucket, ((hmix % 256)::BIGINT - 128) AS w FROM (${mixSubq(
        "SELECT DISTINCT bucket FROM tokb",
        fnvFold(xor64(OFF, mulMod("2::HUGEINT", GOLD)),
          strBytes("('w' || bucket::VARCHAR)")))})),
tw AS (SELECT token, w FROM tokb JOIN bw USING (bucket)),
agg AS (
  SELECT t.doc_id, count(*)::BIGINT AS n_tokens, SUM(tw.w)::BIGINT AS score
  FROM toks t JOIN tw ON t.token = tw.token
  GROUP BY 1)
SELECT d.doc_id,
       COALESCE(a.n_tokens, 0)::BIGINT AS n_tokens,
       COALESCE(a.score, 0)::BIGINT AS score,
       COALESCE(a.score, 0)::DOUBLE /
         greatest(COALESCE(a.n_tokens, 0)::DOUBLE, 1.0) AS mean_w,
       (CASE WHEN COALESCE(a.score, 0) > 0 THEN 1 ELSE 0 END)::INT AS keep
FROM documents d LEFT JOIN agg a USING (doc_id)
ORDER BY doc_id"""

  /** Oracle for q97: deterministic contrastive negative sampling.
    * Seed 300+slot hashes the anchor's decimal doc_id string; the
    * negative id is a SIGNED pmod by n_docs (n_docs does not divide
    * 2^64, so the HUGEINT residue must be folded back through the
    * signed view first, unlike q96's power-of-two buckets).
    */
  def q97ContrastivePairs(slots: Int): String =
    s"""WITH n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
anch AS (
  SELECT doc_id, source, unnest(range($slots)) AS slot FROM documents),
h AS (
  SELECT doc_id, source, slot, ${toS("hmix")} AS hv FROM (${mixSubq(
        "SELECT doc_id, source, slot FROM anch",
        fnvFold(xor64(OFF, mulMod("(300 + slot)::HUGEINT", GOLD)),
          strBytes("doc_id::VARCHAR")))})),
negs AS (
  SELECT doc_id, source, slot,
         (((hv % n.n_docs) + n.n_docs) % n.n_docs)::BIGINT AS neg_id
  FROM h, n)
SELECT a.doc_id, a.slot, a.neg_id, d.source AS neg_source,
       (CASE WHEN d.source <> a.source THEN 1 ELSE 0 END)::INT AS cross_source
FROM negs a JOIN documents d ON d.doc_id = a.neg_id
WHERE a.neg_id <> a.doc_id
ORDER BY 1, 2"""

  /** Oracle for q103: per-doc distinct word n-gram shingles collapsed
    * to polyhash64 digests (= TextAnalysis.shingleNovelty: DISTINCT
    * (doc_id, digest) matches the engine's per-row array_distinct of
    * hashes), first occurrence by min-doc_id window, per-doc novelty
    * rollup. The novelty double is a single integer÷integer IEEE op —
    * bit-identical across engines.
    */
  def q103ShingleNovelty: String =
    s"""WITH toks AS (
  SELECT doc_id, list_filter(string_split(lower(text),' '), x -> length(x) > 0) AS t
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id, ${toS(polyFold(strBytes("s")))} AS sh
  FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(t)-${TextAnalysis.NoveltyN - 2}),
           i -> array_to_string(t[i:i+${TextAnalysis.NoveltyN - 1}], ' '))) AS s
    FROM toks WHERE len(t) >= ${TextAnalysis.NoveltyN})),
f AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY sh) AS first_doc FROM sh)
SELECT doc_id, count(*)::BIGINT AS n_shingles,
       SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel,
       SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)::DOUBLE / count(*)
         AS novelty
FROM f GROUP BY 1 ORDER BY 1"""

  /** The b/px/cells/hashes CTE chain shared by q117 and q132: exact
    * integer dHash/aHash derived analytically from the document bytes
    * (the same grid/pack arithmetic the engine computes from the
    * DECODED PNG raster — the hash match certifies codec + hash).
    */
  private def imageHashCtes(): String = {
    val w = Multimodal.ImageWidth
    // floor-mean of grid cell c (gw columns × 8 rows) over the w-wide
    // pixel list `p` of an h-row image — same boundaries as the
    // engine's blockMeans: floor(g*dim/grid), degenerate rows widened
    def meanCells(gw: Int): String = {
      val y0 = s"((c // $gw) * h) // 8"
      val y1raw = s"(((c // $gw) + 1) * h) // 8"
      val y1 = s"(CASE WHEN $y1raw <= $y0 THEN $y0 + 1 ELSE $y1raw END)"
      val x0 = s"((c % $gw) * $w) // $gw"
      val x1 = s"(((c % $gw) + 1) * $w) // $gw"
      val xw = s"($x1 - $x0)"
      val cnt = s"(($y1 - $y0) * $xw)"
      val idx = s"(($y0 + k // $xw) * $w + $x0 + k % $xw + 1)"
      s"""list_transform(range(${8 * gw}), c ->
    list_sum(list_transform(range($cnt), k -> p[$idx])) // $cnt)"""
    }
    // MSB-first 64-bit pack from a per-bit predicate, exact in BIGINT
    def pack(bit: String => String): String = {
      def half(i: String) =
        s"""list_sum(list_transform(range(32), i ->
      CASE WHEN ${bit(i)} THEN (1::BIGINT << (31 - i)::INT) ELSE 0 END))::BIGINT"""
      val hi = half("i")
      val lo = half("(i + 32)")
      s"""((CASE WHEN $hi >= 2147483648 THEN $hi - 4294967296 ELSE $hi END)
   * 4294967296 + $lo)"""
    }
    val dhBit = (i: String) =>
      s"md[($i // 8) * 9 + ($i % 8) + 2] > md[($i // 8) * 9 + ($i % 8) + 1]"
    val ahBit = (i: String) => s"ma[$i + 1] > list_sum(ma) // 64"
    s"""b AS (
  SELECT doc_id, octet_length(encode(text))::BIGINT AS nb,
         lower(hex(encode(text))) AS hx
  FROM documents),
px AS (
  SELECT doc_id, greatest(1, (nb + ${w - 1}) // $w)::BIGINT AS h,
         list_transform(range(greatest(1, (nb + ${w - 1}) // $w) * $w),
           i -> CASE WHEN i < nb
                THEN ('0x' || substr(hx, (2 * i + 1)::INT, 2))::BIGINT
                ELSE 0 END) AS p
  FROM b),
cells AS MATERIALIZED (
  SELECT doc_id, ${meanCells(9)} AS md, ${meanCells(8)} AS ma FROM px),
hashes AS MATERIALIZED (
  SELECT doc_id, ${pack(dhBit)} AS dh, ${pack(ahBit)} AS ah FROM cells)"""
  }

  /** Oracle for q117 (= Multimodal.perceptualNearDupPairs): dHash/aHash
    * per document image derived ANALYTICALLY from the text's UTF-8
    * bytes (the engine computes them from the decoded PNG raster —
    * matching hashes certify codec + hash together, the q114 pattern),
    * then every a<b pair with dHash hamming ≤ `Multimodal.ImageMaxHamming`.
    * The engine's 16-bit-chunk bucket join is pigeonhole-complete at
    * that bound, so the oracle's plain quadratic join over the tiny
    * verify fixture produces the identical pair set.
    *
    * Integer-exactness notes: block means are floor divisions of raw
    * byte sums; the 64-bit hash is packed as two 32-bit halves in
    * BIGINT (a HUGEINT list_sum would round through DOUBLE) and
    * sign-folded to match Java's signed long; `bit_count(xor(..))` on
    * BIGINT counts two's-complement bits exactly like Long.bitCount.
    */
  def q117ImageNearDup: String =
    s"""WITH ${imageHashCtes()}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.dh, b.dh))::BIGINT AS dhash_dist,
       bit_count(xor(a.ah, b.ah))::BIGINT AS ahash_dist
FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.dh, b.dh)) <= ${Multimodal.ImageMaxHamming}
ORDER BY 1, 2"""

  /** Oracle for q132: q117's pairs → transitive-closure components
    * (the q49 reach pattern) → keep-largest-payload survivor flag.
    */
  def q132ImageDedupSurvivors: String =
    s"""WITH RECURSIVE ${imageHashCtes()},
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.dh, b.dh)) <= ${Multimodal.ImageMaxHamming}),
e AS (
  SELECT doc_a AS src, doc_b AS dst FROM p
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM p),
v AS (SELECT DISTINCT src AS v FROM e),
reach(v, r) AS (
  SELECT v, v FROM v
  UNION
  SELECT reach.v, e.dst FROM reach JOIN e ON e.src = reach.r),
comp AS (
  SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v)
SELECT cluster_id, doc_id,
       count(*) OVER (PARTITION BY cluster_id)::BIGINT AS cluster_size,
       (row_number() OVER (PARTITION BY cluster_id
                           ORDER BY nb DESC, doc_id ASC)) = 1 AS is_survivor,
       nb AS n_bytes
FROM comp JOIN b USING (doc_id)
ORDER BY 1, 2"""

  /** Oracle for q129: PQ-ADC top-k (= Similarity.pqAdcTopK defaults).
    * Mirrors every double of the engine verbatim: per-subspace Lloyd
    * training unrolled per iteration over the SAME vec_id-sorted
    * 256-sample (squared L2 as an in-order left fold of explicit
    * (x−c)·(x−c) products, ties → lowest code, per-dim means summed in
    * vec_id order), corpus encoding by the same argmin, per-query
    * dot-product LUTs, ADC as an in-order fold over subspaces, ADC
    * top-`topC` by (adc DESC, id ASC), exact-cosine rerank top-`k`.
    */
  def q129PqAdc(k: Int): String = {
    val (m, ks, iters, sampleN, topC, dim) = (Similarity.PqM, Similarity.PqKs,
      Similarity.PqIters, Similarity.SampleN, Similarity.PqTopC, Similarity.Dim)
    val ds = dim / m
    val stride = sampleN / ks
    def l2(sv: String, cent: String): String =
      s"""list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(range(1, ${ds + 1}), d ->
               ($sv[d] - $cent[d]) * ($sv[d] - $cent[d]))), (x, y) -> x + y)"""
    val iterCtes = (1 to iters).map { t =>
      s"""pa$t AS (
  SELECT vec_id, j, sv, code FROM (
    SELECT s.vec_id, s.j, s.sv, c.code,
           row_number() OVER (PARTITION BY s.vec_id, s.j
             ORDER BY ${l2("s.sv", "c.cent")} ASC, c.code ASC) AS rn
    FROM sub s JOIN pq${t - 1} c ON c.j = s.j) WHERE rn = 1),
pag$t AS (
  SELECT j, code, count(*) AS n, list(sv ORDER BY vec_id) AS vecs
  FROM pa$t GROUP BY j, code),
pq$t AS (
  SELECT c.j, c.code,
         CASE WHEN a.code IS NULL THEN c.cent
              ELSE list_transform(range(1, ${ds + 1}), d ->
                list_reduce(list_prepend(0.0::DOUBLE,
                    list_transform(a.vecs, v -> v[d])), (x, y) -> x + y) / a.n)
         END AS cent
  FROM pq${t - 1} c LEFT JOIN pag$t a ON a.j = c.j AND a.code = c.code)"""
    }.mkString(",\n")
    s"""WITH sample AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         row_number() OVER (ORDER BY vec_id) - 1 AS rk
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT $sampleN)),
subsp AS (SELECT unnest(range($m)) AS j),
sub AS (
  SELECT s.vec_id, sp.j, s.rk,
         s.emb[(sp.j*$ds+1)::INT:(sp.j*$ds+$ds)::INT] AS sv
  FROM sample s, subsp sp),
pq0 AS (
  SELECT j, (rk // $stride)::INT AS code, sv AS cent
  FROM sub WHERE rk % $stride = 0 AND rk // $stride < $ks),
$iterCtes,
esub AS (
  SELECT e.vec_id, sp.j,
         CAST(e.embedding AS DOUBLE[])[(sp.j*$ds+1)::INT:(sp.j*$ds+$ds)::INT] AS sv
  FROM embeddings e, subsp sp),
enc AS (
  SELECT vec_id, j, code FROM (
    SELECT s.vec_id, s.j, c.code,
           row_number() OVER (PARTITION BY s.vec_id, s.j
             ORDER BY ${l2("s.sv", "c.cent")} ASC, c.code ASC) AS rn
    FROM esub s JOIN pq$iters c ON c.j = s.j) WHERE rn = 1),
lut AS (
  SELECT qs.vec_id AS query_id, qs.j, c.code,
         list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(range(1, ${ds + 1}), d -> qs.sv[d] * c.cent[d])),
           (x, y) -> x + y) AS dp
  FROM esub qs JOIN pq$iters c ON c.j = qs.j WHERE qs.vec_id < ${SimilarityQueries.QueryIds}),
adc AS (
  SELECT l.query_id, en.vec_id AS neighbor_id,
         list_reduce(list_prepend(0.0::DOUBLE, list(l.dp ORDER BY l.j)),
           (x, y) -> x + y) AS adc
  FROM enc en JOIN lut l ON l.j = en.j AND l.code = en.code
  WHERE l.query_id <> en.vec_id
  GROUP BY l.query_id, en.vec_id),
cands AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc DESC, neighbor_id ASC) AS crank
    FROM adc) WHERE crank <= $topC),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                CAST(e.embedding AS DOUBLE[])) AS cos
  FROM cands c JOIN embeddings q ON q.vec_id = c.query_id
               JOIN embeddings e ON e.vec_id = c.neighbor_id)
SELECT query_id, rank::BIGINT AS rank, neighbor_id,
       floor(cos * 10000 + 0.5) / 10000 AS cos
FROM (SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id ASC) AS rank
      FROM scored)
WHERE rank <= $k
ORDER BY 1, 2"""
  }

  /** Oracle for q130: k-core peeling (= GraphOps.kCore on the q61
    * customer-supplier graph), unrolled to the same fixed round count.
    * Each round: degrees over the current canonical undirected edge
    * set, keep vertices with deg ≥ k, keep edges with both endpoints
    * kept. Pure integer arithmetic.
    */
  def q130KCore(k: Int, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { t =>
      s"""kp$t AS MATERIALIZED (
  SELECT v FROM (
    SELECT v, count(*) AS deg
    FROM (SELECT a AS v FROM e${t - 1} UNION ALL SELECT b AS v FROM e${t - 1})
    GROUP BY v)
  WHERE deg >= $k),
e$t AS MATERIALIZED (
  -- kp is unique on v, so the two inner joins are exact semi joins.
  -- MATERIALIZED is load-bearing: each e/kp is referenced 3×/2× by
  -- the next round, and DuckDB's default CTE inlining re-evaluates
  -- the whole chain exponentially across rounds (the un-hinted form
  -- filled the disk with spill at sf0.1).
  SELECT e.a, e.b FROM e${t - 1} e
  JOIN kp$t x ON e.a = x.v
  JOIN kp$t y ON e.b = y.v)"""
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (
  SELECT DISTINCT least(o_custkey, 100000 + l_suppkey) AS a,
         greatest(o_custkey, 100000 + l_suppkey) AS b
  FROM orders o JOIN lineitem l ON o_orderkey = l_orderkey
  WHERE o_custkey <> 100000 + l_suppkey),
$roundCtes
SELECT v AS node_id, count(*)::BIGINT AS deg
FROM (SELECT a AS v FROM e$rounds UNION ALL SELECT b AS v FROM e$rounds)
GROUP BY v
ORDER BY 1"""
  }

  /** Oracle for q137: core-number decomposition (= GraphOps.coreNumbers
    * on the q61 customer-supplier graph), unrolled to the same fixed
    * round count. est0 = degree; each round est(v) = H-index of
    * neighbors' estimates = max(least(rank, est)) over neighbors
    * ranked est-desc. Pure integer arithmetic — bit-exact by
    * construction.
    */
  def q137CoreNumbers(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { t =>
      s"""est$t AS MATERIALIZED (
  SELECT v, max(least(rn, est)) AS est FROM (
    SELECT a.v, s.est,
           row_number() OVER (PARTITION BY a.v
                              ORDER BY s.est DESC, a.nbr ASC) AS rn
    FROM adj a JOIN est${t - 1} s ON s.v = a.nbr)
  GROUP BY v)"""
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (
  SELECT DISTINCT least(o_custkey, 100000 + l_suppkey) AS a,
         greatest(o_custkey, 100000 + l_suppkey) AS b
  FROM orders o JOIN lineitem l ON o_orderkey = l_orderkey
  WHERE o_custkey <> 100000 + l_suppkey),
adj AS MATERIALIZED (
  SELECT a AS v, b AS nbr FROM e0
  UNION ALL SELECT b AS v, a AS nbr FROM e0),
est0 AS MATERIALIZED (
  SELECT v, count(*) AS est FROM adj GROUP BY v),
$roundCtes
SELECT v AS node_id, est::BIGINT AS coreness
FROM est$rounds
ORDER BY 1"""
  }

  /** Oracle for q138: synchronous label-propagation communities
    * (= GraphOps.labelPropagation on the q61 customer-supplier graph),
    * unrolled to the same fixed round count. Each round every vertex
    * takes the most frequent neighbor label, ties to the smallest
    * label. Pure integer arithmetic — bit-exact by construction.
    */
  def q138LabelPropagation(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { t =>
      s"""lab$t AS MATERIALIZED (
  SELECT v, label FROM (
    SELECT v, label, row_number() OVER (PARTITION BY v
             ORDER BY c DESC, label ASC) AS rn
    FROM (SELECT a.v, s.label, count(*) AS c
          FROM adj a JOIN lab${t - 1} s ON s.v = a.nbr
          GROUP BY a.v, s.label))
  WHERE rn = 1)"""
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (
  SELECT DISTINCT least(o_custkey, 100000 + l_suppkey) AS a,
         greatest(o_custkey, 100000 + l_suppkey) AS b
  FROM orders o JOIN lineitem l ON o_orderkey = l_orderkey
  WHERE o_custkey <> 100000 + l_suppkey),
adj AS MATERIALIZED (
  SELECT a AS v, b AS nbr FROM e0
  UNION ALL SELECT b AS v, a AS nbr FROM e0),
lab0 AS MATERIALIZED (SELECT DISTINCT v, v AS label FROM adj),
$roundCtes
SELECT v AS node_id, label::BIGINT AS community
FROM lab$rounds
ORDER BY 1"""
  }

  /** Oracle for q139: HITS hubs & authorities (= GraphOps.hits on the
    * DIRECTED customer→supplier graph), unrolled to the same fixed
    * round count. The loop runs UNNORMALIZED (scaling commutes
    * through the linear maps; iterates stay far below double
    * overflow) and L2-normalizes once at the end, mirroring the
    * engine exactly — the q61 float precedent (aggregate-sum noise
    * ~1e-15, r4-rounded output).
    */
  def q139Hits(iters: Int): String = {
    val roundCtes = (1 to iters).map { t =>
      s"""a$t AS MATERIALIZED (
  SELECT e.dst AS v, sum(h.h) AS a
  FROM e JOIN h${t - 1} h ON h.v = e.src GROUP BY e.dst),
h$t AS MATERIALIZED (
  SELECT e.src AS v, sum(a.a) AS h
  FROM e JOIN a$t a ON a.v = e.dst GROUP BY e.src)"""
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS src, 100000 + l_suppkey AS dst
  FROM orders o JOIN lineitem l ON o_orderkey = l_orderkey),
n AS MATERIALIZED (
  SELECT src AS v FROM e UNION SELECT dst AS v FROM e),
h0 AS MATERIALIZED (SELECT DISTINCT src AS v, 1.0::DOUBLE AS h FROM e),
$roundCtes
SELECT n.v AS node_id,
       floor((coalesce(h.h, 0.0) / (SELECT sqrt(sum(h * h)) FROM h$iters))
             * 10000 + 0.5) / 10000 AS hub,
       floor((coalesce(a.a, 0.0) / (SELECT sqrt(sum(a * a)) FROM a$iters))
             * 10000 + 0.5) / 10000 AS authority
FROM n LEFT JOIN a$iters a ON a.v = n.v
LEFT JOIN h$iters h ON h.v = n.v
ORDER BY 1"""
  }

  /** Oracle for q157: shard manifest. Seed-7 hash of the decimal
    * doc_id string (q97 machinery), signed pmod shards, HUGEINT
    * fingerprint sums.
    */
  def q157ShardManifest: String =
    s"""WITH h AS (
  SELECT doc_id, n_chars, text, ${toS("hmix")} AS hv FROM (${mixSubq(
        "SELECT doc_id, n_chars, text FROM documents",
        fnvFold(xor64(OFF, mulMod("7::HUGEINT", GOLD)),
          strBytes("doc_id::VARCHAR")))})),
s AS (
  SELECT (((hv % ${TextAnalysis.Shards}) + ${TextAnalysis.Shards}) % ${TextAnalysis.Shards})::BIGINT AS shard_id,
         doc_id, n_chars,
         ('0x' || substring(md5(text), 1, 15))::BIGINT AS fp
  FROM h),
t AS (SELECT sum(n_chars)::BIGINT AS total_bytes FROM s),
g AS (
  SELECT shard_id, count(*)::BIGINT AS n_docs,
         sum(n_chars)::BIGINT AS sum_bytes,
         min(doc_id) AS min_doc, max(doc_id) AS max_doc,
         sum(fp::HUGEINT) AS fpsum
  FROM s GROUP BY 1)
SELECT shard_id, n_docs, sum_bytes,
       floor(sum_bytes * 1000 / t.total_bytes)::BIGINT AS permille,
       min_doc, max_doc, fpsum::VARCHAR AS fingerprint
FROM g, t ORDER BY shard_id"""

  /** Oracle for q169: erasure-cascade audit. Seed-13 hash cohort,
    * the same FK cascade, HUGEINT key-sum fingerprints.
    */
  def q169ErasureAudit: String =
    s"""WITH cohort AS MATERIALIZED (
  SELECT c_custkey FROM (
    SELECT c_custkey, ${toS("hmix")} AS hv FROM (${mixSubq(
        "SELECT c_custkey FROM customer",
        fnvFold(xor64(OFF, mulMod("13::HUGEINT", GOLD)),
          strBytes("c_custkey::VARCHAR")))}))
  WHERE ((hv % ${Relational.ErasureModulus}) + ${Relational.ErasureModulus}) % ${Relational.ErasureModulus} = 0),
ords AS MATERIALIZED (
  SELECT o_orderkey, o_custkey FROM orders
  JOIN cohort ON o_custkey = c_custkey),
lines AS MATERIALIZED (
  SELECT l_orderkey, l_linenumber, o_custkey FROM lineitem
  JOIN ords ON l_orderkey = o_orderkey)
SELECT * FROM (
  SELECT 'customer' AS table_name, count(*)::BIGINT AS n_rows,
         count(DISTINCT c_custkey)::BIGINT AS n_subjects,
         sum(c_custkey::HUGEINT)::VARCHAR AS key_fingerprint
  FROM cohort
  UNION ALL
  SELECT 'lineitem', count(*),
         count(DISTINCT o_custkey),
         sum((l_orderkey * 10 + l_linenumber)::HUGEINT)::VARCHAR
  FROM lines
  UNION ALL
  SELECT 'orders', count(*),
         count(DISTINCT o_custkey),
         sum(o_orderkey::HUGEINT)::VARCHAR
  FROM ords)
ORDER BY table_name"""

  /** Oracle for q167: CUPED A/B readout. Seed-11 hash arms (q97
    * machinery), cent-integer HUGEINT moments, the identical five-op
    * IEEE adjustment formula.
    */
  def q167AbCuped: String =
    s"""WITH u AS MATERIALIZED (
  SELECT user_id,
         sum(CASE WHEN ts < TIMESTAMP '${Relational.CupedSplitTs}'
                  THEN floor(value * 100 + 0.5)::BIGINT ELSE 0 END) AS x_c,
         sum(CASE WHEN ts >= TIMESTAMP '${Relational.CupedSplitTs}'
                  THEN floor(value * 100 + 0.5)::BIGINT ELSE 0 END) AS y_c
  FROM events WHERE value IS NOT NULL GROUP BY 1),
a AS (
  SELECT user_id, x_c, y_c, (((hv % 2) + 2) % 2)::BIGINT AS arm
  FROM (SELECT user_id, x_c, y_c, ${toS("hmix")} AS hv FROM (${mixSubq(
        "SELECT user_id, x_c, y_c FROM u",
        fnvFold(xor64(OFF, mulMod("11::HUGEINT", GOLD)),
          strBytes("user_id::VARCHAR")))}))),
m AS (
  SELECT count(*)::HUGEINT AS n, sum(x_c)::HUGEINT AS sx,
         sum(y_c)::HUGEINT AS sy,
         sum(x_c::HUGEINT * y_c::HUGEINT) AS sxy,
         sum(x_c::HUGEINT * x_c::HUGEINT) AS sxx
  FROM a),
t AS (
  SELECT (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE
           AS theta,
         sx::DOUBLE / n::DOUBLE AS xbar
  FROM m)
SELECT arm, count(*)::BIGINT AS n_users,
       floor((sum(y_c)::DOUBLE / count(*)::DOUBLE / 100.0) * 10000 + 0.5)
         / 10000 AS mean_y,
       floor((sum(y_c)::DOUBLE / count(*)::DOUBLE / 100.0 -
              t.theta * (sum(x_c)::DOUBLE / count(*)::DOUBLE / 100.0 -
                         t.xbar / 100.0)) * 10000 + 0.5) / 10000
         AS mean_y_adj,
       floor(t.theta * 10000 + 0.5) / 10000 AS theta
FROM a, t GROUP BY arm, t.theta, t.xbar ORDER BY arm"""

  /** Oracle for q160: hour-of-day seasonal Holt-Winters — the same
    * 27-lane [l, b, s0..s23, n] list fold (q140 technique), slot
    * update via dynamic-index list_transform(range) rebuild.
    */
  def q160HoltWinters: String = {
    val sj = "acc[(xx[2]::INT + 3)]"
    val l1 = s"(0.5 * (xx[1] - $sj) + 0.5 * (acc[1] + acc[2]))"
    val b1 = s"(0.5 * ($l1 - acc[1]) + 0.5 * acc[2])"
    val sj1 = s"(0.5 * (xx[1] - $l1) + 0.5 * $sj)"
    s"""WITH s AS MATERIALIZED (
  SELECT user_id,
         list([value::DOUBLE, hour(ts)::DOUBLE] ORDER BY ts, event_id) AS xs
  FROM events WHERE value IS NOT NULL GROUP BY user_id),
f AS (
  SELECT user_id, len(xs)::BIGINT AS n,
    list_reduce(
      list_prepend(list_transform(range(1, 28), k -> 0.0::DOUBLE), xs),
      (acc, xx) -> CASE WHEN acc[27] = 0.0
        THEN list_transform(range(1, 28), k ->
               CASE WHEN k = 1 THEN xx[1]
                    WHEN k = 27 THEN 1.0::DOUBLE
                    ELSE 0.0::DOUBLE END)
        ELSE list_transform(range(1, 28), k ->
               CASE WHEN k = 1 THEN $l1
                    WHEN k = 2 THEN $b1
                    WHEN k = 27 THEN acc[27] + 1.0
                    WHEN k = (xx[2]::INT + 3) THEN $sj1
                    ELSE acc[k] END)
        END) AS st
  FROM s)
SELECT user_id, n,
       floor(st[1] * 10000 + 0.5) / 10000 AS level,
       floor(st[2] * 10000 + 0.5) / 10000 AS trend,
       floor(st[3] * 10000 + 0.5) / 10000 AS s0,
       floor(st[9] * 10000 + 0.5) / 10000 AS s6,
       floor(st[15] * 10000 + 0.5) / 10000 AS s12,
       floor(st[21] * 10000 + 0.5) / 10000 AS s18
FROM f ORDER BY user_id"""
  }

  /** Oracle for q158: MMR diverse rerank — unrolled greedy rounds
    * over the capped per-query candidate pool (q156 technique,
    * per-query). λ=1/2 exact binary.
    */
  def q158Mmr: String = {
    val (k, cand) = (Similarity.MmrK, Similarity.MmrCand)
    val rounds = (2 to k).map { r =>
      s"""m$r AS (
  SELECT c.query_id, c.cid,
         0.5 * c.rel - 0.5 * max(list_cosine_similarity(c.e, s.e)) AS mmr
  FROM cand c JOIN sel${r - 1} s USING (query_id)
  WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} s2
                    WHERE s2.query_id = c.query_id AND s2.cid = c.cid)
  GROUP BY c.query_id, c.cid, c.rel),
p$r AS (
  SELECT m.query_id, m.cid, c.e, c.rel, $r::BIGINT AS rank, m.mmr FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY mmr DESC, cid) AS rn
    FROM m$r) m
  JOIN cand c ON c.query_id = m.query_id AND c.cid = m.cid
  WHERE m.rn = 1),
sel$r AS (SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM p$r)"""
    }.mkString(",\n")
    s"""WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id < ${SimilarityQueries.QueryIds}),
x AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings),
relscan AS (
  SELECT q.query_id, x.cid, x.e,
         list_cosine_similarity(q.qe, x.e) AS rel
  FROM q, x WHERE q.query_id <> x.cid),
cand AS MATERIALIZED (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY rel DESC, cid) AS cr
    FROM relscan) WHERE cr <= $cand),
sel1 AS (SELECT query_id, cid, e, rel, 1::BIGINT AS rank, rel AS mmr
         FROM cand WHERE cr = 1),
$rounds
SELECT query_id, rank, cid AS doc_id,
       floor(rel * 10000 + 0.5) / 10000 AS rel,
       floor(mmr * 10000 + 0.5) / 10000 AS mmr
FROM sel$k ORDER BY query_id, rank"""
  }

  /** Oracle for q156: Gonzalez farthest-first k-center coreset.
    * Rounds are unrolled (the q44/q129 trainer technique): each adds
    * the argmin-over-max-cosine vector with id tiebreak.
    */
  def q156KCenter: String = {
    val k = Similarity.KCenterK
    val rounds = (2 to k).map { r =>
      s"""m$r AS MATERIALIZED (
  SELECT x.vec_id, max(list_cosine_similarity(x.e, s.e)) AS mc
  FROM x, s${r - 1} s
  WHERE x.vec_id NOT IN (SELECT vec_id FROM s${r - 1})
  GROUP BY x.vec_id),
p$r AS MATERIALIZED (
  SELECT x.vec_id, x.e FROM m$r JOIN x USING (vec_id)
  ORDER BY m$r.mc ASC, vec_id ASC LIMIT 1),
s$r AS MATERIALIZED (SELECT * FROM s${r - 1} UNION ALL SELECT * FROM p$r)"""
    }.mkString(",\n")
    s"""WITH x AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
s1 AS MATERIALIZED (SELECT vec_id, e FROM x ORDER BY vec_id LIMIT 1),
$rounds,
a AS (
  SELECT x.vec_id, s.vec_id AS center_id,
         list_cosine_similarity(x.e, s.e) AS cos
  FROM x, s$k s),
r AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
              ORDER BY cos DESC, center_id) AS rn
  FROM a)
SELECT vec_id, center_id, floor(cos * 10000 + 0.5) / 10000 AS cos,
       (vec_id IN (SELECT vec_id FROM s$k)) AS is_center
FROM r WHERE rn = 1 ORDER BY vec_id"""
  }

  /** Oracle for q152: DSIR importance selection. Same seed-1 token
    * hashing as q96; per-bucket weights are HUGEINT-exact quantized
    * target/raw ratios, per-source quota by window rank.
    */
  def q152Dsir: String =
    s"""WITH toks AS MATERIALIZED (
  SELECT doc_id, source, lang,
         unnest(list_filter(string_split(lower(text),' '),
                            x -> length(x) > 0)) AS token
  FROM documents),
tokb AS (
  SELECT token, (hmix % ${TextAnalysis.FeatureBuckets})::BIGINT AS bucket FROM (${mixSubq(
        "SELECT DISTINCT token FROM toks",
        fnvFold(xor64(OFF, mulMod("1::HUGEINT", GOLD)), strBytes("token")))})),
tb AS MATERIALIZED (
  SELECT t.doc_id, t.source, t.lang, b.bucket
  FROM toks t JOIN tokb b USING (token)),
cr AS (SELECT bucket, count(*)::HUGEINT AS cnt_r FROM tb GROUP BY 1),
ct AS (SELECT bucket, count(*)::HUGEINT AS cnt_t FROM tb
       WHERE lang = '${TextAnalysis.DsirTargetLang}' GROUP BY 1),
tr AS (SELECT sum(cnt_r)::HUGEINT AS big_r FROM cr),
tt AS (SELECT sum(cnt_t)::HUGEINT AS big_t FROM ct),
w AS (
  SELECT cr.bucket,
         (((COALESCE(ct.cnt_t, 0::HUGEINT) + 1)
             * (tr.big_r + ${TextAnalysis.FeatureBuckets}) * 65536)
          // ((cr.cnt_r + 1) * (tt.big_t + ${TextAnalysis.FeatureBuckets})))::BIGINT AS w
  FROM cr LEFT JOIN ct USING (bucket), tr, tt),
sc AS (
  SELECT tb.doc_id, tb.source, count(*)::BIGINT AS n_tokens,
         sum(w.w)::BIGINT AS score
  FROM tb JOIN w USING (bucket) GROUP BY 1, 2),
r AS (
  SELECT doc_id, source, n_tokens, score,
         floor(score::DOUBLE / n_tokens::DOUBLE)::BIGINT AS norm
  FROM sc)
SELECT doc_id, source, n_tokens, score, norm,
       (row_number() OVER (PARTITION BY source ORDER BY norm DESC, doc_id)
          * ${TextAnalysis.DsirKeepDen} <= count(*) OVER (PARTITION BY source)) AS kept
FROM r ORDER BY doc_id"""

  /** Oracle for q125: fixed-round power-iteration PCA projection
    * (= Similarity.pcaProject via pcaPowerModel defaults), unrolled
    * like q61's PageRank and q129's k-means. Mirrors
    * Similarity.covarianceMoments / powerBasis / the projection fold
    * ORDER-EXACTLY: covariance entry `(Σxy − ΣxΣy/n)/n` over d1≤d2
    * pairs, init v=1/√d, each round w=Cv as a 0.0-seeded ascending-j
    * left fold then v=w/‖w‖ (the norm the same fold over w²), Rayleigh
    * λ=v·Cv, deflation C−λvvᵀ with the RAW iterate, output sign fixed
    * at the first max-|component| (list_position finds the first
    * occurrence, matching Scala maxBy), projection
    * Σᵢ(eᵢ−meanᵢ)·uᵢ left-folded from 0.0, r4-rounded. Every CTE in
    * the 4×60 iteration chain is MATERIALIZED — DuckDB's default
    * inlining would re-expand the whole chain (q130's lesson).
    */
  def q125PcaPower(r: Int): String = {
    val (iters, dim) = (Similarity.PcaPowerIters, Similarity.Dim)
    def fold(listExpr: String): String =
      s"list_reduce(list_prepend(0.0::DOUBLE, $listExpr), (acc, el) -> acc + el)"
    def matvec(mRef: String, vRef: String): String =
      s"""list_transform(range(1, ${dim + 1}), i ->
        ${fold(s"list_transform(range(1, ${dim + 1}), j -> $mRef[i] [j] * $vRef[j])")})"""
    val compCtes = (0 until r).map { c =>
      val iterCtes = (1 to iters).map { t =>
        s"""p${c}i$t AS MATERIALIZED (
  SELECT list_transform(w, z -> z / nrm) AS v FROM (
    SELECT w, sqrt(${fold("list_transform(w, z -> z * z)")}) AS nrm FROM (
      SELECT ${matvec("m.m", "p.v")} AS w FROM mat$c m, p${c}i${t - 1} p)))"""
      }.mkString(",\n")
      s"""p${c}i0 AS (SELECT list_transform(range($dim), i -> 1.0 / sqrt(${dim}.0)) AS v),
$iterCtes,
fin$c AS MATERIALIZED (
  SELECT p.v AS v, ${matvec("m.m", "p.v")} AS w FROM mat$c m, p${c}i$iters p),
eig$c AS MATERIALIZED (
  SELECT v, ${fold(s"list_transform(range(1, ${dim + 1}), i -> v[i] * w[i])")} AS lam
  FROM fin$c),
mat${c + 1} AS MATERIALIZED (
  SELECT list_transform(range(1, ${dim + 1}), i ->
           list_transform(range(1, ${dim + 1}), j ->
             m.m[i] [j] - e.lam * e.v[i] * e.v[j])) AS m
  FROM mat$c m, eig$c e),
u$c AS MATERIALIZED (
  SELECT CASE WHEN v[list_position(list_transform(v, z -> abs(z)),
                      list_aggregate(list_transform(v, z -> abs(z)), 'max'))] < 0
              THEN list_transform(v, z -> -z) ELSE v END AS u
  FROM eig$c)"""
    }.mkString(",\n")
    def proj(c: Int): String =
      fold(s"list_transform(range(1, ${dim + 1}), i -> (x.e[i] - mv.mean[i]) * u$c.u[i])")
    val projCols = (0 until r).map(c =>
      s"floor((${proj(c)}) * 10000 + 0.5) / 10000 AS c0$c").mkString(",\n       ")
    s"""WITH x AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
dims AS MATERIALIZED (
  SELECT vec_id, s.d AS d, s.v AS v FROM (
    SELECT vec_id, unnest(list_transform(range($dim), j ->
      {'d': j, 'v': e[(j+1)::INT]})) AS s FROM x)),
nr AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM x),
sums AS MATERIALIZED (SELECT d, sum(v) AS s FROM dims GROUP BY d),
prods AS MATERIALIZED (
  SELECT a.d AS d1, b.d AS d2, sum(a.v * b.v) AS sxy
  FROM dims a JOIN dims b ON a.vec_id = b.vec_id AND a.d <= b.d
  GROUP BY 1, 2),
ent AS MATERIALIZED (
  SELECT p.d1, p.d2, (p.sxy - sa.s * sb.s / nr.n) / nr.n AS c
  FROM prods p JOIN sums sa ON sa.d = p.d1
  JOIN sums sb ON sb.d = p.d2, nr),
mat0 AS MATERIALIZED (
  SELECT list(rw ORDER BY d1) AS m FROM (
    SELECT d1, list(c ORDER BY d2) AS rw FROM (
      SELECT d1, d2, c FROM ent
      UNION ALL SELECT d2 AS d1, d1 AS d2, c FROM ent WHERE d1 < d2)
    GROUP BY d1)),
mv AS MATERIALIZED (SELECT list(s / n ORDER BY d) AS mean FROM sums, nr),
$compCtes
SELECT x.vec_id,
       $projCols
FROM x, mv${(0 until r).map(c => s", u$c").mkString}
ORDER BY vec_id"""
  }
}
