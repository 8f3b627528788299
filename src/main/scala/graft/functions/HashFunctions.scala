package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shingling / minhash / LSH-banding column builders. All pure per-row
  * Catalyst expressions — the only shuffles in the dedup pipelines are
  * the final bucket joins (operators/Dedup.scala).
  */
object HashFunctions {

  /** Word n-gram shingles from a token array; empty array when the doc
    * has fewer than n tokens, NULL for a NULL token array (standard
    * null-safe expression semantics). Single-pass custom codegen
    * expression (graft.functions.WordShingles) — byte-identical output
    * to the HOF tree (kept as [[wordShinglesHof]] for the equivalence
    * spec), without the per-shingle lambda frames and slice
    * allocations. Requires GraftFunctions.register on the session.
    */
  def wordShingles(tokens: Column, n: Int): Column =
    GraftFunctions.wordShingles(tokens, n)

  /** HOF formulation of [[wordShingles]] (equivalence baseline). The
    * explicit NULL branch keeps the equivalence TOTAL: without it the
    * `when` predicate on a NULL array falls to otherwise's array(),
    * where the null-safe custom expression returns NULL.
    */
  private[graft] def wordShinglesHof(tokens: Column, n: Int): Column =
    when(tokens.isNull, lit(null))
      .when(size(tokens) >= n,
        transform(sequence(lit(0), size(tokens) - n),
          i => concat_ws(" ", slice(tokens, i + 1, lit(n)))))
      .otherwise(array())

  /** Character n-gram shingles. */
  def charShingles(text: Column, n: Int): Column =
    when(length(text) >= n,
      transform(sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n))))
      .otherwise(array())

  /** k-component minhash signature — single-pass custom codegen
    * expression (graft.functions.MinHashSig): O(|shingles|·k) in a tight
    * loop, ~50× faster than the equivalent nested transform/array_min
    * HOF tree. Requires GraftFunctions.register on the session.
    */
  def minhashSignature(shingles: Column, k: Int): Column =
    GraftFunctions.minhashSig(shingles, k)

  /** LSH band bucket keys (array<long>, one per band): each
    * rowsPerBand-slice of the signature hashed directly as longs.
    * Pair with posexplode to recover the band index.
    */
  def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    GraftFunctions.bandHash(sig, bands, rowsPerBand)

  /** Estimated jaccard from two minhash signatures: fraction of equal
    * components.
    */
  def minhashJaccardEstimate(sigA: Column, sigB: Column): Column =
    GraftFunctions.minhashEst(sigA, sigB)

  /** Exact set jaccard over two string arrays (sorts+dedups, then a
    * linear merge in the custom expression — no per-pair hash sets).
    */
  def jaccard(a: Column, b: Column): Column =
    GraftFunctions.jaccardSorted(
      array_sort(array_distinct(a)), array_sort(array_distinct(b)))

  /** Jaccard over arrays already sorted+distinct (skips the re-sort —
    * use when the arrays are prepared once before a pairwise join).
    */
  def jaccardPresorted(a: Column, b: Column): Column =
    GraftFunctions.jaccardSorted(a, b)

  /** 16-bit chunks of a 64-bit simhash, as (band, key) structs — used to
    * bucket candidates so that any pair within hamming distance 3 shares
    * at least one of the 4 chunks (pigeonhole).
    */
  def simhashBands(h: Column): Column =
    array((0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(h, b * 16).bitwiseAND(lit(0xffffL)).as("bucket"))
    }: _*)

  /** Hamming distance between two 64-bit hashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))
}
