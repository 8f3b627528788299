package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column builders composed from built-in functions: character
  * shingles, set jaccard, simhash banding and hamming distance. All pure
  * per-row Catalyst expressions. The custom-expression builders (word
  * shingles, minhash signatures, band hashes) are in [[GraftFunctions]].
  */
object HashFunctions {

  /** HOF formulation of [[GraftFunctions.wordShingles]] (equivalence
    * baseline). The explicit NULL branch keeps the equivalence TOTAL:
    * without it the `when` predicate on a NULL array falls to
    * otherwise's array(), where the null-safe custom expression
    * returns NULL.
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

  /** Exact set jaccard over two string arrays (sorts+dedups, then
    * [[GraftFunctions.jaccardSorted]]). The spec baseline for the
    * pipelines, which sort their arrays once before a pairwise join.
    */
  private[graft] def jaccard(a: Column, b: Column): Column =
    GraftFunctions.jaccardSorted(
      array_sort(array_distinct(a)), array_sort(array_distinct(b)))

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
