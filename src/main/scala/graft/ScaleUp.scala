package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic fixture scale-up: writes an `N×` copy of a driver
  * testdata dir (default 10× sf0.1 → "sf1") into a builder-owned
  * directory, for the empirical scaling-curve measurement (SCALING.md
  * round 15) — every 100 TB claim before r15 was a plan-shape argument
  * validated at one SF; this produces the second point of an actual
  * wall-time-vs-data curve.
  *
  * Construction (seedless — a pure function of the input tables):
  * each fact/dim table becomes the UNION of `n` key-shifted copies,
  * copy 0 verbatim, copy i shifting every key column in its FK DOMAIN
  * by `i * SHIFT` (orderkey/custkey/partkey/suppkey/user_id/doc_id/
  * vec_id/event_id all shift together across tables, so every join
  * keeps exactly the per-copy fan-out of the original and the result
  * is `n` disconnected replicas of the sf0.1 relational graph —
  * row counts, join multiplicities, and group sizes scale by exactly
  * `n` while per-key densities stay fixed, the TPC-H scaling
  * discipline). `region`/`nation` stay single-copy (fixed dims, like
  * TPC-H at every SF). Timestamps are kept verbatim: the date RANGE is
  * SF-invariant in TPC-H — density per window grows, which is the
  * at-scale behavior time-window operators must survive.
  *
  * Two content columns get a per-copy rewrite because copying them
  * verbatim would corrupt the SEMANTIC scaling of the dedup/ANN
  * families (10 exact replicas of every document are not "10× the
  * corpus" — they are one giant cross-copy dup cluster that inflates
  * candidate-pair counts ~n× beyond linear BY CONSTRUCTION):
  *   - `documents.text`: copy i > 0 applies a LENGTH-PRESERVING
  *     letter-rotation cipher (a→(a+i) mod 26), so shingle/minhash/
  *     simhash neighborhoods are disjoint ACROSS copies and identical
  *     WITHIN a copy, while char/token/gram VOLUMES scale by exactly
  *     n. (The first cut suffixed every token instead — that inflated
  *     character volume ~1.63× on copies 1–9 and read as a phantom
  *     16× "superlinearity" on the char-gram query q176; a scale
  *     fixture must not change per-row work.) Requires n ≤ 26.
  *     `n_chars` is length-invariant but recomputed anyway as a
  *     belt-and-braces hold of the driver invariant
  *     n_chars = length(text).
  *   - `embeddings.embedding`: a small deterministic per-copy,
  *     per-dimension perturbation (±0.01·sin) breaks exact-tie
  *     degeneracy in distance ranking while leaving the cluster
  *     geometry (labels, IVF cell structure) intact. CAVEAT (r15
  *     sweep): cross-copy cosines stay ≈ 1, so the corpus scales as
  *     "every vector gains n−1 near-duplicates" — a dedup-STRESS
  *     regime, not a fresh-corpus regime (the bucketed near-dup
  *     family still measured bounded: q37 0.5×, q64 2.3× at 10×).
  *     A per-copy deterministic SIGN-FLIP pattern (multiply dim j of
  *     copy i by ±1 from hash(i,j)) would preserve within-copy
  *     geometry EXACTLY while making copies mutually near-orthogonal
  *     — the fresh-corpus regime — at the cost of invalidating
  *     cross-SF comparison with this round's published curve;
  *     deferred to keep r15's artifact coherent.
  *
  * Usage: tools/run.sh graft.ScaleUp <srcDir> <destDir> [n]
  */
object ScaleUp {
  /** Key-domain shift between copies: far above every natural key in
    * the driver data (max is o_orderkey ≈ 1.5e5·n at any plausible SF)
    * AND above every synthetic-id offset the queries add (q61's
    * `100000 + l_suppkey` graph ids stay inside their copy's band).
    */
  val SHIFT = 100000000L

  /** int64 key columns per table, grouped so FK partners shift by the
    * same amount. Non-key attributes (including int32 nation/region
    * FKs — single-copy dims) are copied verbatim.
    */
  val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "part" -> Seq("p_partkey"),
    "supplier" -> Seq("s_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  def scaled(spark: SparkSession, srcDir: String, table: String,
             n: Int): DataFrame = {
    val src = spark.read.parquet(s"$srcDir/$table.parquet")
    if (table == "region" || table == "nation") return src
    val copies = broadcast(
      spark.range(n.toLong).select(col("id").as("__copy")))
    var df = src.crossJoin(copies)
    keyCols(table).foreach { c =>
      df = df.withColumn(c, col(c) + col("__copy") * SHIFT)
    }
    if (table == "documents") {
      require(n <= 26, s"letter-rotation rewrite supports n <= 26, got $n")
      val alpha = "abcdefghijklmnopqrstuvwxyz"
      val rot = (1 until n).foldLeft(when(col("__copy") === 0L, col("text"))) {
        (acc, i) =>
          acc.when(col("__copy") === i.toLong,
            translate(col("text"), alpha, alpha.drop(i) + alpha.take(i)))
      }
      df = df
        .withColumn("text", rot.otherwise(col("text")))
        .withColumn("n_chars", length(col("text")))
    }
    if (table == "embeddings")
      df = df.withColumn("embedding",
        when(col("__copy") === 0L, col("embedding"))
          .otherwise(transform(col("embedding"), (x, j) =>
            (x + sin(col("vec_id") * 31.0d + j.cast("double") +
              col("__copy") * 7.0d) * lit(0.01d)).cast("float"))))
    // column order must survive the rewrites for schema parity
    df.select(src.columns.map(col).toSeq: _*)
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val destDir = args(1)
    val n = if (args.length > 2) args(2).toInt else 10
    val spark = Harness.session(8, "ERROR")
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    for (t <- tables) {
      val out = scaled(spark, srcDir, t, n)
      // a handful of files per table (not 10×input-splits slivers):
      // the bench session reads with 32 threads either way
      out.coalesce(math.max(1, math.min(8, n / 2)))
        .write.mode("overwrite").parquet(s"$destDir/$t.parquet")
      val rows = spark.read.parquet(s"$destDir/$t.parquet").count()
      println(s"[scaleup] $t: $rows rows")
    }
    spark.stop()
  }
}
