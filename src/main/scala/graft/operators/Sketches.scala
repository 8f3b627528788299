package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, TextFunctions}

/** Bounded-memory sketch operators. The relational formulation IS the
  * sketch at Spark scale: a groupBy over a fixed (depth × width) key
  * space partial-aggregates map-side, so each task reduces its slice of
  * the corpus to at most depth·width counter rows before the shuffle —
  * exactly a per-partition sketch followed by a sketch merge, but
  * expressed declaratively so Catalyst keeps it inside
  * whole-stage codegen (no UDAF buffer serialization).
  */
object Sketches {

  // Sketch sizes; the DuckDB oracles and the streaming twins
  // (StreamingHeavyHitters) read the same values.
  private[graft] val CmsDepth = 4               // q52's count-min rows ...
  private[graft] val CmsWidth = 1024            // ... of CmsWidth counters,
  private[graft] val CmsTopK = 50               // ... reported on the exact top tokens
  private[graft] val HllP = 8                   // 2^HllP HLL registers (q69, q135)
  private[graft] val BloomBits = 1 << 15        // bloomSemiJoin's filter bits (4 KB) ...
  private[graft] val BloomK = 5                 // ... and hash functions (q70)
  private[graft] val HistWidth = 1000.0         // histogramQuantiles' bin width (q63)
  private[graft] val RollupLabel = "ALL"        // q135's union-level group label
  private[graft] val KmvK = 64                  // KMV hashes kept per source (q95)
  private[graft] val SpaceSavingCapacity = 64   // SpaceSaving counters per group (q126)
  private[graft] val SpaceSavingTopK = 5        // SpaceSaving tokens reported per group
  private[graft] val MrlK = 64                  // MRL quantile-sketch buffer (q128)

  /** Count-min sketch over the corpus token stream, reported on the
    * exact top-`CmsTopK` tokens so the estimate sits next to its ground
    * truth: (token, exact count, CMS estimate). The estimate
    * upper-bounds the truth (one-sided error); with width 1024 and
    * depth 4 the expected overcount is ≤ e·N/width per row, and the
    * min across 4 independent rows concentrates sharply.
    *
    * Scale: the token explode never shuffles raw tokens for the
    * counters — partial aggregation collapses each partition to
    * ≤ depth·width rows (the per-partition sketch), the exchange moves
    * only merged counters. The exact side is one token shuffle (needed
    * here only to verify the sketch; production keeps the sketch and
    * drops the exact pass).
    */
  def cmsHeavyHitters(spark: SparkSession, documents: DataFrame): DataFrame = {
    GraftFunctions.register(spark)
    val toks = documents
      .select(explode(TextFunctions.wsTokens(col("text"))).as("token"))
    val rows = spark.range(CmsDepth).select(col("id").as("r"))
    def cell(token: org.apache.spark.sql.Column) =
      pmod(GraftFunctions.hash64Seeded(col("r"), token), lit(CmsWidth.toLong))

    // CmsDepth copies of the token stream -> (row, cell) counters; the
    // groupBy's map-side combine is the per-partition sketch build
    val counters = toks.crossJoin(broadcast(rows))
      .select(col("r"), cell(col("token")).as("cell"))
      .groupBy(col("r"), col("cell"))
      .agg(count(lit(1)).as("c"))

    val exact = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val top = exact.orderBy(col("cnt").desc, col("token").asc).limit(CmsTopK)

    top.crossJoin(broadcast(rows))
      .select(col("token"), col("cnt"), col("r"),
        cell(col("token")).as("cell"))
      .join(broadcast(counters), Seq("r", "cell"))
      .groupBy(col("token"), col("cnt"))
      .agg(min(col("c")).as("est_cms"))
      .select(col("token"), col("cnt"), col("est_cms"))
  }

  /** The HLL raw-estimate numerator alpha_m * m^2 * 2^63 — one shared
    * Scala computation so the engine column and the DuckDB oracle embed
    * the SAME IEEE double and the final division matches bit-for-bit.
    */
  private[graft] def hllNumerator(p: Int): Double = {
    val m = 1 << p
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    alpha * m * m * 9223372036854775808.0 // 2^63
  }

  /** Per-(grp, bucket) max-rho HLL registers — the mergeable core
    * shared by [[hllDistinct]] and [[hllDistinctRollup]]. `groupExpr`
    * is taken as-is so hllDistinct keeps the caller's group type;
    * only the rollup casts to string (its 'ALL' level needs one).
    */
  private def hllRegisters(df: DataFrame, keyCol: String,
                           groupExpr: org.apache.spark.sql.Column,
                           p: Int): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val suffix = 64 - p
    df.select(groupExpr.as("grp"),
        GraftFunctions.hash64Seeded(lit(0L), col(keyCol).cast("string")).as("h"))
      .select(col("grp"),
        expr(s"shiftrightunsigned(h, $suffix)").as("bucket"),
        col("h").bitwiseAND(lit((1L << suffix) - 1L)).as("w"))
      .select(col("grp"), col("bucket"),
        when(col("w") === 0L, lit(suffix + 1))
          .otherwise(GraftFunctions.clz64(col("w")) - lit(p) + lit(1))
          .as("rho"))
      .groupBy(col("grp"), col("bucket")).agg(max(col("rho")).as("r"))
  }

  /** (grp, nz, hll_raw) estimates from a register frame. */
  private def hllEstimates(regs: DataFrame, p: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val m = 1 << p
    val per = regs.groupBy(col("grp")).agg(
      count(lit(1)).as("nz"),
      sum(expr("shiftleft(1L, 63 - r)").cast(DecimalType(38, 0))).as("sp"))
    val two63 = lit(new java.math.BigDecimal("9223372036854775808"))
    per.select(col("grp"), col("nz"),
      (lit(hllNumerator(p)) /
        (col("sp") + (lit(m.toLong) - col("nz")).cast(DecimalType(38, 0)) * two63)
          .cast("double")).as("hll_raw"))
  }

  /** HyperLogLog distinct-count sketch per group: hash each key,
    * route the top `p` bits to one of m=2^p registers, keep the max
    * "rho" (position of the first 1-bit in the remaining 64-p bits),
    * and answer with the harmonic-mean raw estimate
    * alpha_m * m^2 / sum_j 2^-M_j. Registers are built by a plain
    * `groupBy(grp, bucket).agg(max(rho))` — map-side partial max IS the
    * per-partition sketch, the shuffle carries at most m counter rows
    * per group regardless of input size, and max-merge makes the state
    * trivially mergeable across any partitioning (spec-asserted).
    *
    * Exactness contract: every step up to the final division is 64-bit
    * integer arithmetic (the denominator sum 2^-M_j is kept as the
    * exact integer sum of 2^(63-M_j), empty registers contributing
    * 2^63), so the DuckDB oracle reproduces the registers bit-for-bit
    * and the single double division rounds identically (the estimate is
    * reported at 4 decimals to absorb HUGEINT->double cast differences).
    * The raw estimate is reported WITHOUT the small-range linear-
    * counting correction (it needs ln(), which is not bit-stable across
    * libm implementations); callers in the n < 2.5m regime should apply
    * it. NOTE: the output's `nz` is the NON-zero (occupied) register
    * count — linear counting is m·ln(m/V) with V = m − nz zero
    * registers, so plug in (m − nz), not nz.
    *
    * The exact `count(DISTINCT key)` rides along per group as ground
    * truth, same reporting shape as [[cmsHeavyHitters]]; production at
    * 100 TB keeps only the sketch side (one narrow shuffle, no
    * distinct's exact-key exchange).
    */
  def hllDistinct(df: DataFrame, keyCol: String, groupCol: String): DataFrame = {
    val est = hllEstimates(hllRegisters(df, keyCol, col(groupCol), HllP), HllP)
    val exact = df.groupBy(col(groupCol).as("grp"))
      .agg(countDistinct(col(keyCol)).as("n_exact"))
    exact.join(est, Seq("grp"))
      .select(col("grp"), col("n_exact"), col("nz"),
        (floor(col("hll_raw") * 10000 + lit(0.5)) / 10000).as("hll_est"))
  }

  /** HLL rollup FROM SKETCHES (q135): the per-group registers are
    * max-merged per bucket into a `RollupLabel` union sketch, and
    * both levels are estimated from registers alone — the raw keys
    * are touched exactly once (the register frame is checkpointed:
    * groups × 2^HllP rows, KBs). This is the property that makes HLL the
    * production distinct-counter: pre-aggregated per-partition (per
    * day, per source) sketches re-roll to any coarser grain without
    * revisiting data, and the merged estimate is BIT-IDENTICAL to the
    * sketch built directly on the union (max-merge is exactly what
    * the direct build computes). Exact counts ride along per level
    * for the oracle. `RollupLabel` must not collide with a real group value
    * (groups are compared as strings for the shared label column).
    */
  def hllDistinctRollup(df: DataFrame, keyCol: String, groupCol: String): DataFrame = {
    // tiny frame (groups × occupied buckets); checkpointing it keeps
    // the full-table register build single-pass even though the union
    // below references it twice
    val regs = hllRegisters(df, keyCol, col(groupCol).cast("string"), HllP)
      .localCheckpoint(true)
    // a real group equal to the sentinel would fan out the exact/est
    // join and silently corrupt the rollup — fail loudly instead; the
    // scan is over the tiny checkpointed register frame, not the data
    require(regs.filter(col("grp") === lit(RollupLabel)).isEmpty,
      s"rollup label '$RollupLabel' collides with a real value of $groupCol")
    val merged = regs.groupBy(col("bucket")).agg(max(col("r")).as("r"))
      .select(lit(RollupLabel).as("grp"), col("bucket"), col("r"))
    val est = hllEstimates(regs.unionByName(merged), HllP)
    val exact = df.groupBy(col(groupCol).cast("string").as("grp"))
      .agg(countDistinct(col(keyCol)).as("n_exact"))
      .unionByName(df.agg(countDistinct(col(keyCol)).as("n_exact"))
        .select(lit(RollupLabel).as("grp"), col("n_exact")))
    exact.join(est, Seq("grp"))
      .select(col("grp"), col("n_exact"), col("nz"),
        (floor(col("hll_raw") * 10000 + lit(0.5)) / 10000).as("hll_est"))
  }

  /** Bloom-filter bits for the distinct values of `keyCol`, built
    * relationally: k probe positions per key (double hashing
    * h1 + i·h2, Kirsch-Mitzenmacher) exploded to (word, bit) pairs and
    * OR-folded by a `groupBy(word).agg(bit_or)` — map-side combine
    * collapses each partition to ≤ m/64 counter rows before the
    * shuffle, so the build cost is one narrow exchange regardless of
    * input size. The finished sketch (m/64 longs — a few KB) is
    * collected to the driver, the same bounded-artifact pattern as the
    * IVF centroid matrix.
    *
    * `mBits` must be a power of two (positions come from a mask, not a
    * modulo).
    */
  def bloomBits(dim: DataFrame, keyCol: String, mBits: Int, k: Int): Array[Long] = {
    require(mBits >= 64 && (mBits & (mBits - 1)) == 0,
      s"mBits must be a power of two >= 64, got $mBits")
    val hashed = dim.filter(col(keyCol).isNotNull)
      .select(xxhash64(col(keyCol)).as("h1"),
        xxhash64(col(keyCol), col(keyCol)).as("h2"))
    // combine in masked space — (a + i·b) mod m == ((a mod m) + i·(b mod
    // m)) mod m for power-of-two m — so the arithmetic never overflows
    // (ANSI mode makes wrap-around a runtime error)
    val probes = (0 until k).map(i =>
      (col("h1").bitwiseAND(lit(mBits - 1L)) +
        lit(i.toLong) * col("h2").bitwiseAND(lit(mBits - 1L)))
        .bitwiseAND(lit(mBits - 1L)).as(s"p$i"))
    val words = hashed.select(array(probes: _*).as("ps"))
      .select(explode(col("ps")).as("pos"))
      .select(expr("shiftright(pos, 6)").as("w"),
        expr("shiftleft(1L, cast(pos & 63 AS INT))").as("bit"))
      .groupBy(col("w")).agg(expr("bit_or(bit)").as("word"))
      .collect()
    val bits = new Array[Long](mBits / 64)
    words.foreach(r => bits(r.getLong(0).toInt) = r.getLong(1))
    bits
  }

  /** Membership probe against [[bloomBits]] — pure built-in
    * expressions (xxhash64, shifts, masks), so the test stays inside
    * whole-stage codegen on the fact-table scan. No false negatives;
    * false positives at the standard (1 - e^{-kn/m})^k rate.
    */
  def bloomMightContain(bits: Array[Long], mBits: Int, k: Int,
                        key: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val h1 = xxhash64(key)
    val h2 = xxhash64(key, key)
    val bitsLit = typedLit(bits.toSeq)
    (0 until k).map { i =>
      val pos = (h1.bitwiseAND(lit(mBits - 1L)) +
        lit(i.toLong) * h2.bitwiseAND(lit(mBits - 1L)))
        .bitwiseAND(lit(mBits - 1L))
      val word = element_at(bitsLit,
        (call_function("shiftright", pos, lit(6)) + lit(1L)).cast("int"))
      call_function("shiftrightunsigned", word,
        pos.bitwiseAND(lit(63L)).cast("int"))
        .bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
  }

  /** Bloom-prefiltered semi join: probe the big side with the sketch
    * BEFORE the exchange, then close with the exact semi join (which
    * removes the bloom's false positives — the final result is
    * byte-identical to a plain semi join for ANY sketch size). At
    * 100 TB this is the manual form of a runtime row-level filter: the
    * fact-side shuffle carries only rows that might match, i.e. its
    * volume drops from |fact| to |matches| + fpp·|fact|.
    */
  def bloomSemiJoin(big: DataFrame, dim: DataFrame,
                    bigKey: String, dimKey: String): DataFrame = {
    val bits = bloomBits(dim, dimKey, BloomBits, BloomK)
    big.filter(bloomMightContain(bits, BloomBits, BloomK, col(bigKey)))
      .join(dim.select(col(dimKey).as(bigKey)).distinct(), Seq(bigKey),
        "left_semi")
  }

  /** One-pass mergeable quantile estimation via a fixed-width
    * histogram: per group, bin counts (bin = floor(value/[[HistWidth]])) are
    * the sketch state — trivially mergeable (vector add), built with
    * map-side partial aggregation so the shuffle carries at most
    * (groups × occupied bins) counter rows regardless of input size.
    * Each requested quantile q is answered with the inclusive upper
    * edge of the first bin whose cumulative count reaches ceil(q·n) —
    * the inverse-CDF rank definition — giving a deterministic
    * estimate within one bin width of the exact order statistic
    * (spec-asserted against the exact percentile).
    *
    * This is the 100 TB path where q33's exact interpolated
    * percentiles (a full sort per group) stop being affordable: the
    * histogram needs one narrow shuffle and no sort of the data, only
    * of the ≤|bins| counter rows inside each group's window. All
    * arithmetic is exact (integer counts, literal·integer edges), so
    * the oracle matches bit-for-bit.
    */
  def histogramQuantiles(df: DataFrame, valueCol: String, groupCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bins = df
      .groupBy(col(groupCol).as("grp"),
        floor(col(valueCol) / lit(HistWidth)).cast("long").as("bin"))
      .agg(count(lit(1)).as("cnt"))
    val wAll = Window.partitionBy(col("grp"))
    val wCum = wAll.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = bins
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
    val picks = Seq(0.25, 0.5, 0.75, 0.95).map { q =>
      min(when(col("cum") >= ceil(lit(q) * col("n")),
        (col("bin") + lit(1)) * lit(HistWidth))).as(s"p${(q * 100).round}")
    }
    c.groupBy(col("grp"))
      .agg(max(col("n")).as("n"), picks: _*)
  }

  /** KMV (k-minimum-values) set sketch per source over the distinct
    * token universe, reported as pairwise source-overlap estimates —
    * the SET-INTERSECTION estimate that HLL (q69, union-only
    * mergeable) structurally cannot provide. Per source, keep the k
    * smallest seeded-64-bit token hashes; for a pair, the k smallest
    * of the merged sketches are a uniform sample of the union, so the
    * fraction present in BOTH sketches estimates Jaccard, and the
    * k-th value's position in hash space estimates |union|
    * ((k-1)/frac, the classic KMV cardinality estimator). Signed-long
    * ordering is used consistently on both sides, so "space below h"
    * is h/2^64 + 0.5.
    *
    * Scale: after the per-source distinct, only k=[[KmvK]] hash values per
    * source survive — the pairwise stage touches |sources|·k rows no
    * matter how large the corpus. The exact jaccard column is the
    * fixture-scale verification (one token self-join); production
    * keeps the sketch columns and drops the exact pass, exactly like
    * q52's CMS-vs-exact layout.
    */
  def kmvSourceOverlap(spark: SparkSession, documents: DataFrame): DataFrame = {
    val k = KmvK
    GraftFunctions.register(spark)
    import org.apache.spark.sql.expressions.Window
    val toks = documents
      .select(col("source"),
        explode(TextFunctions.wsTokens(col("text"))).as("token"))
      .distinct()
    val hashed = toks
      .select(col("source"),
        GraftFunctions.hash64Seeded(lit(0L), col("token")).as("hv"))
      .distinct()
    val sk = hashed
      .withColumn("rk",
        row_number().over(Window.partitionBy("source").orderBy("hv")))
      .filter(col("rk") <= k).drop("rk")

    val srcs = sk.select("source").distinct()
    // distinct-source frame: dimension-grain (a handful of corpus
    // sources at any data size), so the pair enumeration broadcasts
    val prs = srcs.as("s1")
      .join(broadcast(srcs.as("s2")), col("s1.source") < col("s2.source"))
      .select(col("s1.source").as("source_a"),
        col("s2.source").as("source_b"))

    // merged sketch per pair: a value present in both sketches counts
    // twice; rank again and keep the k smallest of the union
    val contrib = sk.join(broadcast(prs),
        col("source") === col("source_a") ||
          col("source") === col("source_b"))
      .groupBy(col("source_a"), col("source_b"), col("hv"))
      .agg(count(lit(1)).as("n_sk"))
    val est = contrib
      .withColumn("rk", row_number().over(
        Window.partitionBy("source_a", "source_b").orderBy("hv")))
      .filter(col("rk") <= k)
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("kk"),
        sum(when(col("n_sk") === 2, 1L).otherwise(0L)).as("n_shared"),
        max(col("hv")).as("kth"))

    val sizes = toks.groupBy("source").agg(count(lit(1)).as("nt"))
    val inter = toks.as("ta").join(toks.as("tb"),
        col("ta.token") === col("tb.token") &&
          col("ta.source") < col("tb.source"))
      .groupBy(col("ta.source").as("source_a"),
        col("tb.source").as("source_b"))
      .agg(count(lit(1)).as("n_inter"))

    val two64 = lit(math.pow(2, 64))
    est
      .join(broadcast(sizes.select(col("source").as("source_a"),
        col("nt").as("na"))), "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"),
        col("nt").as("nb"))), "source_b")
      .join(inter, Seq("source_a", "source_b"), "left")
      .na.fill(0L, Seq("n_inter"))
      .select(col("source_a"), col("source_b"), col("kk"),
        (col("n_shared").cast("double") / col("kk")).as("est_jaccard"),
        (col("n_inter").cast("double") /
          (col("na") + col("nb") - col("n_inter"))).as("exact_jaccard"),
        ((col("kk") - lit(1)).cast("double") /
          (col("kth").cast("double") / two64 + lit(0.5))).as("est_union"))
      .orderBy("source_a", "source_b")
  }

  /** Per-customer order-value quantiles via the MRL mergeable quantile
    * sketch (q128) — the "per-entity percentile profile" one-pass
    * report. The typed Aggregator partial-aggregates each task's slice
    * into an O(k·log(n/k)) sketch (k = MrlK) BEFORE the exchange, so the shuffle
    * carries sketches, never the value multiset — the quantile sibling
    * of q126's SpaceSaving and q63's fixed-width histogram (which
    * needs a known value range; MRL doesn't). Per-customer groups are
    * bounded by construction (~10 orders/customer at every SF — group
    * COUNT stays put while group COUNT OF GROUPS scales), so the
    * sketch runs in its exact regime and `finish` is DuckDB's
    * `quantile_disc` index rule bit-for-bit; the approximate regime's
    * rank-error bound is property-tested in SketchesSpec.
    */
  def mrlQuantilesPerCustomer(spark: SparkSession, orders: DataFrame): DataFrame = {
    val probs = Seq(0.25, 0.5, 0.75, 0.95)
    val mrl = udaf(new graft.functions.Aggregators.MrlQuantiles(MrlK, probs))
    orders
      .select(col("o_custkey"), col("o_totalprice").cast("double").as("v"))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"), mrl(col("v")).as("qs"))
      .select(col("o_custkey"), col("n_orders"),
        element_at(col("qs"), 1).as("p25"),
        element_at(col("qs"), 2).as("p50"),
        element_at(col("qs"), 3).as("p75"),
        element_at(col("qs"), 4).as("p95"))
      .orderBy("o_custkey")
  }

  /** Per-group top-k tokens via the SpaceSaving sketch (q126) — the
    * "top domains per language / top terms per source" one-pass
    * report. Each task folds its partition into ≤ [[SpaceSavingCapacity]] counters
    * PER GROUP before the exchange (typed Aggregator partial
    * aggregation), so the shuffle carries O(groups × capacity) rows
    * however large the token stream is — the per-group sibling of
    * q52's fixed-keyspace CMS. With capacity ≥ the group's distinct
    * count the result is exact (err = 0) — the regime the DuckDB
    * oracle certifies; the approximate regime's guarantees
    * (overcount ≤ err, guaranteed presence above n/capacity) are
    * property-tested in SketchesSpec.
    */
  def spaceSavingTopTokens(spark: SparkSession, documents: DataFrame): DataFrame = {
    val ss = udaf(new graft.functions.Aggregators.SpaceSavingTopK(SpaceSavingCapacity))
    documents
      .select(col("source"),
        explode(split(lower(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("source").agg(ss(col("tok")).as("top"))
      .select(col("source"), posexplode(col("top")))
      .filter(col("pos") < SpaceSavingTopK)
      .select(col("source"), (col("pos") + 1).cast("long").as("rank"),
        col("col.token").as("token"), col("col.cnt").as("cnt"),
        col("col.err").as("err"))
      .orderBy("source", "rank")
  }
}
