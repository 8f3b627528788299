package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{AsOfJoin, Dedup, EntityResolution, GraphOps, Multimodal, PriceAlerts, Relational, Similarity, Sketches, TextAnalysis, TimeSeries}
import graft.QueryHelpers._

/** Inline analytics, q05-q149: pricing summaries, top-k, set ops, histograms, weighted medians.
  *
  * Registry split out of SparkEntry (round 9): the maps below are
  * merged back into `SparkEntry.queries` / `SparkEntry.oracleSql`,
  * so names, semantics, and the DuckDB-oracle pairing are unchanged.
  */
object StatsQueriesA {

  // q97's negatives per anchor, passed to the query and its oracle alike
  private val ContrastiveSlots = 4

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Document fingerprints: md5 over normalized text, oracle-backed.
    "q25_text_fingerprint" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.TextFunctions.fingerprintMd5(col("text")).as("fp_md5"))
        .orderBy("doc_id")
    }),


    // Sliding (hopping) window: 5-minute windows sliding by 1 minute.
    "q27_sliding_window" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "5 minutes", "1 minute"), col("event_type"))
        .agg(r2(sum(col("value"))).as("total"), count(lit(1)).as("n"))
        .select(tsStr(col("window.start")).as("window_start"), col("event_type"),
          col("total"), col("n"))
        .orderBy("window_start", "event_type", "total", "n")
    }),


    // Session windows: 30-minute-gap sessions per user
    // (gaps-and-islands oracle in DuckDB).
    "q28_session_window" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), r2(sum(col("value"))).as("total"))
        .select(col("user_id"), tsStr(col("session_window.start")).as("session_start"),
          col("n_events"), col("total"))
        .orderBy("user_id", "session_start", "n_events", "total")
    }),


    // Deterministic content-hash train/val split: the reproducible-split
    // primitive of a training-data pipeline (split follows the CONTENT,
    // not row order or RNG — stable under reshuffling and re-ingestion).
    "q30_train_val_split" -> ((s, dir) => {
      val firstHex = substring(md5(col("text")), 1, 1)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          when(firstHex.isin("0", "1", "2", "3"), "val")
            .otherwise("train").as("split"))
        .orderBy("doc_id", "split")
    }),


    // PII scrubbing: per-doc match counts + fingerprint of the redacted
    // text — the corpus-sanitization step of a training-data pipeline.
    "q38_pii_redaction" -> ((s, dir) => {
      import graft.functions.TextFunctions._
      Tables.documents(s, dir)
        .select(col("doc_id"),
          piiCount(col("text"), emailRe).cast("long").as("n_emails"),
          piiCount(col("text"), phoneRe).cast("long").as("n_phones"),
          piiCount(col("text"), ipRe).cast("long").as("n_ips"),
          md5(redactPii(col("text"))).as("redacted_md5"))
        .orderBy("doc_id")
    }),


    // Per-vector stats over the embedding column (sequential-fold l2 /
    // mean via `aggregate`, array_min/max) — the vector-hygiene check
    // (zero/degenerate embedding detection) of an embedding pipeline.
    "q39_vector_stats" -> ((s, dir) => {
      val e = col("embedding")
      val sq = aggregate(e, lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double"))
      val sm = aggregate(e, lit(0.0), (acc, x) => acc + x.cast("double"))
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          r4(sqrt(sq)).as("l2_norm"),
          r4(sm / size(e)).as("vmean"),
          r4(array_min(e).cast("double")).as("vmin"),
          r4(array_max(e).cast("double")).as("vmax"))
        .orderBy("vec_id")
    }),


    // Keyed interval join: each click matched to ALL of the user's
    // purchases in the preceding day (the bounded-range sibling
    // of the as-of join q26 — equi-key + range predicate, so the pair
    // space is per-user-window, never the cross product).
    "q40_interval_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"), col("value"))
      clicks.join(purchases, Seq("user_id"))
        .filter(col("purchase_ts") <= col("click_ts") &&
          col("purchase_ts") >= col("click_ts") - expr("INTERVAL 1 DAY"))
        .select(col("click_id"), col("user_id"),
          tsStr(col("click_ts")).as("click_ts"),
          col("purchase_id"),
          tsStr(col("purchase_ts")).as("purchase_ts"),
          r2(col("value")).as("value"))
        .orderBy("click_id", "user_id", "click_ts", "purchase_id",
          "purchase_ts", "value")
    }),


    // Deterministic mixture sampling: each source kept at its own
    // configured rate (the dataset-mixing step of a training-data
    // build), decided by a content-hash uniform — reshuffle-stable and
    // oracle-reproducible. The per-source weight table is a driver-side
    // config broadcast-joined into the filter (at 100 TB the corpus
    // side never shuffles; the weights are a ~KB broadcast); sources
    // absent from the table are dropped, as a mixture spec defines the
    // kept universe.
    "q43_mixture_sampling" -> ((s, dir) => {
      import s.implicits._
      // first 4 hex chars of md5 -> uniform in [0, 65536)
      val u = conv(substring(md5(col("text")), 1, 4), 16, 10).cast("long")
      val weights = mixtureWeights.toDF("source", "keep_frac")
      Tables.documents(s, dir)
        .join(broadcast(weights), Seq("source"))
        .filter(u < (col("keep_frac") * 65536).cast("long"))
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id", "source")
    }),


    // Absmax int8 embedding quantization stats (the storage-compression
    // step of an embedding pipeline): per-vector scale + integer
    // checksums of every quantized component — single-pass codegen
    // expression, scan speed.
    "q47_embedding_quantize" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          graft.functions.GraftFunctions.quantizeI8Stats(col("embedding")).as("q"))
        .select(col("vec_id"), r4(col("q.scale")).as("scale"),
          col("q.q_sum").as("q_sum"), col("q.q_min").as("q_min"),
          col("q.q_max").as("q_max"))
        .orderBy("vec_id", "scale", "q_sum", "q_min", "q_max")
    }),


    // Morton z-order clustering key over (user_id, event-minute): the
    // data-layout primitive behind 2-D scan pruning — sorting by z
    // gives BOTH dimensions row-group locality (a range-partition and
    // sort on it is the write path; this query verifies the key itself).
    "q53_zorder_key" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      Tables.events(s, dir)
        .withColumn("m", expr("cast(ts AS long) div 60"))
        .select(col("event_id"), col("user_id"), col("m"),
          graft.functions.GraftFunctions.zorder64(col("user_id"), col("m"))
            .as("z"))
        .orderBy("z", "event_id", "user_id", "m")
    }),


    // Window-function breadth: quartile bucketing, next-order lookahead,
    // cumulative distribution per customer order history.
    "q56_order_windows" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          ntile(4).over(w).cast("long").as("quartile"),
          lead(col("o_orderkey"), 1).over(w).as("next_ok"),
          r4(cume_dist().over(w)).as("cd"))
        .orderBy("o_custkey", "o_orderkey", "quartile", "next_ok", "cd")
    }),


    // Corpus snapshot diff (dataset versioning): FULL OUTER join of two
    // corpus versions on doc_id comparing content fingerprints ->
    // added / removed / changed rows (v2 is a deterministic derivation:
    // drop doc_id%7, edit doc_id%11, add doc_id%13 under new ids).
    // At scale both sides shuffle once on doc_id; only fingerprints
    // cross the wire, never text. Snapshot ids are doc_id·2 for
    // carried-over docs and doc_id·2+1 for v2's additions — the q146
    // structural-disjointness scheme: the r13 review found the old
    // additive +1M addition ids collided with REAL doc_ids once the
    // corpus passed 1M docs, giving v2 duplicate keys and fanning out
    // the full-outer join; parity-split ids cannot collide at any SF
    // below long overflow.
    "q58_snapshot_diff" -> ((s, dir) => {
      import graft.functions.TextFunctions
      val docs = Tables.documents(s, dir)
      val v1 = docs.select((col("doc_id") * 2L).as("doc_id"),
        TextFunctions.fingerprintMd5(col("text")).as("fp_a"))
      val v2base = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        .select((col("doc_id") * 2L).as("doc_id"),
          when(pmod(col("doc_id"), lit(11)) === 0,
            concat(col("text"), lit(" edited"))).otherwise(col("text")).as("text"))
      val v2new = docs.filter(pmod(col("doc_id"), lit(13)) === 0)
        .select((col("doc_id") * 2L + 1L).as("doc_id"), col("text"))
      val v2 = v2base.union(v2new)
        .select(col("doc_id"), TextFunctions.fingerprintMd5(col("text")).as("fp_b"))
      v1.join(v2, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("fp_a").isNull, "added")
            .when(col("fp_b").isNull, "removed")
            .when(col("fp_a") =!= col("fp_b"), "changed")
            .otherwise("same").as("status"))
        .filter(col("status") =!= "same")
        .orderBy("doc_id", "status")
    }),


    // Semi-structured extraction: parse the JSON `props` column with a
    // declared schema (from_json stays codegen'd — scan-speed shredding)
    // and aggregate the extracted field per event type. At 100 TB this
    // is the ELT shred step: no UDF, the parser runs inside the scan
    // stage and only (type, k) reaches the aggregate.
    "q59_json_props" -> ((s, dir) => {
      val k = expr("from_json(props, 'k BIGINT').k")
      Tables.events(s, dir)
        .select(col("event_type"), k.as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy("event_type", "n", "sum_k", "min_k", "max_k")
    }),


    // Explicit GROUPING SETS with per-column grouping flags — completes
    // the grouping family (rollup q10, cube q34): only the two
    // single-column marginals plus the grand total, with grouping()
    // flags distinguishing "NULL group value" from "aggregated-away".
    "q60_grouping_sets" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping(col("l_returnflag")).cast("long").as("g_rf"),
          grouping(col("l_linestatus")).cast("long").as("g_ls"),
          r2(sum(col("l_quantity"))).as("sum_qty"), count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("g_rf"), col("g_ls"), col("sum_qty"), col("n"))
        .orderBy("returnflag", "linestatus", "g_rf", "g_ls", "sum_qty", "n")
    }),


    // CUBE grouping sets (all four grouping combinations).
    "q34_cube" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sq"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          r2(col("sq")).as("sum_qty"), col("n"))
        .orderBy("returnflag", "linestatus")
    }),


    // Correlated-subquery shape: orders above their customer's average
    // (decorrelated to a window aggregate — no per-row subquery at scale).
    "q35_above_avg_orders" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
      Tables.orders(s, dir)
        .withColumn("cust_avg", avg(col("o_totalprice")).over(w))
        .filter(col("o_totalprice") > col("cust_avg"))
        .select(col("o_orderkey"), col("o_custkey"),
          r2(col("o_totalprice")).as("o_totalprice"))
        .orderBy("o_orderkey", "o_custkey", "o_totalprice")
    }),


    // Per-type value stats through the TYPED Aggregator tier (Welford
    // online variance, merged with Chan's formula) — puts the UDAF
    // extension path itself under the oracle gate.
    "q83_welford_variance" -> ((s, dir) => {
      val welford = udaf(graft.functions.Aggregators.WelfordVariance)
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          r4(avg(col("value"))).as("mean_value"),
          r4(welford(col("value"))).as("var_value"))
        .orderBy("event_type")
    }),


    // Time-weighted average price per part over its shipment history:
    // each price holds until the next shipment (lead window), weight =
    // holding seconds; last observation carries zero weight and the
    // plain average rides along. One window pass, partitioned by part.
    "q84_twap" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_partkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      val nextTs = lead(unix_timestamp(col("l_shipdate")), 1)
        .over(w)
      val weight = (nextTs - unix_timestamp(col("l_shipdate")))
        .cast("double")
      Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_extendedprice").as("price"),
          weight.as("wt"))
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_ship"),
          r2(sum(col("price") * col("wt")) / sum(col("wt"))).as("twap"),
          r2(avg(col("price"))).as("plain_avg"))
        .filter(col("n_ship") >= 2)
        .orderBy("l_partkey")
    }),


    // Event-type transition matrix (first-order Markov): per-user
    // lag-1 pairs, global counts, and the row-normalized transition
    // probability — the behavioral model behind q87's journeys. One
    // window pass partitioned by user; the matrix is
    // |event_types|^2-bounded.
    "q94_type_transitions" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val pairs = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
      val totals = pairs.groupBy("prev_type")
        .agg(sum(col("n")).as("n_from"))
      pairs.join(totals, "prev_type")
        .select(col("prev_type"), col("next_type"), col("n"),
          r4(col("n").cast("double") / col("n_from")).as("p"))
        .orderBy("prev_type", "next_type")
    }),


    // Cross-source leakage matrix at PASSAGE granularity: 8-token
    // segment fingerprints (q62's segmentation) present in both
    // sources of a pair — the check run before declaring two subsets
    // independent (train vs eval leaks passages, rarely whole docs).
    // Pair space is per-fingerprint (sources sharing that segment),
    // never cross-corpus; only 16-byte digests shuffle.
    "q93_leakage_matrix" -> ((s, dir) => {
      import graft.functions.TextFunctions
      val toks = TextFunctions.wsTokens(col("text"))
      val nSeg = ((size(toks) + lit(7)) / lit(8)).cast("int")
      val fps = Tables.documents(s, dir)
        .select(col("source"), explode(transform(
          sequence(lit(0), nSeg - lit(1)),
          j => md5(array_join(slice(toks, j * lit(8) + lit(1), lit(8)),
            " ")))).as("fp"))
        .distinct()
      fps.as("fa")
        .join(fps.as("fb"),
          col("fa.fp") === col("fb.fp") &&
            col("fa.source") < col("fb.source"))
        .groupBy(col("fa.source").as("source_a"),
          col("fb.source").as("source_b"))
        .agg(count(lit(1)).as("n_shared_segments"))
        .orderBy("source_a", "source_b")
    }),


    // Incremental ingest: a new batch (deterministic derivation —
    // docs with id%5==0 resubmitted verbatim, id%7==0 with an
    // " update" suffix under a new id, id%11==0 brand-new reversed
    // text) admitted against the BASE corpus by exact-fingerprint
    // anti-join. Per-doc verdict: duplicate_of_base / admitted. The
    // base side ships only 16-byte fingerprints — at 100 TB the
    // admission check shuffles digests, never text. Batch ids are
    // doc_id·4 + leg(1/2/3) — the q146 structural-disjointness
    // scheme: the r13 review found the old additive +2M/+3M/+4M leg
    // offsets collided ACROSS legs once the corpus passed 1M docs
    // (doc_id 1000007's leg-1 id = doc_id 7's leg-2 id), so new_id
    // stopped identifying a batch record; multiplication cannot
    // collide at any SF below long overflow.
    "q92_incremental_ingest" -> ((s, dir) => {
      import graft.functions.TextFunctions
      val base = Tables.documents(s, dir)
      val batch = base.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") * 4L + 1L).as("new_id"), col("text"))
        .unionByName(base.filter(pmod(col("doc_id"), lit(7)) === 0)
          .select((col("doc_id") * 4L + 2L).as("new_id"),
            concat(col("text"), lit(" update")).as("text")))
        .unionByName(base.filter(pmod(col("doc_id"), lit(11)) === 0)
          .select((col("doc_id") * 4L + 3L).as("new_id"),
            reverse(col("text")).as("text")))
      val baseFp = base
        .select(TextFunctions.fingerprintMd5(col("text")).as("fp"))
        .distinct()
      batch
        .select(col("new_id"),
          TextFunctions.fingerprintMd5(col("text")).as("fp"))
        .join(baseFp.withColumn("in_base", lit(1L)), Seq("fp"), "left")
        .select(col("new_id"),
          when(col("in_base").isNotNull, "duplicate_of_base")
            .otherwise("admitted").as("verdict"))
        .orderBy("new_id")
    }),


    // PII compliance report: per-source match counts + density per
    // 10k chars (integer counts; one exact double division, r4).
    "q90_pii_density" -> ((s, dir) => {
      import graft.functions.TextFunctions._
      Tables.documents(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars"),
          sum(piiCount(col("text"), emailRe)).as("n_emails"),
          sum(piiCount(col("text"), phoneRe)).as("n_phones"),
          sum(piiCount(col("text"), ipRe)).as("n_ips"))
        .select(col("source"), col("n_docs"),
          col("n_emails"), col("n_phones"), col("n_ips"),
          r4((col("n_emails") + col("n_phones") + col("n_ips"))
            .cast("double") * lit(10000.0) / col("n_chars"))
            .as("pii_per_10k_chars"))
        .orderBy("source")
    }),


    // Dataset card: the per-source corpus summary a training-data
    // pipeline publishes — doc/token/dup counts and the majority
    // language, all exact aggregates (the mode via a deterministic
    // (count, lang) argmax).
    "q89_dataset_card" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val perLang = docs.groupBy("source", "lang")
        .agg(count(lit(1)).as("n_lang"))
      val topLang = perLang
        .withColumn("rk", row_number().over(Window.partitionBy("source")
          .orderBy(col("n_lang").desc, col("lang").asc)))
        .filter(col("rk") === 1)
        .select(col("source"), col("lang").as("top_lang"),
          col("n_lang").as("top_lang_docs"))
      docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(graft.functions.TextFunctions.tokenCountWs(col("text")))
            .as("n_tokens"),
          countDistinct(md5(col("text"))).as("n_distinct_texts"),
          sum(col("n_chars")).as("n_chars"))
        .join(topLang, "source")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("n_chars"),
          (col("n_docs") - col("n_distinct_texts")).as("n_dup_docs"),
          col("top_lang"), col("top_lang_docs"))
        .orderBy("source")
    }),


    "q85_trending_parts" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wk = floor(unix_timestamp(col("l_shipdate")) / lit(604800L))
        .cast("long")
      val counts = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"), wk.as("week"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("l_partkey")).orderBy(col("week"))
      counts
        .select(col("l_partkey"), col("week"), col("cnt"),
          lag(col("cnt"), 1).over(w).as("prev_cnt"))
        .filter(col("prev_cnt").isNotNull)
        .select(col("l_partkey"), col("week"), col("cnt"), col("prev_cnt"),
          r4((col("cnt") + lit(1)).cast("double") /
            (col("prev_cnt") + lit(1))).as("ratio"))
        .orderBy(col("ratio").desc, col("l_partkey").asc, col("week").asc)
        .limit(50)
    }),


    // Deterministic contrastive negative sampling: 4 hash-derived
    // negatives per anchor doc, joined back for the negative's
    // source and a cross-source marker. Reshuffle-stable (content
    // hash of the anchor id), one hash-join on neg_id.
    "q97_contrastive_pairs" -> ((s, dir) => {
      import graft.functions.GraftFunctions
      GraftFunctions.register(s)
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      val n = docs.groupBy().agg(count(lit(1)).as("n_docs"))
      val negs = docs.crossJoin(broadcast(n))
        .select(col("doc_id"), col("source"), col("n_docs"),
          explode(sequence(lit(0L), lit(ContrastiveSlots - 1L))).as("slot"))
        .withColumn("neg_id",
          pmod(GraftFunctions.hash64Seeded(lit(300L) + col("slot"),
            col("doc_id").cast("string")), col("n_docs")))
        .filter(col("neg_id") =!= col("doc_id"))
      negs.join(docs.select(col("doc_id").as("neg_id"),
          col("source").as("neg_source")), "neg_id")
        .select(col("doc_id"), col("slot"), col("neg_id"),
          col("neg_source"),
          (col("neg_source") =!= col("source")).cast("int")
            .as("cross_source"))
        .orderBy("doc_id", "slot")
    }),


    // TPC-H Q3 shape (shipping priority): segment-filtered customers ×
    // date-windowed orders × late-shipping lineitems → top-10 orders
    // by revenue. Top-k orders by the ROUNDED revenue with an id
    // tiebreak, so the limit membership is deterministic on both
    // engines (the q147 rank convention).
    "q148_shipping_priority" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") < lit("1998-01-01"))
      val l = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1998-01-01"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("rev"))
        .select(col("l_orderkey"), r2(col("rev")).as("revenue"),
          tsStr(col("o_orderdate")).as("o_orderdate"), col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),


    // TPC-H Q10 shape (returned-item reporting): revenue lost to
    // returns per customer with nation context — top-20 by rounded
    // revenue, id tiebreak.
    "q149_returned_items" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
      l.join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("rev"))
        .select(col("c_custkey"), col("c_name"), r2(col("rev")).as("revenue"),
          r2(col("c_acctbal")).as("acctbal"), col("n_name"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    }),
  )

  /** DuckDB oracle SQL for every query above (same keys). */
  val oracleSql: Map[String, String] = Map(

    "q25_text_fingerprint" ->
      """SELECT doc_id,
        |       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp_md5
        |FROM documents
        |ORDER BY 1""".stripMargin,


    "q27_sliding_window" ->
      """SELECT strftime(date_trunc('minute', ts) - (k * INTERVAL 1 MINUTE),
        |                '%Y-%m-%d %H:%M:%S') AS window_start,
        |       event_type,
        |       floor((SUM(value)) * 100 + 0.5) / 100 AS total,
        |       COUNT(*) AS n
        |FROM events, (SELECT unnest(range(5)) AS k)
        |GROUP BY 1, 2
        |ORDER BY 1, 2, 3, 4""".stripMargin,


    "q28_session_window" ->
      """WITH marked AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                        ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked)
        |SELECT user_id,
        |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       COUNT(*) AS n_events,
        |       floor((SUM(value)) * 100 + 0.5) / 100 AS total
        |FROM sessions
        |GROUP BY user_id, sid
        |ORDER BY 1, 2, 3, 4""".stripMargin,


    "q30_train_val_split" ->
      """SELECT doc_id,
        |       CASE WHEN substr(md5(text), 1, 1) IN ('0','1','2','3')
        |            THEN 'val' ELSE 'train' END AS split
        |FROM documents
        |ORDER BY 1, 2""".stripMargin,


    "q38_pii_redaction" -> {
      // SQL single-quoted strings keep backslashes literally, so the
      // Scala regex values drop straight in.
      val email = graft.functions.TextFunctions.emailRe
      val phone = graft.functions.TextFunctions.phoneRe
      val ip = graft.functions.TextFunctions.ipRe
      s"""SELECT doc_id,
        |       len(regexp_extract_all(text, '$email'))::BIGINT AS n_emails,
        |       len(regexp_extract_all(text, '$phone'))::BIGINT AS n_phones,
        |       len(regexp_extract_all(text, '$ip'))::BIGINT AS n_ips,
        |       md5(regexp_replace(regexp_replace(regexp_replace(text,
        |             '$email', '<EMAIL>', 'g'),
        |             '$ip', '<IP>', 'g'),
        |             '$phone', '<PHONE>', 'g')) AS redacted_md5
        |FROM documents
        |ORDER BY 1""".stripMargin
    },


    "q39_vector_stats" ->
      """SELECT vec_id,
        |       floor(sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
        |           x -> x::DOUBLE * x::DOUBLE)), (a, b) -> a + b)) * 10000 + 0.5) / 10000 AS l2_norm,
        |       floor((list_reduce(list_prepend(0.0, list_transform(embedding,
        |           x -> x::DOUBLE)), (a, b) -> a + b) / len(embedding)) * 10000 + 0.5) / 10000 AS vmean,
        |       floor(list_min(embedding)::DOUBLE * 10000 + 0.5) / 10000 AS vmin,
        |       floor(list_max(embedding)::DOUBLE * 10000 + 0.5) / 10000 AS vmax
        |FROM embeddings
        |ORDER BY 1""".stripMargin,


    "q40_interval_join" ->
      """SELECT c.event_id AS click_id,
        |       c.user_id,
        |       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |       p.event_id AS purchase_id,
        |       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |       floor(p.value * 100 + 0.5) / 100 AS value
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON p.user_id = c.user_id
        | AND p.ts <= c.ts AND p.ts >= c.ts - INTERVAL 1 DAY
        |ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin,


    "q43_mixture_sampling" -> {
      // the same weight table the engine broadcasts, as a VALUES clause
      val values = mixtureWeights
        .map { case (src, f) => s"('$src', $f)" }.mkString(", ")
      s"""WITH weights(source, keep_frac) AS (VALUES $values)
        |SELECT doc_id, source
        |FROM documents JOIN weights USING (source)
        |WHERE ('0x' || substr(md5(text), 1, 4))::BIGINT <
        |      CAST(keep_frac * 65536 AS BIGINT)
        |ORDER BY 1, 2""".stripMargin
    },


    "q47_embedding_quantize" ->
      """WITH s AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |sc AS (
        |  SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS scale FROM s),
        |q AS (
        |  SELECT vec_id, scale,
        |         CASE WHEN scale > 0
        |              THEN list_transform(e, x -> floor(x / scale * 127 + 0.5)::BIGINT)
        |              ELSE list_transform(e, x -> 0::BIGINT) END AS qs
        |  FROM sc)
        |SELECT vec_id, floor(scale * 10000 + 0.5) / 10000 AS scale,
        |       list_sum(qs)::BIGINT AS q_sum,
        |       list_min(qs)::BIGINT AS q_min,
        |       list_max(qs)::BIGINT AS q_max
        |FROM q
        |ORDER BY 1, 2, 3, 4, 5""".stripMargin,

    "q53_zorder_key" -> OracleHashSql.q53ZOrder,


    "q56_order_windows" ->
      """SELECT o_custkey, o_orderkey,
        |       ntile(4) OVER w AS quartile,
        |       lead(o_orderkey, 1) OVER w AS next_ok,
        |       floor(cume_dist() OVER w * 10000 + 0.5) / 10000 AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
        |ORDER BY 1, 2, 3, 4, 5""".stripMargin,


    "q58_snapshot_diff" ->
      """WITH v1 AS (
        |  SELECT doc_id * 2 AS doc_id,
        |         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp_a
        |  FROM documents),
        |v2 AS (
        |  SELECT doc_id * 2 AS doc_id,
        |         md5(trim(regexp_replace(lower(
        |           CASE WHEN doc_id % 11 = 0 THEN text || ' edited' ELSE text END),
        |           '\s+', ' ', 'g'))) AS fp_b
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id * 2 + 1,
        |         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |  FROM documents WHERE doc_id % 13 = 0),
        |j AS (
        |  SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id, fp_a, fp_b
        |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT doc_id,
        |       CASE WHEN fp_a IS NULL THEN 'added'
        |            WHEN fp_b IS NULL THEN 'removed'
        |            WHEN fp_a <> fp_b THEN 'changed'
        |            ELSE 'same' END AS status
        |FROM j
        |WHERE fp_a IS NULL OR fp_b IS NULL OR fp_a <> fp_b
        |ORDER BY 1, 2""".stripMargin,


    "q59_json_props" ->
      """SELECT event_type, count(k)::BIGINT AS n, sum(k)::BIGINT AS sum_k,
        |       min(k)::BIGINT AS min_k, max(k)::BIGINT AS max_k
        |FROM (SELECT event_type, json_extract(props, '$.k')::BIGINT AS k
        |      FROM events)
        |GROUP BY 1
        |ORDER BY 1, 2, 3, 4, 5""".stripMargin,


    "q60_grouping_sets" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |       COALESCE(l_linestatus, 'ALL') AS linestatus,
        |       GROUPING(l_returnflag)::BIGINT AS g_rf,
        |       GROUPING(l_linestatus)::BIGINT AS g_ls,
        |       floor((SUM(l_quantity)) * 100 + 0.5) / 100 AS sum_qty,
        |       COUNT(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin,


    "q34_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |       COALESCE(l_linestatus, 'ALL') AS linestatus,
        |       floor(SUM(l_quantity) * 100 + 0.5) / 100 AS sum_qty,
        |       COUNT(*) AS n
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY 1, 2""".stripMargin,


    "q35_above_avg_orders" ->
      """SELECT o_orderkey, o_custkey,
        |       floor(o_totalprice * 100 + 0.5) / 100 AS o_totalprice
        |FROM orders o
        |WHERE o_totalprice > (SELECT AVG(i.o_totalprice)
        |                      FROM orders i WHERE i.o_custkey = o.o_custkey)
        |ORDER BY 1, 2, 3""".stripMargin,


    // q83: Welford == var_samp analytically; r4 absorbs path noise.
    "q83_welford_variance" ->
      """SELECT event_type, COUNT(*)::BIGINT AS n_events,
        |       floor(avg(value) * 10000 + 0.5) / 10000 AS mean_value,
        |       floor(var_samp(value) * 10000 + 0.5) / 10000 AS var_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,


    // q84: identical lead-window weighting (last observation NULL
    // weight drops out of both sums on both engines).
    "q84_twap" ->
      """WITH base AS (
        |  SELECT l_partkey, l_extendedprice AS price,
        |         epoch(lead(l_shipdate) OVER (
        |             PARTITION BY l_partkey
        |             ORDER BY l_shipdate, l_orderkey, l_linenumber))
        |           - epoch(l_shipdate) AS wt
        |  FROM lineitem)
        |SELECT l_partkey, COUNT(*)::BIGINT AS n_ship,
        |       floor(SUM(price * wt) / SUM(wt) * 100 + 0.5) / 100 AS twap,
        |       floor(avg(price) * 100 + 0.5) / 100 AS plain_avg
        |FROM base GROUP BY 1 HAVING COUNT(*) >= 2 ORDER BY 1""".stripMargin,


    // q94: identical lag pairs and row-normalized probabilities.
    "q94_type_transitions" ->
      """WITH pairs AS (
        |  SELECT prev_type, event_type AS next_type, COUNT(*)::BIGINT AS n
        |  FROM (
        |    SELECT event_type,
        |           lag(event_type) OVER (PARTITION BY user_id
        |             ORDER BY ts, event_id) AS prev_type
        |    FROM events)
        |  WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |totals AS (
        |  SELECT prev_type, SUM(n)::BIGINT AS n_from FROM pairs GROUP BY 1)
        |SELECT p.prev_type, p.next_type, p.n,
        |       floor(p.n::DOUBLE / t.n_from * 10000 + 0.5) / 10000 AS p
        |FROM pairs p JOIN totals t ON p.prev_type = t.prev_type
        |ORDER BY 1, 2""".stripMargin,


    // q93: q62's segmentation, md5 per segment, per-fp source pairs.
    "q93_leakage_matrix" ->
      """WITH base AS (
        |  SELECT source,
        |         list_filter(string_split(lower(text), ' '),
        |                     t -> length(t) > 0) AS toks
        |  FROM documents),
        |fps AS (
        |  SELECT DISTINCT source, fp FROM (
        |    SELECT source,
        |           unnest(list_transform(range((len(toks) + 7) // 8), j ->
        |             md5(array_to_string(
        |               toks[(j*8+1)::INT : (j*8+8)::INT], ' ')))) AS fp
        |    FROM base))
        |SELECT a.source AS source_a, b.source AS source_b,
        |       COUNT(*)::BIGINT AS n_shared_segments
        |FROM fps a JOIN fps b
        |  ON a.fp = b.fp AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,


    // q92: same derivation rules and normalized-md5 admission check.
    "q92_incremental_ingest" ->
      """WITH batch AS (
        |  SELECT doc_id * 4 + 1 AS new_id, text
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id * 4 + 2, text || ' update'
        |  FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id * 4 + 3, reverse(text)
        |  FROM documents WHERE doc_id % 11 = 0),
        |basefp AS (
        |  SELECT DISTINCT
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents)
        |SELECT new_id,
        |       CASE WHEN basefp.fp IS NOT NULL THEN 'duplicate_of_base'
        |            ELSE 'admitted' END AS verdict
        |FROM (SELECT new_id,
        |             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |      FROM batch) b
        |LEFT JOIN basefp ON b.fp = basefp.fp
        |ORDER BY new_id""".stripMargin,


    // q90: same regex counters aggregated per source.
    "q90_pii_density" -> {
      val email = graft.functions.TextFunctions.emailRe
      val phone = graft.functions.TextFunctions.phoneRe
      val ip = graft.functions.TextFunctions.ipRe
      s"""SELECT source, COUNT(*)::BIGINT AS n_docs,
        |       SUM(len(regexp_extract_all(text, '$email')))::BIGINT AS n_emails,
        |       SUM(len(regexp_extract_all(text, '$phone')))::BIGINT AS n_phones,
        |       SUM(len(regexp_extract_all(text, '$ip')))::BIGINT AS n_ips,
        |       floor((SUM(len(regexp_extract_all(text, '$email')))
        |              + SUM(len(regexp_extract_all(text, '$phone')))
        |              + SUM(len(regexp_extract_all(text, '$ip'))))::DOUBLE
        |             * 10000.0 / SUM(n_chars) * 10000 + 0.5) / 10000
        |         AS pii_per_10k_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin
    },


    // q89: exact aggregates; mode via the same (count desc, lang asc)
    // argmax.
    "q89_dataset_card" ->
      """WITH base AS (
        |  SELECT source,
        |         COUNT(*)::BIGINT AS n_docs,
        |         SUM(len(list_filter(string_split(lower(text), ' '),
        |             x -> length(x) > 0)))::BIGINT AS n_tokens,
        |         COUNT(DISTINCT md5(text))::BIGINT AS n_distinct_texts,
        |         SUM(n_chars)::BIGINT AS n_chars
        |  FROM documents GROUP BY 1),
        |langs AS (
        |  SELECT source, lang, COUNT(*)::BIGINT AS n_lang,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY COUNT(*) DESC, lang ASC) AS rk
        |  FROM documents GROUP BY 1, 2)
        |SELECT b.source, n_docs, n_tokens, n_chars,
        |       (n_docs - n_distinct_texts) AS n_dup_docs,
        |       l.lang AS top_lang, l.n_lang AS top_lang_docs
        |FROM base b JOIN langs l ON b.source = l.source AND l.rk = 1
        |ORDER BY 1""".stripMargin,


    // q85: same integer week index and smoothed ratio; ORDER BY the
    // rounded ratio with a total tie-break so the LIMIT cut matches.
    "q85_trending_parts" ->
      """WITH counts AS (
        |  SELECT l_partkey,
        |         CAST(floor(epoch(l_shipdate) / 604800) AS BIGINT) AS week,
        |         COUNT(*)::BIGINT AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |lagged AS (
        |  SELECT l_partkey, week, cnt,
        |         lag(cnt) OVER (PARTITION BY l_partkey ORDER BY week)
        |           AS prev_cnt
        |  FROM counts)
        |SELECT l_partkey, week, cnt, prev_cnt,
        |       floor((cnt + 1)::DOUBLE / (prev_cnt + 1) * 10000 + 0.5)
        |         / 10000 AS ratio
        |FROM lagged WHERE prev_cnt IS NOT NULL
        |ORDER BY ratio DESC, l_partkey ASC, week ASC
        |LIMIT 50""".stripMargin,


    // q97: seeded hash of the anchor id's decimal string, signed pmod.
    "q97_contrastive_pairs" -> OracleHashSql.q97ContrastivePairs(ContrastiveSlots),


    // q148/q149: classic TPC-H Q3/Q10 shapes; top-k membership is
    // deterministic because both engines rank the ROUNDED revenue
    // with an id tiebreak.
    "q148_shipping_priority" ->
      """WITH rev AS (
        |  SELECT l_orderkey,
        |         floor(sum(l_extendedprice * (1.0 - l_discount)) * 100 + 0.5)
        |           / 100 AS revenue,
        |         strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
        |         o_orderpriority
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'
        |    AND l_shipdate >= TIMESTAMP '1998-01-01'
        |  GROUP BY l_orderkey, 3, o_orderpriority)
        |SELECT l_orderkey, revenue, o_orderdate, o_orderpriority
        |FROM rev ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,


    "q149_returned_items" ->
      """SELECT c_custkey, c_name,
        |       floor(sum(l_extendedprice * (1.0 - l_discount)) * 100 + 0.5)
        |         / 100 AS revenue,
        |       floor(c_acctbal * 100 + 0.5) / 100 AS acctbal, n_name
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
  )
}
