package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Record linkage (entity resolution) between two tables that describe
  * the same real-world entities under different keys — the classic
  * data-integration step a corpus pipeline runs before dedup can even
  * start (link crawl records to registry records, user rows to account
  * rows).
  *
  * The scalable shape is the same one every serious ER system
  * (Dedoop/Magellan-style) uses:
  *
  *   1. MULTI-BLOCKING — generate candidate pairs only inside small
  *      blocks, under SEVERAL independent blocking keys so a single
  *      noisy attribute can't hide a true match. Each blocking pass is
  *      one shuffle on its key; pair generation is a per-block
  *      self/cross join bounded by the block-size cap (skew guard — a
  *      degenerate key like nationkey=NULL can't go quadratic).
  *   2. CANDIDATE DEDUP — a pair found by two blocking passes must be
  *      scored once; `distinct` on the pair key (one shuffle on the
  *      pair id, which is unique, hence perfectly spread).
  *   3. SCORING — cheap per-pair features (token-set jaccard, numeric
  *      proximity) combined linearly; all row-local arithmetic, stays
  *      inside WholeStageCodegen.
  *   4. ONE-BEST ASSIGNMENT — per left entity keep the argmax-score
  *      candidate (deterministic tie-break), a bounded window per
  *      left key.
  *
  * Nothing here is all-pairs: the only joins are block-keyed and
  * pair-keyed, so at 100 TB the cost is Σ_blocks |L_b|·|R_b| with
  * |block| capped, exactly like the LSH dedup family (Dedup.scala).
  *
  * Reference scope note: the reference (kafka-streams-homework) has no
  * linkage operator; this belongs to the LLM-pipeline mandate
  * (SURVEY.md §2.11 extensions).
  */
object EntityResolution {

  private[graft] val MaxBlockSize = 10000 // per-side block cap of each blocking pass (q121 oracle too)

  /** Link each customer to its best-matching supplier.
    *
    * Blocking keys: (a) nationkey — the natural domain block; (b) the
    * last two digits of the entity's numeric name id — a cheap
    * "same-suffix" key that rescues matches whose nationkey is dirty.
    * Score = 0.7 · jaccard(digit trigrams of the name ids)
    *       + 0.3 · 1/(1+|Δacctbal|).
    *
    * Output: one row per customer that had any candidate —
    * (c_custkey, s_suppkey, score, n_cands).
    */
  def linkCustomersToSuppliers(
      customer: DataFrame,
      supplier: DataFrame): DataFrame = {

    // Trigram sets are computed HERE, once per entity — not after the
    // pair join, where the same set would be rebuilt once per
    // candidate (|pairs| ≫ |entities|; measured 2× on the q121 bench).
    def trigrams(c: org.apache.spark.sql.Column) =
      array_distinct(transform(
        sequence(lit(1), greatest(length(c) - 2, lit(1))),
        i => c.substr(i, lit(3))))

    val left = customer.select(
      col("c_custkey"),
      col("c_nationkey").cast("long").as("l_nation"),
      regexp_extract(col("c_name"), "([0-9]+)", 1).as("l_digits"),
      col("c_acctbal").as("l_bal"))
      .withColumn("l_tg", trigrams(col("l_digits")))
      // a name with NO digits extracts "" whose trigram set is [""]:
      // jaccard 1.0 against every other digitless record, plus one
      // degenerate shared suffix block — records without digit
      // evidence are excluded from this digit-keyed linker entirely
      // (TPC-H names always carry digits, so this is a domain guard)
      .filter(length(col("l_digits")) > 0)
    // NOTE (r17, measured): r16 eagerly localCheckpoint'ed both sides
    // (each feeds two blocking passes + the scoring join). A/B per the
    // r16 verdict says the materialization never pays: REVERTED.
    //   sf0.1: no-checkpoint 1.86 s vs checkpointed 2.12 s (1.14×);
    //   10× (localdata/sf1): 58.2 s vs 59.1 s (flat) —
    // the recomputed regexp+trigram projection is cheaper than
    // serializing the entity frames to block storage at both scales,
    // and the checkpointed 10× run additionally showed GC
    // allocation-retry pressure. (/tmp/r17/q121_{ck,nock}_{sf01,sf1},
    // 2026-08-19.)
    val right = supplier.select(
      col("s_suppkey"),
      col("s_nationkey").cast("long").as("r_nation"),
      regexp_extract(col("s_name"), "([0-9]+)", 1).as("r_digits"),
      col("s_acctbal").as("r_bal"))
      .withColumn("r_tg", trigrams(col("r_digits")))
      .filter(length(col("r_digits")) > 0)

    // One blocking pass: equi-join left and right on blockCol, with a
    // per-side block-size cap (skew guard) applied BEFORE the join so a
    // hot block is dropped, not exploded.
    def pass(lk: DataFrame => DataFrame, rk: DataFrame => DataFrame,
        l: DataFrame, r: DataFrame): DataFrame = {
      val lb = lk(l)
      val rb = rk(r)
      val lCapped = lb.withColumn("bn",
          count(lit(1)).over(Window.partitionBy(col("bkey"))))
        .filter(col("bn") <= MaxBlockSize).drop("bn")
      val rCapped = rb.withColumn("bn",
          count(lit(1)).over(Window.partitionBy(col("bkey"))))
        .filter(col("bn") <= MaxBlockSize).drop("bn")
      lCapped.join(rCapped, "bkey")
        .select(col("c_custkey"), col("s_suppkey"))
    }

    val byNation = pass(
      _.withColumn("bkey", concat(lit("n"), col("l_nation"))),
      _.withColumn("bkey", concat(lit("n"), col("r_nation"))),
      left, right)
    val bySuffix = pass(
      _.withColumn("bkey", concat(lit("s"), substring(col("l_digits"), -2, 2))),
      _.withColumn("bkey", concat(lit("s"), substring(col("r_digits"), -2, 2))),
      left, right)

    // Candidate dedup: a pair surfaced by both passes scores once.
    val cands = byNation.union(bySuffix).distinct()

    // Scoring — digit-trigram jaccard + balance proximity. Trigram sets
    // are tiny (|digits| − 2 elements), so the set ops are row-local.
    val scored = cands
      .join(left, "c_custkey")
      .join(right, "s_suppkey")
      .withColumn("inter",
        size(array_intersect(col("l_tg"), col("r_tg"))).cast("double"))
      .withColumn("uni",
        (size(col("l_tg")) + size(col("r_tg"))).cast("double") - col("inter"))
      .withColumn("jac",
        when(col("uni") > 0, col("inter") / col("uni")).otherwise(lit(0.0)))
      .withColumn("balscore", lit(1.0) / (lit(1.0) + abs(col("l_bal") - col("r_bal"))))
      .withColumn("score", lit(0.7) * col("jac") + lit(0.3) * col("balscore"))

    // One-best assignment per customer; n_cands documents how much work
    // blocking admitted (the knob you watch at scale).
    val w = Window.partitionBy(col("c_custkey"))
    val rankW = w.orderBy(col("score").desc, col("s_suppkey").asc)
    scored
      .withColumn("n_cands", count(lit(1)).over(w))
      .withColumn("rk", row_number().over(rankW))
      .filter(col("rk") === 1)
      .select(col("c_custkey"), col("s_suppkey"),
        (floor(col("score") * 1000000 + lit(0.5)) / 1000000).as("score"),
        col("n_cands"))
  }

  /** Golden-record consolidation (q146) — the step AFTER linkage:
    * collapse every group of duplicate records into one canonical
    * ("golden") row with field-level SURVIVORSHIP rules. The fixture
    * has no organic duplicates, so deterministic dirty variants are
    * injected first (lowercased name / rewritten prefix + perturbed
    * balance, keyed on custkey mod — the same oracle-mirrored
    * injection idea as q144's PII):
    *
    *   1. deterministic blocking: records pair iff they share
    *      (name-digit string, nationkey) — an equality join, so the
    *      cluster graph is integer-exact;
    *   2. clusters via the pointer-jumping CC ([[GraphOps
    *      .connectedComponents]]); unlinked records stay singleton
    *      clusters under their own id (the q136 fallback);
    *   3. survivorship, all mergeable aggregates: canonical id =
    *      min rec_id, name from the min-rec_id member (`min_by`),
    *      balance = max, segment = most frequent with ties to the
    *      LEXICOGRAPHICALLY LAST (a struct-max argmax — window-free,
    *      same trick as q138's label pick).
    *
    * Scale: one equality-blocked self-join, the audited CC loop, two
    * cluster-keyed aggregates. Nothing touches the record scale twice.
    */
  def goldenRecords(customer: DataFrame): DataFrame = {
    // variant rec_ids are STRUCTURALLY disjoint from real ids:
    // rec_id = custkey·4 + variant(0/1/2). The pre-r12 additive
    // offsets (+1M/+2M) collided with real custkeys once the table
    // passed 1M keys (TPC-H SF ≥ 7: custkey 1000007 vs variant-1 of
    // custkey 7), silently fusing unrelated entities; multiplication
    // cannot collide at any SF below long overflow (custkey < 2^61).
    // The oracle mirrors the same scheme term for term.
    val base = customer.select(
      (col("c_custkey") * lit(4L)).cast("long").as("rec_id"),
      col("c_name").as("name"),
      col("c_nationkey").cast("long").as("nation"),
      col("c_acctbal").as("bal"),
      col("c_mktsegment").as("seg"))
    val v1 = customer.filter(pmod(col("c_custkey"), lit(7)) === 0)
      .select((col("c_custkey") * lit(4L) + lit(1L)).cast("long").as("rec_id"),
        lower(col("c_name")).as("name"),
        col("c_nationkey").cast("long").as("nation"),
        (col("c_acctbal") + lit(0.17)).as("bal"),
        col("c_mktsegment").as("seg"))
    val v2 = customer.filter(pmod(col("c_custkey"), lit(11)) === 0)
      .select((col("c_custkey") * lit(4L) + lit(2L)).cast("long").as("rec_id"),
        concat(lit("CUST#"),
          regexp_extract(col("c_name"), "([0-9]+)", 1)).as("name"),
        col("c_nationkey").cast("long").as("nation"),
        (col("c_acctbal") - lit(5.25)).as("bal"),
        lit("UNKNOWN").as("seg"))
    // keyed feeds both pair-join sides and the member join —
    // materialize the 3-way variant union + regexp once (r16)
    val keyed = base.unionByName(v1).unionByName(v2)
      .withColumn("digits", regexp_extract(col("name"), "([0-9]+)", 1))
      .localCheckpoint(true)
    val l = keyed.select(col("digits"), col("nation"), col("rec_id").as("doc_a"))
    val r = keyed.select(col("digits"), col("nation"), col("rec_id").as("doc_b"))
    val pairs = l.join(r, Seq("digits", "nation"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
    val clusters = GraphOps.connectedComponents(pairs)
      .select(col("doc_id").as("rec_id"), col("cluster_id"))
    // members feeds the survivorship aggregate AND the segment argmax —
    // materialize the cluster join once (r16)
    val members = keyed.join(clusters, Seq("rec_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("rec_id")))
      .localCheckpoint(true)
    val golden = members.groupBy(col("cluster_id"))
      .agg(min(col("rec_id")).as("golden_id"),
        min_by(col("name"), col("rec_id")).as("name"),
        max(col("bal")).as("best_bal"),
        count(lit(1)).as("n_members"))
    val segPick = members.groupBy(col("cluster_id"), col("seg"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("c"), col("seg"))).as("top"))
      .select(col("cluster_id"), col("top.seg").as("seg"))
    golden.join(segPick, Seq("cluster_id"))
      .select(col("golden_id"), col("name"), col("best_bal"),
        col("seg"), col("n_members"))
  }
}
