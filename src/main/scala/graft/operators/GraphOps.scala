package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed graph primitives for the dedup pipeline — the step AFTER
  * pair generation: near-dup pairs (q17/q36/q37) form an undirected
  * graph, and keeping one canonical document per connected component is
  * what actually shrinks the corpus (pairwise survivors alone
  * over-delete: A~B and B~C must collapse to ONE survivor even when
  * A~C was never emitted).
  *
  * Algorithm: min-label propagation WITH pointer jumping — each round
  * every vertex (1) adopts the minimum label among itself and its
  * neighbors, then (2) path-halves by adopting its label's label
  * (l(v) ← l(l(v)); labels are always vertex ids and only decrease, so
  * the jump is well-defined and monotone). Propagation alone needs
  * `diameter(component)` rounds; the jump halves label-chain depth
  * every round, giving O(log n) rounds on adversarial long-chain
  * graphs — the same asymptotics as the star-contraction of Kiveris
  * et al. ("Connected Components in MapReduce and Beyond", SoCC'14),
  * with a simpler per-round dataflow (two joins + a groupBy-min).
  *
  * Scale posture: state per round is one (vertex, label) row per vertex
  * and the edge list — both spill-able, nothing driver-side but the
  * converged? flag (a count). Each round's labels are materialized with
  * an eager localCheckpoint: without lineage truncation the logical
  * plan doubles per round (labels feeds both the join and the union)
  * and planning itself goes exponential — the classic iterative-Spark
  * trap; on a cluster with an HDFS checkpoint dir, `checkpoint()` is
  * the fault-tolerant drop-in. Peak footprint is two label generations
  * regardless of round count (the previous round is unpersisted).
  *
  * Every iterative operator here (CC, PageRank and its personalized
  * form, kCore, coreNumbers, LPA, HITS) runs through one loop skeleton,
  * [[iterate]], which owns that checkpoint lifecycle.
  */
object GraphOps {

  /** Damping factor of [[pageRank]] and [[personalizedPageRank]]; the
    * q61/q134 oracles (OracleHashSql) unroll this same constant.
    */
  private[graft] val Damping = 0.85

  /** Round cap of [[connectedComponents]]: pointer jumping converges in
    * O(log n) rounds, so the cap only bounds a defect, never a graph.
    */
  private val CcMaxRounds = 50

  /** Eager lineage-truncating checkpoint for loop frames, with the
    * checkpoint's copied statistics replaced by the MEASURED block
    * size ([[org.apache.spark.sql.classic.GraftPlanBridge.dropCheckpointStats]]):
    * localCheckpoint copies the optimized plan's size ESTIMATE onto
    * the LogicalRDD, and in a loop the estimates multiply round over
    * round (join estimation is a product of child sizes) until the
    * driver stalls in BigInteger arithmetic around round ~15. The
    * measured size is bounded (no compounding) and better than any
    * estimate — a small rank/label frame keeps its in-loop broadcast
    * (plan-verified: eOutd ⋈ pr builds the pr side, so the big edge
    * frame never re-shuffles per round).
    */
  private def loopCheckpoint(df: DataFrame): DataFrame =
    org.apache.spark.sql.classic.GraftPlanBridge
      .dropCheckpointStats(df.localCheckpoint(true))

  /** Frees a loopCheckpoint'd frame's materialized blocks.
    * `Dataset.unpersist()` is a CacheManager call and a SILENT NO-OP
    * for RDD-level checkpoints — without this, every round's
    * MEMORY_AND_DISK generation lingers until the driver GCs the
    * Dataset and the ContextCleaner reaps the RDD, so a long loop's
    * storage grows with round count. Call only once every dependent
    * plan is materialized. Only [[iterate]] and [[triangleCount]] call
    * it (SourceLintSpec pins the count), so no loop hand-rolls its own
    * freeing.
    */
  private def loopUnpersist(df: DataFrame): Unit =
    org.apache.spark.sql.classic.GraftPlanBridge.unpersistCheckpoint(df)

  /** One round of an [[iterate]] loop: the generation it reads, the
    * frames the previous round [[carry]]'d next to it, and the witness
    * values observed while that generation was materialized (a NULL
    * value means the aggregate saw no rows).
    */
  private final class Round(val gen: DataFrame, val carried: Seq[DataFrame],
                            val seen: Map[String, Any]) {
    private[GraphOps] val scratch, carries = ArrayBuffer.empty[DataFrame]

    /** Checkpoints a frame this round reads more than once; it is freed
      * as soon as the round's output generation is materialized.
      */
    def checkpoint(df: DataFrame): DataFrame = {
      val c = loopCheckpoint(df); scratch += c; c
    }

    /** Checkpoints a frame that belongs to the NEXT generation beside
      * the step's output: the next round reads it as `carried`, and it
      * is freed with that generation.
      */
    def carry(df: DataFrame): DataFrame = {
      val c = loopCheckpoint(df); carries += c; c
    }
  }

  /** What [[iterate]] returns: the output frame, the rounds run, and
    * whether `done` ended the loop (rather than the round cap).
    */
  private final case class Loop(out: DataFrame, rounds: Int, converged: Boolean) {
    /** `require(ok, msg)` that first frees [[out]]: a caller that throws
      * builds no result over the output, so nothing else would free it.
      */
    def check(ok: Boolean, msg: => String): Unit =
      if (!ok) { loopUnpersist(out); require(ok, msg) }
  }

  /** The loop skeleton of every iterative operator in this file.
    * Generation 0 is `init`; each round builds the next generation from
    * the current one with `step`. The skeleton owns the lifecycle:
    *  - Each generation is materialized by one eager [[loopCheckpoint]],
    *    and the `witness` aggregates (a convergence witness such as a
    *    changed-count, Σest or max-delta, and/or PageRank's dangling
    *    mass) are evaluated DURING that pass via `observe()` (r17):
    *    CollectMetrics is a partitioning-preserving pass-through, so the
    *    scalars arrive with no extra action, no extra vertex-scale pass
    *    and no extra driver round trip per round. Exactness: counts,
    *    maxes and decimal sums are order-insensitive; a double sum has
    *    the same summands with a possibly different merge grouping (the
    *    caveat any repartitioned float aggregate carries). Generation 0
    *    is observed too, so it carries every column a witness reads.
    *  - Generation N, what it carried, and round N's scratch checkpoints
    *    are freed as soon as generation N+1 is materialized, so the peak
    *    footprint is two generations whatever the round count.
    *  - The loop ends after `maxRounds` rounds, or earlier once
    *    `done(witnesses of generation N, witnesses of N+1)` holds.
    *  - At exit the loop-invariant `setup` frames are freed. The output
    *    is the last generation, kept materialized for the lazy result
    *    the caller builds over it; with `finish`, the output is instead
    *    `finish(last round)`, materialized, and the last generation is
    *    freed too.
    */
  private def iterate(init: DataFrame, maxRounds: Int,
      setup: Seq[DataFrame] = Nil, witness: Seq[Column] = Nil,
      done: (Map[String, Any], Map[String, Any]) => Boolean = (_, _) => false,
      finish: Option[Round => DataFrame] = None)(
      step: Round => DataFrame): Loop = {
    def materialize(df: DataFrame, carried: Seq[DataFrame]): Round =
      if (witness.isEmpty) new Round(loopCheckpoint(df), carried, Map.empty)
      else {
        val obs = Observation()
        val gen = loopCheckpoint(df.observe(obs, witness.head, witness.tail: _*))
        new Round(gen, carried, obs.get)
      }
    var cur = materialize(init, Nil)
    var rounds = 0
    var converged = false
    while (rounds < maxRounds && !converged) {
      val next = materialize(step(cur), cur.carries.toSeq)
      (cur.scratch ++ cur.carried :+ cur.gen).foreach(loopUnpersist)
      converged = done(cur.seen, next.seen)
      cur = next
      rounds += 1
    }
    val out = finish.fold(cur.gen) { f =>
      val o = loopCheckpoint(f(cur))
      (cur.carried :+ cur.gen).foreach(loopUnpersist)
      o
    }
    setup.foreach(loopUnpersist)
    Loop(out, rounds, converged)
  }

  /** Connected components of the undirected graph given by `pairs`
    * (columns `doc_a`, `doc_b`; each undirected edge once). Returns one
    * row per vertex that appears in an edge: (doc_id, cluster_id) with
    * cluster_id = the component's minimum vertex id. Deterministic:
    * min-label is order- and partitioning-independent.
    */
  def connectedComponents(pairs: DataFrame): DataFrame =
    ccWithStats(pairs)._1

  /** As [[connectedComponents]], also returning the round count — the
    * O(log n) convergence claim is spec-asserted through this.
    */
  private[graft] def ccWithStats(pairs: DataFrame): (DataFrame, Int) = {
    // materialized once; every round re-reads the cached edge list
    // (loopCheckpoint: measured stats — the estimate here is already a
    // multi-join product and every round's plan consumes it)
    // edges dst-partitioned and labels v-partitioned ONCE (the q137
    // anatomy): with labels broadcast into the offer join, the
    // groupBy(dst) min runs on edges' partitioning, and the offers
    // come out v-partitioned — so the propagate join, the (broadcast)
    // pointer jump, and the change count all co-locate on v, and the
    // round's checkpointed output carries the v-partitioning into the
    // next round. Zero per-round exchanges in the broadcast regime.
    // (r13, measured: NEUTRAL at sf0.1 — the dedup fixtures' CC loops
    // run over pair graphs far smaller than the minhash stage that
    // feeds them, so the battery numbers don't move; kept because the
    // one-time exchange costs nothing locally and each round it
    // removes is edge-scale at 100 TB, where the label-offer grain
    // (v, min label) partial-aggregates poorly on an unclustered
    // edge frame.)
    val edges = loopCheckpoint(pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .repartition(col("dst")))
    // every generation carries its round-start label as `old_label`, so
    // the convergence test is a count over the already-materialized
    // frame instead of a vertex-scale join of two label generations
    // (r16: one fewer per-round pass at every scale; labels only
    // decrease, so `label < old_label` is exactly "changed"). The
    // changed-count is observed during the checkpoint's own pass (r17).
    val loop = iterate(
      edges.select(col("src").as("v")).distinct()
        .select(col("v"), col("v").as("label"), col("v").as("old_label"))
        .repartition(col("v")),
      CcMaxRounds, setup = Seq(edges),
      witness = Seq(count(when(col("label") < col("old_label"), 1)).as("changed")),
      done = (_, next) => next("changed") == 0L) { r =>
      // each neighbor offers its current label; a vertex keeps the min
      // of its own label and the best offer. Formulated as
      // aggregate-then-least (NOT union+groupBy: checkpointing an
      // Aggregate-over-Union trips Catalyst's union constraint rewrite
      // with a missing-attribute error in LogicalRDD.fromDataset).
      val offers = edges
        .join(r.gen.select(col("v").as("src"), col("label")), "src")
        .groupBy(col("dst").as("v"))
        .agg(min(col("label")).as("offer"))
      val propagated = r.checkpoint(
        r.gen.join(offers, Seq("v"), "left")
          .select(col("v"),
            least(col("label"), coalesce(col("offer"), col("label"))).as("label"),
            col("label").as("old_label")))
      // pointer jump (path halving): l(v) <- l(l(v)). Labels are vertex
      // ids with l(w) <= w, so the self-join resolves and only lowers.
      propagated.as("a")
        .join(propagated.select(col("v").as("lv"), col("label").as("ll")).as("b"),
          col("a.label") === col("b.lv"), "left")
        .select(col("a.v").as("v"),
          coalesce(col("b.ll"), col("a.label")).as("label"),
          col("a.old_label").as("old_label"))
    }
    (loop.out.select(col("v").as("doc_id"), col("label").as("cluster_id")), loop.rounds)
  }

  /** Near-dup clusters with sizes: connected components of the pair
    * graph plus the component population (window count — rides the
    * cluster_id sort the output wants anyway).
    */
  def dedupClusters(pairs: DataFrame): DataFrame =
    connectedComponents(pairs)
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))

  /** Exact triangle count of the undirected graph given by `edges`
    * (columns `a`, `b`; duplicates/self-loops/direction tolerated —
    * canonicalized here). Returns one row:
    * (n_vertices, n_edges, n_triangles).
    *
    * Orientation trick: count each triangle once by orienting every
    * edge from its (degree, id)-smaller endpoint to the larger and
    * joining wedge (u→v, u→w) with the closing oriented edge (v→w).
    * Degree-ordering bounds every out-neighborhood at O(√m) even on
    * power-law graphs — the skew-killer that makes the wedge join
    * feasible at 100 TB (id-ordering would give a celebrity vertex a
    * quadratic wedge fan-out). The total count is invariant under ANY
    * acyclic orientation, so the DuckDB oracle may use plain
    * id-ordering and still match exactly.
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    // canon feeds deg, both orientation joins, and the n_edges scalar;
    // oriented feeds three join legs (e1/e2/e3). Checkpoint each once —
    // without it the tokenize/distinct/degree-join lineage re-executes
    // for every reference (the same multi-reference discipline as the
    // loops; this is the file's most expensive one-shot operator)
    val canon = loopCheckpoint(edges
      .select(least(col("a"), col("b")).as("x"),
        greatest(col("a"), col("b")).as("y"))
      .filter(col("x") =!= col("y"))
      .distinct())
    // deg feeds the dx join, the dy join, and the n_vertices scalar —
    // checkpoint once (r16) so the union+groupBy degree pass runs a
    // single time and the planner sees its measured (vertex-scale,
    // small) size for the orientation joins
    val deg = loopCheckpoint(canon.select(col("x").as("v"))
      .union(canon.select(col("y").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d")))
    // orient each edge from (deg, id)-smaller to larger endpoint,
    // carrying the destination's rank for the wedge ordering below
    val withDeg = canon
      .join(deg.withColumnRenamed("v", "x").withColumnRenamed("d", "dx"), "x")
      .join(deg.withColumnRenamed("v", "y").withColumnRenamed("d", "dy"), "y")
    val oriented = loopCheckpoint(withDeg.select(
      when(struct(col("dx"), col("x")) < struct(col("dy"), col("y")),
        struct(col("x").as("src"), col("y").as("dst"),
          struct(col("dy").as("d"), col("y").as("v")).as("dstRank")))
        .otherwise(
          struct(col("y").as("src"), col("x").as("dst"),
            struct(col("dx").as("d"), col("x").as("v")).as("dstRank")))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.dstRank").as("dstRank")))
    val tri = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") &&
          col("e1.dstRank") < col("e2.dstRank"))
      .select(col("e1.dst").as("v"), col("e2.dst").as("w"))
      .join(oriented.as("e3"),
        col("v") === col("e3.src") && col("w") === col("e3.dst"),
        "left_semi")
    // materialize the 1-row summary, then free both checkpoints
    val out = loopCheckpoint(
      deg.agg(count(lit(1)).as("n_vertices"))
        .crossJoin(broadcast(canon.agg(count(lit(1)).as("n_edges"))))
        .crossJoin(broadcast(tri.agg(count(lit(1)).as("n_triangles")))))
    loopUnpersist(canon); loopUnpersist(oriented); loopUnpersist(deg)
    out
  }
  /** PageRank over the directed graph `edges` (columns `src`, `dst`;
    * duplicates are collapsed — simple-graph semantics). Returns (v, pr)
    * for every vertex incident to an edge.
    *
    * pr_{t+1}(v) = (1-d)/N + d·(Σ_{u→v} pr_t(u)/outdeg(u) + D_t/N)
    * where D_t is the total mass on dangling vertices (no out-edges),
    * redistributed uniformly — the standard teleport formulation, so
    * Σ pr = 1 is invariant at every step (spec-asserted). d = 0.85.
    *
    * `iters` is the ROUND CAP. With `relTol = 0` (the default) the loop
    * runs exactly `iters` rounds, so the result is a pure function of
    * the edge set — the oracle-pinned configuration (q61's DuckDB twin
    * unrolls a fixed iteration count) and reproducible corpus-quality
    * weights (the LLM-pipeline use: rank documents by link authority
    * before mixture sampling).
    *
    * `relTol > 0` is the production early exit. It thresholds the
    * NORMALIZED rank `n·pr` (uniform ≡ 1.0): the loop stops once
    * `max_v |pr_t(v) − pr_{t−1}(v)| < relTol / n`. The normalization is
    * what makes it scale-invariant: ranks sum to 1, so `max_v |Δpr|`
    * shrinks ~1/n as the graph grows, and an absolute threshold
    * degenerates with scale — the r15 scaling curve measured an
    * absolute 3e-4 exiting at round 6 on the sf0.1 graph (~16 k nodes)
    * and round 1 on the 10× graph, while relTol = 4.8 exits at round 6
    * at both SFs. The max-delta rides the step's own checkpoint pass.
    * Error bound: per-round updates contract by d, so on exit n·pr is
    * within ~relTol·d/(1−d) (≈ 5.7·relTol) of the fixed point — the
    * property spec asserts this against a run-to-the-cap reference.
    *
    * Scale posture: per round, one shuffle for the contribution
    * groupBy(dst) and one join back to the vertex list — both keyed,
    * both spill-able; the dangling mass is a 1-row aggregate OBSERVED
    * during the previous round's checkpoint materialization and folded
    * into the update as a literal. Driver-side state is that scalar plus
    * the one-time vertex count N.
    */
  def pageRank(edges: DataFrame, iters: Int = 10, relTol: Double = 0.0): DataFrame =
    pageRankWithStats(edges, iters, relTol)._1

  /** As [[pageRank]], also returning the rounds run — the relTol
    * stopping rule is spec-asserted through this.
    */
  private[graft] def pageRankWithStats(edges: DataFrame, iters: Int,
                                       relTol: Double): (DataFrame, Int) = {
    val loop = rankWalk(edges, iters) { nodes =>
      val n = nodes.count().toDouble
      Restart(init = lit(1.0 / n), teleport = lit((1 - Damping) / n),
        dangling = d => lit(d) / n, thresh = if (relTol > 0.0) relTol / n else 0.0)
    }
    if (relTol > 0.0)
      // the stopping rule is the whole point of relTol mode, and a
      // one-round shift is invisible in wall time alone (r14's 1.31×
      // q61_pagerank_tol reading could not distinguish "the exit now
      // fires a round later" from host noise)
      System.err.println(s"[graft] pageRank relTol=$relTol exited after " +
        s"${loop.rounds} rounds (converged=${loop.converged})")
    (loop.out.select(col("v"), col("pr")), loop.rounds)
  }

  /** Personalized PageRank (q134): PageRank where BOTH the teleport
    * mass (1−d) and the recycled dangling mass return only to the
    * `seeds` set (uniformly), not to all vertices — the random walk
    * restarts at the seeds, so ranks measure proximity TO the seeds
    * (the recommender / related-entities primitive; Haveliwala 2002).
    * Init puts all mass on the seeds. The same fixed-round walk as
    * [[pageRank]] (the oracle unrolls the rounds; every float op
    * mirrored term for term). Seeds are a bounded literal list — the
    * standard usage is a handful of query entities.
    */
  def personalizedPageRank(edges: DataFrame, seeds: Seq[Long],
                           iters: Int = 10): DataFrame = {
    require(seeds.nonEmpty, "personalized PageRank needs >= 1 seed")
    require(seeds.distinct.size == seeds.size,
      "personalized PageRank: duplicate seed ids — each duplicate would " +
        "silently scale the seed's share of the teleport mass")
    val isSeed = col("v").isin(seeds: _*)
    val nS = seeds.size.toDouble
    def onSeeds(c: Column): Column = when(isSeed, c).otherwise(lit(0.0))
    rankWalk(edges, iters) { nodes =>
      // a seed absent from the vertex set would silently LEAK its 1/|S|
      // share of the teleport mass every round (rank mass sums < 1 with
      // no error, breaking pageRank's inherited sum-pr=1 contract) —
      // fail loudly instead; one tiny count over the checkpointed frame
      val present = nodes.filter(isSeed).count()
      require(present == seeds.size,
        s"personalized PageRank: ${seeds.size - present} seed id(s) not in " +
          "the graph — off-graph seeds would silently leak teleport mass")
      Restart(init = onSeeds(lit(1.0 / nS)),
        teleport = onSeeds(lit((1 - Damping) / nS)),
        dangling = d => onSeeds(lit(d) / nS), thresh = 0.0)
    }.out.select(col("v"), col("pr"))
  }

  /** Where a PageRank walk restarts, as the per-vertex Column terms of
    * its update — built by each caller so each query keeps its exact
    * float ops (the q61/q134 oracles unroll them): `init` is round 0's
    * rank, `teleport` the (1−d) share, `dangling(D)` the share of the
    * observed dangling mass D, and `thresh` the early exit on
    * max|Δpr| (0 runs every round).
    */
  private final case class Restart(init: Column, teleport: Column,
                                   dangling: Double => Column, thresh: Double)

  /** The PageRank body behind [[pageRank]] and [[personalizedPageRank]]:
    * pr' = teleport + d·(contrib + dangling(D)), with `restartAt` given
    * the checkpointed vertex frame (v, isd) to size its terms.
    */
  private def rankWalk(edges: DataFrame, iters: Int)(
      restartAt: DataFrame => Restart): Loop = {
    val e = loopCheckpoint(edges.select(col("src"), col("dst")).distinct())
    // nodes is v-partitioned and eOutd dst-partitioned ONCE (the q137
    // anatomy): with pr broadcast into the contribution join,
    // groupBy(dst) runs on eOutd's partitioning; the nodes ⋈ contrib
    // update then co-locates on v — a round runs with zero exchanges
    // instead of two. The dangling-vertex SET is folded into `nodes`
    // as a boolean `isd` (r16): the per-round dangling-mass term
    // becomes a filter+aggregate over the round's own checkpointed pr
    // frame instead of a vertex-scale semi-join against a second
    // materialized frame — one fewer pass per round at every scale,
    // one fewer setup checkpoint, identical summands (same rows, same
    // doubles) so the oracle mirror is untouched.
    val outDeg = loopCheckpoint(e.groupBy("src").agg(count(lit(1)).as("outd")))
    val nodes = loopCheckpoint(e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v")))
      .distinct()
      .repartition(col("v"))
      .join(outDeg.select(col("src").as("v"), lit(true).as("has_out")),
        Seq("v"), "left")
      .select(col("v"), col("has_out").isNull.as("isd")))
    val restart = restartAt(nodes)
    // loop-invariant prework, hoisted: edges pre-joined with out-degree
    // (saves one join per iteration)
    val eOutd = loopCheckpoint(e.join(outDeg, "src")
      .select(col("src"), col("dst"), col("outd"))
      .repartition(col("dst")))
    // the early exit carries the previous rank through the step so the
    // max-delta is an aggregate over the checkpointed frame (no extra
    // re-join of the big sides); generation 0 carries its own rank
    val early = restart.thresh > 0.0
    // sum(when(isd, pr)) has the same summands as a filter(isd) sum; max
    // is order-exact. NULL (no dangling vertices / empty graph) reads as
    // 0.0 / converged.
    def scalar(seen: Map[String, Any], name: String): Double =
      Option(seen(name)).map(_.asInstanceOf[Double]).getOrElse(0.0)
    val init = nodes.select(col("v"), col("isd"), restart.init.as("pr"))
    iterate(if (early) init.withColumn("pr_prev", col("pr")) else init, iters,
      setup = Seq(e, outDeg, nodes, eOutd),
      witness = sum(when(col("isd"), col("pr"))).as("dang") +:
        (if (early) Seq(max(abs(col("pr") - col("pr_prev"))).as("delta")) else Nil),
      done = (_, next) => early && scalar(next, "delta") < restart.thresh) { r =>
      val contrib = eOutd
        .join(r.gen.select(col("v").as("src"), col("pr")), "src")
        .groupBy(col("dst").as("v"))
        .agg(sum(col("pr") / col("outd")).as("contrib"))
      val next = nodes.join(contrib, Seq("v"), "left")
        .select(col("v"), col("isd"),
          (restart.teleport + lit(Damping) *
            (coalesce(col("contrib"), lit(0.0)) + restart.dangling(scalar(r.seen, "dang"))))
            .as("pr"))
      if (early) next.join(r.gen.select(col("v"), col("pr").as("pr_prev")), Seq("v"))
      else next
    }
  }


  /** k-core decomposition by iterative peeling (q130): repeatedly drop
    * vertices whose CURRENT degree is < k together with their incident
    * edges, until the fixed point — the maximal subgraph where every
    * vertex keeps ≥ k neighbors (the standard graph-density filter
    * before community detection / spam analysis). Runs a FIXED
    * `rounds` count (oracle-pinned, like q61's fixed-iteration
    * PageRank): once converged, further rounds are provable no-ops
    * (the edge set is unchanged, so degrees are unchanged), so any
    * rounds ≥ the cascade depth yields the true k-core. Returns the
    * surviving vertices with their core degree; a cascade deeper than
    * `rounds` fails loudly.
    *
    * Scale: each round is one vertex-keyed degree aggregation + two
    * vertex-keyed semi joins over the shrinking edge set;
    * loopCheckpoint truncates lineage (and drops the stats-estimate
    * blowup) per round, the same loop hygiene as PageRank/CC. Peeling
    * parallelizes trivially — no per-vertex ordering is needed, unlike
    * exact coreness numbering.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val loop = iterate(edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct(), rounds) { r =>
      // keep feeds BOTH semi-join legs: checkpoint it once per round
      // (r17) so the union+groupBy degree pass — a full scan of the
      // surviving edge frame — runs once, not twice (the same
      // multi-consumer discipline as triangleCount's `deg`), and the
      // planner sees its measured vertex-scale size for the semi joins
      val keep = r.checkpoint(
        r.gen.select(col("a").as("v")).union(r.gen.select(col("b").as("v")))
          .groupBy("v").agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k)
          .select("v"))
      r.gen
        .join(keep.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
    }
    val core = loop.out
    val deg = core.select(col("a").as("v")).union(core.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).cast("long").as("deg"))
    // a deeper-than-`rounds` cascade would silently return sub-k
    // vertices and break the "maximal subgraph with min degree k"
    // contract; one cheap aggregate makes the truncation loud. The
    // check rides the checkpointed edge frame, not a recompute.
    val below = deg.filter(col("deg") < k).count()
    loop.check(below == 0L,
      s"kCore(k=$k) did not converge in $rounds rounds: $below vertices " +
        s"below degree $k remain — raise `rounds` (cascade is deeper)")
    deg
  }

  /** Exact core-NUMBER decomposition (q137) — the full coreness per
    * vertex that [[kCore]]'s single-k membership filter only bounds —
    * via the h-index iteration (Montresor, De Pellegrini & Miorandi,
    * "Distributed k-Core Decomposition", IEEE TPDS 2013; also Lü et
    * al., Nature Comms 2016): every vertex starts at its degree and
    * each round replaces its estimate with the H-INDEX of its
    * neighbors' estimates (the largest h with ≥ h neighbors at ≥ h).
    * Estimates are monotone non-increasing and the fixed point is
    * exactly the core number. This beats peeling k=1,2,3… at scale:
    * rounds are bounded by the estimate-propagation depth (4–6 on the
    * fixture graph, O(log-ish) in practice) instead of the degeneracy
    * (≈60 here), and every round is the same two vertex-keyed
    * exchanges (neighbor-estimate join + per-vertex window) over a
    * frame that never grows past 2|E| rows. Pure integer arithmetic —
    * the oracle (OracleHashSql.q137CoreNumbers) unrolls the identical
    * fixed rounds bit-exactly.
    *
    * The per-vertex H-index rides the identity h = max over DISTINCT
    * estimate values e of min(e, |{nbr est ≥ e}|) (f(h) = |{est ≥ h}|
    * is a step function constant on each (e_next, e], so the best
    * feasible h within a step is min(e, f(e))): a (v, est) count
    * aggregate, a per-vertex cumulative count over the desc-sorted
    * DISTINCT values, and a max — every buffer O(1) per row. The
    * pre-r12 form collected the full neighbor-estimate list into one
    * aggregation buffer, which is degree-sized: a celebrity vertex
    * with 10⁸ neighbors built a multi-GB array in one hash-agg cell.
    * The window is partitioned by v (entity-keyed — scale-safe) over
    * (v, distinct est) rows, bounded by distinct estimate VALUES per
    * vertex, not occurrences. The per-round plan joins the
    * vertex-sized estimate frame into the edge scan (the PLANNER
    * picks broadcast at small |V| from the checkpoint's measured
    * stats and a vertex-keyed shuffle join at billions of vertices —
    * no forced hint). Order-invariant across ties, so
    * partitioning cannot change the result. Est unchanged over a round
    * ⇔ fixed point, so the loop EXITS EARLY once converged (skipping
    * whole edge-scale updates — `rounds` is a ceiling, not a count),
    * and truncation fails loudly — same contract as [[kCore]].
    */
  def coreNumbers(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "coreNumbers needs at least one round")
    val e = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    // adj is v-partitioned ONCE, before the loop: with est broadcast
    // into the join (the small-|V| regime), the join output keeps
    // adj's partitioning, and HashPartitioning(v) satisfies every
    // downstream requirement of the round — ClusteredDistribution
    // (v, est) for the count (subset rule), the v-window, and the
    // final per-v max — so a round runs with ZERO exchanges instead
    // of two (the groupBy(v,est) and window shuffles the unpartitioned
    // form paid every round). At billions of vertices the planner
    // falls back to a shuffle join on nbr, and the rounds pay one
    // v-exchange after it — still one fewer than before.
    val adj = loopCheckpoint(
      e.select(col("a").as("v"), col("b").as("nbr"))
        .union(e.select(col("b").as("v"), col("a").as("nbr")))
        .repartition(col("v")))
    def hIndexUpdate(est: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("v")).orderBy(col("est").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      adj.join(est.select(col("v").as("nbr"), col("est")), Seq("nbr"))
        .groupBy(col("v"), col("est")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(w))
        .groupBy("v")
        .agg(max(least(col("est"), col("cum"))).as("est"))
    }
    // Σest as the convergence witness (r16): estimates are MONOTONE
    // NON-INCREASING per vertex, so "no vertex changed this round" ⟺
    // "Σ_v est is unchanged". decimal(38,0) keeps the sum exact at any
    // graph size (Σ deg ≤ |V|² overflows long at ~10⁹·10⁹), and a
    // decimal sum is order-insensitive, so it is safe to observe.
    // Post-fixed-point updates are the identity, so the early exit
    // returns what all `rounds` would, and the unrolled fixed-round
    // oracle still matches bit-exactly.
    def estSumOf(seen: Map[String, Any]): java.math.BigDecimal =
      // empty graph: sum over zero rows is NULL — treat as 0. (A NULL
      // can in principle also mean decimal(38,0) overflow in non-ANSI
      // mode, and two consecutive overflow rounds would read as
      // converged — unreachable here: Σest ≤ |V|·max_deg < 10³⁸ for
      // any graph below ~10¹⁹ vertices; noted per r16 ADVICE.)
      Option(seen("est_sum")).map(_.asInstanceOf[java.math.BigDecimal])
        .getOrElse(java.math.BigDecimal.ZERO)
    val loop = iterate(
      adj.groupBy("v").agg(count(lit(1)).cast("long").as("est")), rounds,
      setup = Seq(adj),
      witness = Seq(sum(col("est").cast("decimal(38,0)")).as("est_sum")),
      done = (prev, next) => estSumOf(next).compareTo(estSumOf(prev)) == 0) { r =>
      hIndexUpdate(r.gen)
    }
    loop.check(loop.converged,
      s"coreNumbers did not converge in $rounds rounds: estimates still " +
        "moved in the final round — raise `rounds`")
    loop.out.select(col("v").as("node_id"), col("est").cast("long").as("coreness"))
  }

  /** Synchronous label propagation communities (q138) — Raghavan et
    * al., Phys. Rev. E 2007, in its deterministic fixed-round form:
    * labels start as vertex ids; each round every vertex adopts the
    * most frequent label among its neighbors, ties to the SMALLEST
    * label (the rule that makes the algorithm order- and
    * partitioning-independent, where the paper's random tie-break is
    * not reproducible). Synchronous rounds + fixed count make the
    * output a pure integer function of the edge set — bit-exact
    * against the unrolled oracle — and sidestep the classic
    * bipartite-oscillation nondeterminism (both engines compute the
    * same round-`rounds` snapshot).
    *
    * Scale: each round is one label join against the static
    * adjacency (planner-chosen broadcast at small |V|, vertex-keyed
    * shuffle at scale — no forced hint) + TWO mergeable aggregates — (v, label) counts,
    * then an argmax as `max(struct(c, −label))` per vertex. Both
    * partial-aggregate map-side (no window sort anywhere: the
    * struct-max encodes the count-desc/label-asc tie rule), and both
    * key on v; lineage truncated per round like every GraphOps loop.
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    val e = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    // adj is v-partitioned ONCE (the q137 anatomy): with labels
    // broadcast into the join, the round's groupBy(v, label) count and
    // the per-v argmax both run on adj's partitioning — zero exchanges
    // per round instead of two.
    // NOTE (r17, measured): a salted two-level pre-agg on (v, label,
    // pmod(nbr, 16)) — the r16-verdict suggestion for the grain that
    // defeats map-side combine in the SHUFFLE-join regime — was A/B'd
    // and REVERTED: in this pre-partitioned/broadcast regime the
    // (v, label) count already runs with no exchange at all, so the
    // extra aggregate level is pure overhead (q138 4.94 s salted vs
    // 3.09 s plain at sf0.1, control q139 5.03 vs 4.68). Revisit only
    // if the at-scale shuffle-join regime shows a hot-vertex straggler.
    val adj = loopCheckpoint(
      e.select(col("a").as("v"), col("b").as("nbr"))
        .union(e.select(col("b").as("v"), col("a").as("nbr")))
        .repartition(col("v")))
    iterate(adj.select(col("v")).distinct().withColumn("label", col("v")),
      rounds, setup = Seq(adj)) { r =>
      adj.join(r.gen.select(col("v").as("nbr"), col("label")), Seq("nbr"))
        .groupBy(col("v"), col("label")).agg(count(lit(1)).as("c"))
        // argmax by (count desc, label asc) as a mergeable struct-max
        .groupBy(col("v"))
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("top"))
        .select(col("v"), (-col("top.nl")).as("label"))
    }.out.select(col("v").as("node_id"), col("label").cast("long").as("community"))
  }

  /** HITS hubs & authorities (q139) — Kleinberg, JACM 1999 — with
    * fixed rounds, the same oracle-mirrorable loop anatomy as
    * [[pageRank]]: auth(v) = Σ_{u→v} hub(u), hub(u) = Σ_{u→v} auth(v).
    * Normalization happens ONCE at the end (the L2 division is pure
    * cosmetics mid-loop — the iterate direction is what converges):
    * that removes a 1-row norm aggregate + broadcast exchange from
    * every half-step, making each round exactly two score-keyed
    * join+aggs over the checkpointed edge frame, and it is safe in
    * doubles — iterates grow ~(σ₁)²ᵗ per round, ≤ 1e(2·d)·t in the
    * exponent for degree ~1eD graphs, nowhere near 1e308 at 10
    * rounds for any realistic degree. Zero-score vertices (no
    * in-links / no out-links) drop out of the loop frames entirely
    * (they contribute nothing to either sum) and re-enter as exact
    * 0.0 via the final left join against the vertex set. Floats
    * follow the q61 precedent: aggregate-sum noise ~1e-15, declared
    * query rounds to r4.
    */
  def hits(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "hits needs at least one iteration")
    val e = loopCheckpoint(edges.select(col("src"), col("dst")).distinct())
    // NOTE (r13, measured): the q137 one-time-partitioning trick does
    // NOT pay here. The two half-steps aggregate on OPPOSITE keys, so
    // it would take TWO extra pre-partitioned edge materializations —
    // and the per-round exchanges they'd remove are cheap, because the
    // sums PARTIAL-AGGREGATE map-side before shuffling (only ~|V| rows
    // cross the wire per half-step, unlike coreNumbers/LPA whose
    // (v, est)/(v, label) grain defeats map-side combine). A/B at
    // sf0.1: two-copy variant 4.46 s vs 3.92 s for this form.
    val nodes = loopCheckpoint(e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v")))
      .distinct())
    // A generation is the (auth, hub) pair: hub is the step's output,
    // and the auth half-step is carried beside it.
    iterate(e.select(col("src").as("v")).distinct().withColumn("h", lit(1.0)),
      iters, setup = Seq(e, nodes),
      // one 2-column broadcast instead of two 1-column ones (r17): the
      // norms cross-join FIRST (two 1-row frames), so the final plan
      // builds a single BroadcastExchange sub-job — same two aggregates,
      // same summands, one fewer broadcast build + driver round trip.
      // The result is materialized before the loop frees what it reads.
      finish = Some { r =>
        val Seq(auth) = r.carried
        val hub = r.gen
        val nrm = auth.agg(sqrt(sum(col("a") * col("a"))).as("an"))
          .crossJoin(hub.agg(sqrt(sum(col("h") * col("h"))).as("hn")))
        nodes
          .join(auth, Seq("v"), "left")
          .join(hub, Seq("v"), "left")
          .crossJoin(broadcast(nrm))
          .select(col("v").as("node_id"),
            (coalesce(col("h"), lit(0.0)) / col("hn")).as("hub"),
            (coalesce(col("a"), lit(0.0)) / col("an")).as("authority"))
      }) { r =>
      // NOTE (r17, measured): skipping the auth checkpoint (lazy auth
      // half-step, one checkpoint per FULL round) was A/B'd per the r16
      // verdict and REVERTED: without the checkpoint's MEASURED stats the
      // hub half-step joins e against an estimate-sized Aggregate
      // subtree, the vertex frame loses its broadcast, and the round
      // degrades to an edge-frame shuffle join — q139 ran 0.99× absolute
      // and ~0.8× normalized against an untouched control at sf0.1
      // (BENCH_touched_before/after1, 2026-08-19). The per-half-step
      // checkpoint is what keeps the zero-exchange regime; it stays.
      val auth = r.carry(
        e.join(r.gen.select(col("v").as("src"), col("h")), Seq("src"))
          .groupBy(col("dst").as("v")).agg(sum(col("h")).as("a")))
      e.join(auth.select(col("v").as("dst"), col("a")), Seq("dst"))
        .groupBy(col("src").as("v")).agg(sum(col("a")).as("h"))
    }.out
  }
}
