package graft

import org.apache.spark.sql.functions._

import graft.operators.GraphOps

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  private def pairs(rows: (Long, Long)*) =
    rows.toDF("doc_a", "doc_b")

  test("connected components labels each vertex with its component min") {
    // two components: a 4-chain {1,2,3,4} and a triangle {10,11,12}
    val out = GraphOps.connectedComponents(pairs(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("long chain converges past a single propagation round") {
    // a 12-vertex path needs ~11 rounds of one-hop min propagation:
    // proves the fixpoint loop iterates until convergence, not once
    val chain = (1L until 12L).map(i => (i, i + 1))
    val out = GraphOps.connectedComponents(pairs(chain: _*))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 12 && out.values.forall(_ == 1L))
  }

  test("pointer jumping converges a 64-vertex path in O(log n) rounds") {
    // propagation alone needs 63 rounds on a 64-path; path halving
    // must land far under that (each round: one hop + one jump)
    val chain = (1L until 64L).map(i => (i, i + 1))
    val (labels, iters) = GraphOps.ccWithStats(pairs(chain: _*))
    val out = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 64 && out.values.forall(_ == 1L))
    assert(iters <= 12, s"expected O(log n) rounds on a 64-path, took $iters")
  }

  test("cluster sizes count the full component") {
    val out = GraphOps.dedupClusters(pairs(
      (5L, 6L), (6L, 7L), (20L, 21L)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((5L, 5L, 3L), (6L, 5L, 3L), (7L, 5L, 3L),
      (20L, 20L, 2L), (21L, 20L, 2L)))
  }

  test("vertices with no edges do not appear; result is deterministic under repartition") {
    val p = pairs((3L, 9L), (9L, 4L)).repartition(7)
    val a = GraphOps.connectedComponents(p).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == Seq((3L, 3L), (4L, 3L), (9L, 3L)))
  }

  private def edges(rows: (Long, Long)*) =
    rows.toDF("src", "dst")

  test("pagerank: 2-cycle is the uniform fixpoint, mass conserved") {
    // A⇄B is symmetric: pr stays exactly (0.5, 0.5) at every round
    val out = GraphOps.pageRank(edges((1L, 2L), (2L, 1L)))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(math.abs(out(1L) - 0.5) < 1e-12 && math.abs(out(2L) - 0.5) < 1e-12)
  }

  test("pagerank: star hub outranks leaves; dangling mass recycles; sum=1") {
    // leaves 1..4 all point at hub 9; the hub is dangling — its mass
    // teleports back uniformly. Without dangling redistribution the
    // total would leak toward (1-d) per round.
    val star = (1L to 4L).map(i => (i, 9L))
    val out = GraphOps.pageRank(edges(star: _*))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(9L) > out(1L) * 2, s"hub should dominate: $out")
    assert((1L to 4L).map(out).distinct.size == 1) // leaves symmetric
    assert(math.abs(out.values.sum - 1.0) < 1e-9, s"mass leak: ${out.values.sum}")
  }

  test("pagerank: deterministic under repartition, multigraph edges collapse") {
    val e = edges((1L, 2L), (1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L))
    val a = GraphOps.pageRank(e).orderBy("v")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = GraphOps.pageRank(e.repartition(5)).orderBy("v")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b)
    assert(math.abs(a.map(_._2).sum - 1.0) < 1e-9)
  }

  test("pagerank: tol early-exit stops before the cap and matches run-to-cap within the bound") {
    // relTol thresholds n·pr, so relTol = tol·n on a graph of n known
    // vertices stops on the absolute max|Δpr| < tol.
    // A⇄B converges at round 1 (symmetric fixpoint): the loop must
    // exit immediately instead of burning all 50 rounds, and ranks must
    // equal the fixed-iteration reference.
    val cyc = edges((1L, 2L), (2L, 1L))
    val t0 = System.nanoTime()
    val (earlyDf, earlyRounds) = GraphOps.pageRankWithStats(cyc, iters = 50, relTol = 1e-12 * 2)
    val early = earlyDf.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val earlySec = (System.nanoTime() - t0) / 1e9
    assert(math.abs(early(1L) - 0.5) < 1e-12 && math.abs(early(2L) - 0.5) < 1e-12)
    assert(earlyRounds == 1, s"A⇄B is converged after one round, took $earlyRounds")
    // 50 full rounds take many seconds of checkpointed joins; exiting
    // at round 1 is the only way to land far under that
    assert(earlySec < 20.0, s"early exit should skip ~49 rounds, took $earlySec s")

    // property: on an asymmetric graph, early-exit ranks are within
    // tol*d/(1-d) (~5.7x tol) of the run-to-the-cap reference
    val g = edges((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (4L, 2L), (5L, 4L))
    val n = 5.0 // vertices of g
    val tol = 1e-3
    val fixed = GraphOps.pageRank(g, iters = 30)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val conv = GraphOps.pageRank(g, iters = 30, relTol = tol * n)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(conv.keySet == fixed.keySet)
    val bound = tol * 0.85 / 0.15
    fixed.foreach { case (v, p) =>
      assert(math.abs(conv(v) - p) < bound,
        s"vertex $v: |${conv(v)} - $p| >= $bound")
    }
    assert(math.abs(conv.values.sum - 1.0) < 1e-9, "mass conserved under early exit")
    // relTol = 0 must preserve the fixed-iteration semantics
    val ten = GraphOps.pageRank(g).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (tenAgainDf, tenRounds) = GraphOps.pageRankWithStats(g, iters = 10, relTol = 0.0)
    val tenAgain = tenAgainDf.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ten == tenAgain)
    assert(tenRounds == 10, s"relTol = 0 must run every round, ran $tenRounds")
  }

  test("pagerank: relTol is scale-invariant where absolute tol degenerates") {
    // the r15 scaling-curve finding, pinned as a property: ranks sum
    // to 1, so max|Δpr| shrinks ~1/n on a k-fold disjoint scale-up
    // and a fixed absolute threshold exits EARLIER on the bigger graph,
    // while relTol (thresholding n·pr) keeps the round count.
    val base = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (4L, 2L), (5L, 4L))
    def kCopies(k: Int) = edges((0 until k).flatMap(i =>
      base.map { case (a, b) => (a + 100L * i, b + 100L * i) }): _*)
    def rounds(k: Int, relTol: Double) =
      GraphOps.pageRankWithStats(kCopies(k), iters = 30, relTol = relTol)._2
    val n1 = 5.0 // vertices of one copy
    val tolAbs = 2e-2
    // an absolute threshold on max|Δpr| is relTol = tolAbs·n on each
    // graph; on the 1x graph that is the same relTol as below
    val rounds1 = rounds(1, tolAbs * n1)
    val roundsAbs8 = rounds(8, tolAbs * n1 * 8)
    assert(roundsAbs8 < rounds1,
      s"absolute tol should fire earlier on the 8x graph " +
        s"(got $rounds1 -> $roundsAbs8)")
    val roundsRel8 = rounds(8, tolAbs * n1)
    assert(roundsRel8 == rounds1,
      s"relTol round count must be invariant under the disjoint " +
        s"scale-up (got $rounds1 -> $roundsRel8)")
  }

  test("triangle count: hand graphs, orientation/duplicate tolerance") {
    import spark.implicits._
    def tc(edges: Seq[(Long, Long)]): (Long, Long, Long) = {
      val r = graft.operators.GraphOps
        .triangleCount(edges.toDF("a", "b")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    // K4: 4 triangles
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(tc(k4) == ((4L, 6L, 4L)))
    // K4 minus one edge: 2 triangles
    assert(tc(k4.filterNot(_ == ((3L, 4L)))) == ((4L, 5L, 2L)))
    // reversed duplicates and self-loops canonicalize away
    assert(tc(k4 ++ k4.map(_.swap) ++ Seq((1L, 1L))) == ((4L, 6L, 4L)))
    // star graph: high-degree hub, zero triangles
    val star = (2L to 20L).map(i => (1L, i))
    assert(tc(star) == ((20L, 19L, 0L)))
  }

  test("personalized pagerank: mass conserved, confined to the seed's reach, symmetric targets tie") {
    import spark.implicits._
    // seed 1 → {2, 3}; separate component 8 → 9 must stay at exactly 0
    val edges = Seq((1L, 2L), (1L, 3L), (8L, 9L)).toDF("src", "dst")
    val pr = graft.operators.GraphOps
      .personalizedPageRank(edges, Seq(1L), iters = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-9,
      s"mass must be conserved: ${pr.values.sum}")
    assert(pr(2L) == pr(3L), "symmetric targets must tie exactly")
    assert(pr(1L) > pr(2L), "the seed keeps the teleport mass")
    assert(pr(8L) == 0.0 && pr(9L) == 0.0,
      s"the other component must hold exactly zero mass: $pr")
  }

  test("k-core: pendant chain cascades away, the core survives with core degrees") {
    import spark.implicits._
    // K4 {1,2,3,4} (each deg 3) with a pendant chain 4-5-6-7: for k=2
    // the chain peels one vertex per round (7 first, then 6, then 5) —
    // a genuine cascade needing 3 rounds — and K4 survives at deg 3.
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val chain = Seq((4L, 5L), (5L, 6L), (6L, 7L))
    val edges = (k4 ++ chain).toDF("src", "dst")
    val out = graft.operators.GraphOps.kCore(edges, k = 2, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      s"K4 must survive at core degree 3, chain must cascade away: $out")
    // rounds beyond convergence are no-ops: R=8 equals R=4
    val out8 = graft.operators.GraphOps.kCore(edges, k = 2, rounds = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out8 == out)
    // k above the max core empties the graph
    assert(graft.operators.GraphOps.kCore(edges, k = 4, rounds = 6).count() == 0L)
  }

  test("core numbers: h-index iteration yields exact coreness; consistent with kCore membership") {
    import spark.implicits._
    // K4 {1,2,3,4} + pendant chain 4-5-6-7: coreness 3 on the clique,
    // 1 along the chain (known closed form). The chain forces several
    // propagation rounds (estimates cascade inward).
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val chain = Seq((4L, 5L), (5L, 6L), (6L, 7L))
    val edges = (k4 ++ chain).toDF("src", "dst")
    val core = graft.operators.GraphOps.coreNumbers(edges, rounds = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      5L -> 1L, 6L -> 1L, 7L -> 1L), s"wrong coreness: $core")
    // rounds is a CEILING, not a count (r13 early exit): an absurdly
    // generous ceiling must return the identical fixed point rather
    // than paying (or failing on) the extra rounds
    val core50 = graft.operators.GraphOps.coreNumbers(edges, rounds = 50)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core50 == core, "early exit must not change the fixed point")
    // membership consistency: {coreness >= k} must equal kCore(k)'s
    // vertex set for every k
    for (k <- 2 to 3) {
      val fromCore = core.filter(_._2 >= k).keySet
      val fromPeel = graft.operators.GraphOps.kCore(edges, k = k, rounds = 6)
        .collect().map(_.getLong(0)).toSet
      assert(fromCore == fromPeel, s"k=$k: $fromCore vs $fromPeel")
    }
    // truncated rounds fail loudly instead of returning stale estimates
    val ex = intercept[IllegalArgumentException] {
      graft.operators.GraphOps.coreNumbers(edges, rounds = 1)
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("label propagation: two cliques joined by a bridge split into two communities") {
    import spark.implicits._
    // K4 {1..4} and K4 {11..14} joined by one bridge edge 4-11: LPA
    // with min tie-break labels each clique by its minimum vertex
    val k4a = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val k4b = k4a.map { case (a, b) => (a + 10L, b + 10L) }
    val edges = (k4a ++ k4b :+ (4L, 11L)).toDF("src", "dst")
    val out = graft.operators.GraphOps.labelPropagation(edges, rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).map(out).toSet.size == 1,
      s"first clique must agree on one community: $out")
    assert(Seq(11L, 12L, 13L, 14L).map(out).toSet.size == 1,
      s"second clique must agree on one community: $out")
    assert(out(1L) != out(12L), s"cliques must separate: $out")
    // deterministic under repartition
    val out2 = graft.operators.GraphOps.labelPropagation(
      edges.repartition(7), rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out2 == out)
  }

  test("hits: star hub has top hub score, its targets share authority; scores L2-normalized") {
    import spark.implicits._
    // hub 1 → {2,3,4}; plus 5 → 2 (2 gets extra authority)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 2L)).toDF("src", "dst")
    val out = graft.operators.GraphOps.hits(edges, iters = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val hub = out.map(t => t._1 -> t._2).toMap
    val auth = out.map(t => t._1 -> t._3).toMap
    assert(hub(1L) > hub(5L) && hub(5L) > 0.0, s"1 links more: $hub")
    assert(hub(2L) == 0.0 && auth(1L) == 0.0 && auth(5L) == 0.0)
    assert(auth(2L) > auth(3L), s"2 has an extra in-link: $auth")
    assert(auth(3L) == auth(4L), "symmetric targets tie exactly")
    val hNorm = out.map(t => t._2 * t._2).sum
    val aNorm = out.map(t => t._3 * t._3).sum
    assert(math.abs(hNorm - 1.0) < 1e-9 && math.abs(aNorm - 1.0) < 1e-9,
      s"L2 norms must be 1: $hNorm, $aNorm")
  }

  test("every loop frees its checkpoints: only the generation the result reads stays persisted") {
    // each operator materializes setup frames, one generation per round
    // and round-scoped scratch; after its result is collected, at most
    // one checkpoint may remain: the one the returned frame reads. (The
    // ContextCleaner can reap an unreferenced leaked frame after a GC,
    // so a leak may slip past one run; a loop that frees never fails.)
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val g = edges(k4 ++ Seq((4L, 5L), (5L, 6L), (6L, 7L), (7L, 4L)): _*)
    val runs = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "connectedComponents" -> (() => GraphOps.connectedComponents(
        pairs((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)))),
      "pageRank" -> (() => GraphOps.pageRank(g)),
      "pageRank relTol" -> (() => GraphOps.pageRank(g, iters = 30, relTol = 1e-3)),
      "personalizedPageRank" -> (() => GraphOps.personalizedPageRank(g, Seq(1L))),
      "kCore" -> (() => GraphOps.kCore(g, k = 2, rounds = 4)),
      "coreNumbers" -> (() => GraphOps.coreNumbers(g, GraphQueries.CoreNumberRounds)),
      "labelPropagation" -> (() => GraphOps.labelPropagation(g, GraphQueries.LabelRounds)),
      "hits" -> (() => GraphOps.hits(g, GraphQueries.HitsIters)),
      "triangleCount" -> (() => GraphOps.triangleCount(
        k4.toDF("a", "b"))))
    val sc = spark.sparkContext
    runs.foreach { case (name, run) =>
      val before = sc.getPersistentRDDs.keySet
      assert(run().collect().nonEmpty, s"$name returned no rows")
      val gained = sc.getPersistentRDDs.keySet -- before
      assert(gained.size <= 1,
        s"$name left ${gained.size} checkpoints persisted: ${gained.toSeq.sorted}")
    }
    // a failed convergence check builds no result, so it must free the
    // loop's last generation itself: K4 + the pendant chain 4-5-6-7
    // needs 3 peeling rounds, so rounds = 1 throws
    val chain = edges(k4 ++ Seq((4L, 5L), (5L, 6L), (6L, 7L)): _*)
    val failing = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "kCore" -> (() => GraphOps.kCore(chain, k = 2, rounds = 1)),
      "coreNumbers" -> (() => GraphOps.coreNumbers(chain, rounds = 1)))
    failing.foreach { case (name, run) =>
      val before = sc.getPersistentRDDs.keySet
      val ex = intercept[IllegalArgumentException](run())
      assert(ex.getMessage.contains("did not converge"), s"$name: ${ex.getMessage}")
      val gained = sc.getPersistentRDDs.keySet -- before
      assert(gained.isEmpty,
        s"$name threw and left ${gained.size} checkpoints persisted: ${gained.toSeq.sorted}")
    }
  }
}
