package graft.analytics

import graft.ops.Fixpoint
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over normalized undirected edge lists
  * (the [[graft.ops.Kernels.normalizeEdge]] shape the reference's
  * friend graph uses) — the ranking complement to
  * [[graft.pipeline.Dedup.dupClusters]]' connectivity pass. Every
  * convergence loop here runs on [[graft.ops.Fixpoint]]: one
  * checkpoint job per round, whose observed aggregate is the round's
  * convergence signal.
  */
object Graph {

  /** Connected components over an undirected edge list: (node,
    * component) with component = min node id reachable. Delegates to
    * the min-label-propagation + pointer-jumping kernel
    * ([[graft.pipeline.Dedup.dupClusters]] — ~log₂-diameter rounds,
    * exact fixpoint or throw); this is the
    * same published algorithm regardless of what the ids identify, so
    * the graph surface exposes it rather than re-deriving it. Nodes
    * with no edges don't appear (no component to report). */
  def connectedComponents(edges: DataFrame, u1: String, u2: String,
                          maxIters: Int = 50): DataFrame =
    graft.pipeline.Dedup.dupClusters(
        edges.select(col(u1).as("id1"), col(u2).as("id2")), maxIters)
      .select(col("id").as("node"), col("cluster").as("component"))

  /** PageRank with a FIXED iteration count (Brin–Page 1998, damping
    * `d`): pr₀ = 1/N, then
    *
    *   prₖ₊₁(v) = (1−d)/N + d · Σ_{u∈adj(v)} prₖ(u)/deg(u)
    *
    * Undirected edges are expanded to both directed adjacencies, so
    * every node has deg ≥ 1 and there is no dangling-mass term.
    *
    * Scale shape: each iteration is ONE equi-join from the adjacency
    * list to the current rank vector plus one hash aggregation —
    * never a collect, never a cartesian; the rank vector is
    * checkpoint-light (nodes × 16 bytes). Iterations are a fixed
    * small constant (ranking stabilizes long before convergence in
    * practice); convergence-driven runs belong on
    * [[graft.ops.Fixpoint]], which keeps the plan from growing
    * linearly.
    */
  def pageRank(edges: DataFrame, u1: String, u2: String,
               iters: Int = 3, d: Double = 0.85): DataFrame = {
    require(iters >= 0, "pageRank: iters must be >= 0")
    val adj = edges.select(col(u1).as("src"), col(u2).as("dst"))
      .union(edges.select(col(u2).as("src"), col(u1).as("dst")))
    val deg = adj.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
    val nodes = adj.select(col("src").as("node")).distinct()
    val n = nodes.agg(count(lit(1)).cast("double").as("__n"))
    var pr = nodes.crossJoin(broadcast(n))
      .select(col("node"), (lit(1.0) / col("__n")).as("pr"))
    for (_ <- 1 to iters) {
      val contrib = adj
        .join(pr.select(col("node").as("src"), col("pr")), "src")
        .join(deg, "src")
        .groupBy(col("dst")).agg(sum(col("pr") / col("__deg")).as("__in"))
      pr = nodes.crossJoin(broadcast(n))
        .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"),
          ((lit(1.0) - lit(d)) / col("__n") +
            lit(d) * coalesce(col("__in"), lit(0.0))).as("pr"))
    }
    pr
  }

  /** DIRECTED, convergence-driven PageRank with the dangling-mass
    * term (the full Brin–Page model — [[pageRank]]'s undirected form
    * needs neither, since expanding each edge both ways guarantees
    * deg ≥ 1):
    *
    *   prₖ₊₁(v) = (1−d)/N + d·Σ_{u→v} prₖ(u)/outdeg(u)
    *              + d·(Σ_{u: outdeg(u)=0} prₖ(u))/N
    *
    * The dangling term redistributes sink mass uniformly, so Σpr = 1
    * holds every round on ANY directed graph (the mass-conservation
    * property GraphSpec pins). Runs until the L1 delta between
    * successive rank vectors drops to `tol`, or `maxIters` rounds —
    * whichever first; returns (node, pr, iterations, converged).
    * `tol` ≤ 0 requests exactly `maxIters` rounds (fixed-iteration
    * mode): no delta is measured and `converged` reports false.
    *
    * Scale shape: per round, ONE equi-join from the edge list to the
    * rank vector plus one hash aggregation, exactly like [[pageRank]],
    * materialized by [[graft.ops.Fixpoint]] so the plan never grows
    * with the iteration count. Each rank row carries its previous
    * value, so the L1 delta is an aggregate observed by the round's
    * own checkpoint job, and the node count rides out of the node
    * set's checkpoint the same way. */
  def pageRankDirected(edges: DataFrame, src: String, dst: String,
                       maxIters: Int = 20, d: Double = 0.85,
                       tol: Double = 1e-6): (DataFrame, Int, Boolean) = {
    require(maxIters >= 1, "pageRankDirected: maxIters must be >= 1")
    val out = edges.select(col(src).as("src"), col(dst).as("dst")).distinct()
    val odeg = out.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
    val (nodes, n) = Fixpoint.materialize(
      out.select(col("src").as("node"))
        .unionAll(out.select(col("dst").as("node"))).distinct(),
      count(lit(1)))
    val nN = n.get
    val run = Fixpoint.run(
      nodes.select(col("node"), lit(1.0 / nN).as("pr"), nullOld),
      maxIters, l1Delta(tol), tol) { (pr, _) =>
      // dangling mass rides into the round's ONE materializing action
      // as a broadcast 1-row scalar (the [[pageRank]] `n` idiom). The
      // expression preserves the literal form's IEEE op order:
      // (d * dangling) / nN.
      pr.select(col("node"), col("pr").as("__old"))
        .join(inflow(out, odeg, pr), Seq("node"), "left")
        .crossJoin(broadcast(danglingMass(odeg, pr)))
        .select(col("node"),
          (lit((1.0 - d) / nN) + lit(d) * col("__dang") / lit(nN) +
            lit(d) * coalesce(col("__in"), lit(0.0))).as("pr"),
          col("__old"))
    }
    Fixpoint.free(nodes)
    (run.state.select(col("node"), col("pr")), run.rounds, run.converged)
  }

  /** The PageRanks' round helpers. A rank row carries its previous
    * value as `__old` (null before the first round), so the L1 delta
    * is an aggregate over the round's own output; `tol` ≤ 0 asks for
    * fixed rounds and measures nothing. */
  private val nullOld = lit(null).cast("double").as("__old")
  private def l1Delta(tol: Double) =
    Option.when(tol > 0.0)(sum(abs(col("pr") - col("__old"))))

  /** Σ pr(u)/outdeg(u) over each node's in-edges, as (node, __in). */
  private def inflow(out: DataFrame, odeg: DataFrame,
                     pr: DataFrame): DataFrame =
    out.join(pr.select(col("node").as("src"), col("pr")), "src")
      .join(odeg, "src")
      .groupBy(col("dst").as("node"))
      .agg(sum(col("pr") / col("__deg")).as("__in"))

  /** The rank mass held by sinks (no out-edges), as a 1-row __dang. */
  private def danglingMass(odeg: DataFrame, pr: DataFrame): DataFrame =
    pr.join(odeg.withColumnRenamed("src", "node"), Seq("node"), "left_anti")
      .agg(coalesce(sum(col("pr")), lit(0.0)).as("__dang"))

  /** HITS hubs & authorities (Kleinberg 1999) over a directed edge
    * list, L1-normalized after each half-step:
    *
    *   authₖ(v) = Σ_{u→v} hubₖ₋₁(u)   (÷ Σ_v authₖ(v))
    *   hubₖ(u)  = Σ_{u→v} authₖ(v)    (÷ Σ_u hubₖ(u))
    *
    * starting from hub₀ ≡ 1. Nodes with no in-edges hold auth 0, no
    * out-edges hub 0. Returns (node, hub, auth) after `iters` rounds.
    *
    * Scale shape: per round, two equi-joins from the edge list + two
    * hash aggregations; the normalizers ride in as broadcast 1-row
    * scalars. Both vectors live in one (node, hub, auth) frame that
    * [[graft.ops.Fixpoint]] materializes once per round, so the plan
    * never grows with the iteration count. */
  def hits(edges: DataFrame, src: String, dst: String,
           iters: Int = 5): DataFrame = {
    require(iters >= 1, "hits: iters must be >= 1")
    val out = edges.select(col(src).as("src"), col(dst).as("dst")).distinct()
    val init = out.select(col("src").as("node"))
      .unionAll(out.select(col("dst").as("node"))).distinct()
      .select(col("node"), lit(1.0).as("hub"), lit(0.0).as("auth"))
    Fixpoint.run(init, iters, None) { (cur, _) =>
      // the L1 normalizers ride in as broadcast 1-row scalars (the
      // [[pageRank]] `n` idiom), and each raw frame's aggregation
      // exchange appears twice in the round's plan, which
      // ReuseExchange computes once. Division op/order unchanged:
      // raw / Σraw.
      // a null/zero half-step sum (degenerate graph) must fail loudly,
      // not flow silent null/NaN ranks downstream (r19 advice): the
      // broadcast normalizer is guarded — on any real graph __s > 0 and
      // the guard is a never-taken branch, so values are unchanged.
      def checked(s0: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        when(s0.isNull || s0 === 0.0,
          raise_error(lit("hits: degenerate half-step sum (empty graph?)"))
            .cast("double"))
          .otherwise(s0)
      val araw = out
        .join(cur.select(col("node").as("src"), col("hub")), "src")
        .groupBy(col("dst")).agg(sum(col("hub")).as("raw"))
      val asum = araw.agg(sum(col("raw")).as("__s"))
      val auth = cur.select(col("node"))
        .join(araw.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .crossJoin(broadcast(asum))
        .select(col("node"),
          (coalesce(col("raw"), lit(0.0)) / checked(col("__s"))).as("auth"))
      val hraw = out
        .join(auth.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src")).agg(sum(col("auth")).as("raw"))
      val hsum = hraw.agg(sum(col("raw")).as("__s"))
      auth
        .join(hraw.withColumnRenamed("src", "node"), Seq("node"), "left")
        .crossJoin(broadcast(hsum))
        .select(col("node"),
          (coalesce(col("raw"), lit(0.0)) / checked(col("__s"))).as("hub"),
          col("auth"))
    }.state
  }

  /** EXACT triangle count via degree-ordered orientation (the
    * Schank–Wagner / Latapy forward algorithm, join-shaped): each
    * undirected edge is oriented from its (degree, id)-smaller
    * endpoint to the larger, making the graph a DAG under a total
    * order in which every triangle a<b<c appears as exactly the path
    * a→b, a→c closed by b→c — counted once, no ÷6 correction, no
    * duplicate pairs.
    *
    * Scale shape: orientation caps every node's out-degree at O(√m)
    * (a high-degree hub receives its edges instead of fanning them
    * out), so the wedge join generates O(m^{3/2}) candidates instead
    * of Σdeg² — the difference between feasible and not on a
    * power-law graph; the close check is one more equi-join
    * (semi-join) against the oriented list. Everything is equi-joins
    * + one aggregate: no cartesian, no driver state. */
  def triangleCount(edges: DataFrame, u1: String, u2: String): DataFrame = {
    val und = edges
      .select(least(col(u1), col(u2)).as("a"),
        greatest(col(u1), col(u2)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("d").as("db")), "b")
    val oriented = withDeg.select(
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
        struct(col("a").as("src"), col("b").as("dst"),
          col("db").as("ddeg")))
        .otherwise(struct(col("b").as("src"), col("a").as("dst"),
          col("da").as("ddeg"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.ddeg").as("ddeg"))
    val wedges = oriented.select(col("src"), col("dst").as("v"),
        col("ddeg").as("dv"))
      .join(oriented.select(col("src"), col("dst").as("w"),
        col("ddeg").as("dw")), Seq("src"))
      .filter(struct(col("dv"), col("v")) < struct(col("dw"), col("w")))
    wedges
      .join(oriented.select(col("dst").as("w"), col("src").as("v")),
        Seq("v", "w"), "left_semi")
      .agg(count(lit(1)).as("triangles"))
  }

  /** PERSONALIZED PageRank (Page et al. 1999's biased surfer; the
    * Pinterest/Twitter recommendation primitive): teleport AND
    * dangling mass return to the SOURCE set instead of spreading
    * uniformly —
    *
    *   prₖ₊₁(v) = (1−d)·p(v) + d·Σ_{u→v} prₖ(u)/outdeg(u)
    *              + d·(Σ_{u: outdeg(u)=0} prₖ(u))·p(v)
    *
    * with p uniform over `sources`, zero elsewhere, so Σpr = 1 every
    * round and rank measures proximity to the sources: unreachable
    * nodes hold exactly 0. Convergence/iteration contract, per-round
    * plan shape (one equi-join + one agg) and [[graft.ops.Fixpoint]]
    * rounds are identical to [[pageRankDirected]]. */
  def personalizedPageRank(edges: DataFrame, src: String, dst: String,
                           sources: Seq[Any], maxIters: Int = 20,
                           d: Double = 0.85,
                           tol: Double = 1e-6): (DataFrame, Int, Boolean) = {
    require(maxIters >= 1, "personalizedPageRank: maxIters must be >= 1")
    require(sources.nonEmpty, "personalizedPageRank: sources must be non-empty")
    val out = edges.select(col(src).as("src"), col(dst).as("dst")).distinct()
    val odeg = out.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
    // the teleport vector as a codegen expression — no join needed
    val p = when(col("node").isin(sources: _*),
      lit(1.0) / lit(sources.size.toDouble)).otherwise(lit(0.0))
    val init = out.select(col("src").as("node"))
      .unionAll(out.select(col("dst").as("node"))).distinct()
      .select(col("node"), p.as("pr"), nullOld)
    val run = Fixpoint.run(init, maxIters, l1Delta(tol), tol) { (pr, _) =>
      // dangling mass fused into the round's single action as a
      // broadcast scalar — see [[pageRankDirected]]; op order
      // preserved: (1−d) + d·dangling.
      pr.select(col("node"), col("pr").as("__old"))
        .join(inflow(out, odeg, pr), Seq("node"), "left")
        .crossJoin(broadcast(danglingMass(odeg, pr)))
        .select(col("node"),
          ((lit(1.0 - d) + lit(d) * col("__dang")) * p +
            lit(d) * coalesce(col("__in"), lit(0.0))).as("pr"),
          col("__old"))
    }
    (run.state.select(col("node"), col("pr")), run.rounds, run.converged)
  }

  /** k-core decomposition by iterative peeling (Seidman 1983;
    * distributed peeling per Montresor et al. 2013): repeatedly drop
    * every node whose degree in the CURRENT subgraph is < k, until
    * none remains (the fixpoint is the k-core: the maximal subgraph
    * with all degrees ≥ k) or `maxRounds` peels have run — whichever
    * first. Returns (survivors with their in-core degree, rounds
    * peeled, converged). A capped run returns the round-`maxRounds`
    * subgraph — deterministic at ANY data scale, which is what lets
    * the driver gate unroll the same fixed rounds in SQL; once
    * converged, further rounds are no-ops, so the cap only matters
    * pre-convergence.
    *
    * Scale shape: each edge carries both endpoints' degrees in the
    * current subgraph, so a round is a filter (drop every edge with a
    * sub-threshold endpoint), one degree aggregation and two
    * equi-joins on node ids, materialized by [[graft.ops.Fixpoint]].
    * The count of edges with a sub-threshold endpoint — the edges the
    * NEXT round peels — is observed by the round's own checkpoint job,
    * so zero means converged, the capped round included, with no
    * separate probe.
    * Peeling removes whole frontiers per round, so round count is
    * bounded by the degeneracy ordering's depth, not node count —
    * small in practice even on web graphs. */
  def kCore(edges: DataFrame, u1: String, u2: String, k: Int,
            maxRounds: Int = 20): (DataFrame, Int, Boolean) = {
    require(k >= 1, "kCore: k must be >= 1")
    require(maxRounds >= 0, "kCore: maxRounds must be >= 0")
    val und = edges.select(least(col(u1), col(u2)).as("u1"),
        greatest(col(u1), col(u2)).as("u2"))
      .filter(col("u1") =!= col("u2")).distinct()
    def degrees(e: DataFrame): DataFrame =
      e.select(col("u1").as("node")).unionAll(e.select(col("u2").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    def withDegrees(e: DataFrame): DataFrame = {
      val deg = degrees(e)
      e.join(deg.select(col("node").as("u1"), col("deg").as("d1")), "u1")
        .join(deg.select(col("node").as("u2"), col("deg").as("d2")), "u2")
        .select(col("u1"), col("u2"), col("d1"), col("d2"))
    }
    val run = Fixpoint.run(withDegrees(und), maxRounds,
        Some(count_if(col("d1") < k || col("d2") < k))) { (cur, _) =>
      withDegrees(cur.filter(col("d1") >= k && col("d2") >= k)
        .select(col("u1"), col("u2")))
    }
    (degrees(run.state), run.rounds, run.converged)
  }

  /** Weighted single/multi-source shortest paths by Bellman-Ford
    * relaxation rounds over a DIRECTED edge list: after round R,
    * `cost(v)` is the cheapest path from any source to `v` using at
    * most R edges — so a run capped at `maxRounds` computes the
    * HOP-BOUNDED shortest path (a semantic of its own: "cheapest
    * route within R legs"), and a run that converges before the cap
    * has found the true shortest paths (`converged` reports which).
    * Non-negative integer weights; costs are exact longs.
    *
    * Per round: ONE equi-join of the current distance vector to the
    * edge list (the relax step) + one min-aggregation folding the
    * candidates into the vector, materialized by [[graft.ops.Fixpoint]]
    * with the count of changed costs observed by the same job (a round
    * that changes nothing ends the run and is not counted). Never
    * all-pairs, never a driver-side frontier. */
  def shortestPaths(edges: DataFrame, src: String, dst: String,
                    weight: String, sources: Seq[Long],
                    maxRounds: Int): (DataFrame, Int, Boolean) = {
    require(maxRounds >= 0, "shortestPaths: maxRounds must be >= 0")
    require(sources.nonEmpty, "shortestPaths: need at least one source")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col(src).as("src"), col(dst).as("dst"),
      col(weight).cast("long").as("w"))
    val init = sources.distinct.toDF("node")
      .select(col("node").cast("long").as("node"), lit(0L).as("cost"),
        lit(true).as("__changed"))
    val run = Fixpoint.run(init, maxRounds, Some(count_if(col("__changed")))) {
      (dist, _) =>
        // the previous cost threads THROUGH the min-aggregation (every
        // node has exactly one dist row, so max(__old) recovers it —
        // the [[graft.pipeline.Dedup.dupClusters]] trick), so the
        // changed flag needs no join against the previous vector
        val cand = e.join(dist.select(col("node").as("src"), col("cost")), "src")
          .select(col("dst").as("node"), (col("cost") + col("w")).as("cost"),
            lit(null).cast("long").as("__old"))
        dist.select(col("node"), col("cost"), col("cost").as("__old"))
          .unionByName(cand)
          .groupBy(col("node")).agg(min(col("cost")).as("cost"),
            max(col("__old")).as("__old"))
          .select(col("node"), col("cost"),
            (col("__old").isNull || col("cost") < col("__old")).as("__changed"))
    }
    (run.state.select(col("node"), col("cost")),
      if (run.converged) run.rounds - 1 else run.rounds, run.converged)
  }

  /** Unweighted BFS hop distances from a source set over an
    * undirected edge list: (node, hop) for every node within
    * `maxHops` of any source, hop = the MINIMUM edge count to reach
    * it (0 for the sources themselves). Multi-source is the
    * "distance to nearest seed" shape (contamination radius around
    * known-bad documents, social distance from a trust set);
    * single-source is the classic reachability probe.
    *
    * Frontier expansion, the scalable BFS on a shuffle engine: round
    * k joins the CURRENT frontier (only the nodes first reached at
    * hop k−1, not the whole settled set) to the adjacency list, then
    * anti-joins out already-settled nodes — each edge is traversed at
    * most twice over the whole run, and per-round work shrinks with
    * the frontier. The settled set, with the frontier flagged `__new`,
    * is one [[graft.ops.Fixpoint]] state, so the plan never grows
    * with the hop count; the count of newly reached nodes is observed
    * by the round's own checkpoint job and ends the run at zero. */
  def bfsHops(edges: DataFrame, u1: String, u2: String,
              sources: Seq[Long], maxHops: Int): DataFrame = {
    require(maxHops >= 0, "bfsHops: maxHops must be >= 0")
    require(sources.nonEmpty, "bfsHops: need at least one source")
    val spark = edges.sparkSession
    val adj = edges.select(col(u1).as("src"), col(u2).as("dst"))
      .union(edges.select(col(u2).as("src"), col(u1).as("dst")))
    import spark.implicits._
    val init = sources.distinct.toDF("node")
      .select(col("node").cast("long").as("node"), lit(0L).as("hop"),
        lit(true).as("__new"))
    Fixpoint.run(init, maxHops, Some(count_if(col("__new")))) {
      (settled, hop) =>
        val reached = adj
          .join(settled.filter(col("__new")).select(col("node").as("src")), "src")
          .select(col("dst").as("node")).distinct()
          .join(settled, Seq("node"), "left_anti")
        settled.select(col("node"), col("hop"), lit(false).as("__new"))
          .unionByName(reached.select(col("node"), lit(hop.toLong).as("hop"),
            lit(true).as("__new")))
    }.state.select(col("node"), col("hop"))
  }
}
