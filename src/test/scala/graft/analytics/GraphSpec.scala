package graft.analytics

import graft.SparkSpec

/** Hand-checked PageRank on the 3-node path graph 1–2–2–3. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private lazy val path = Seq((1L, 2L), (2L, 3L)).toDF("u1", "u2")

  test("pageRank: one iteration on a path graph matches hand arithmetic") {
    // deg: 1→1, 2→2, 3→1; pr0 = 1/3 each
    // pr1(1) = 0.15/3 + 0.85·(pr0(2)/2) = 0.05 + 0.85/6
    // pr1(2) = 0.15/3 + 0.85·(pr0(1) + pr0(3)) = 0.05 + 0.85·2/3
    val got = Graph.pageRank(path, "u1", "u2", iters = 1)
      .orderBy("node").as[(Long, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L))
    assert(math.abs(got(0)._2 - (0.05 + 0.85 / 6)) < 1e-12)
    assert(math.abs(got(1)._2 - (0.05 + 0.85 * 2 / 3)) < 1e-12)
    assert(math.abs(got(2)._2 - got(0)._2) < 1e-12) // symmetry
  }

  test("pageRank: mass conserved (Σpr = 1) and symmetric after 3 rounds") {
    val got = Graph.pageRank(path, "u1", "u2", iters = 3)
      .orderBy("node").as[(Long, Double)].collect().toSeq
    assert(math.abs(got.map(_._2).sum - 1.0) < 1e-9)
    assert(math.abs(got(0)._2 - got(2)._2) < 1e-12)
    assert(got(1)._2 > got(0)._2) // the hub outranks the leaves
  }

  /** Plain-Scala power iteration over the same directed model — the
    * independent arithmetic the Spark implementation must match. */
  private def powerIter(edges: Seq[(Long, Long)], d: Double,
                        tol: Double, maxIters: Int): Map[Long, Double] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.size.toDouble
    val out = edges.distinct.groupBy(_._1)
    var pr = nodes.map(_ -> 1.0 / n).toMap
    var delta = Double.MaxValue
    var it = 0
    while (it < maxIters && delta > tol) {
      val dangling = nodes.filterNot(out.contains).map(pr).sum
      val in = edges.distinct.groupBy(_._2).map { case (v, es) =>
        v -> es.map(e => pr(e._1) / out(e._1).size).sum
      }
      val next = nodes.map(v => v ->
        ((1.0 - d) / n + d * dangling / n + d * in.getOrElse(v, 0.0))).toMap
      delta = nodes.map(v => math.abs(next(v) - pr(v))).sum
      pr = next
      it += 1
    }
    pr
  }

  test("pageRankDirected: converges on a sink graph, conserves mass, matches power iteration") {
    // 3 is a pure sink (no out-edges); 4 feeds the cycle
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 1L), (2L, 1L))
    val (prDf, iters, converged) = Graph.pageRankDirected(
      edges.toDF("s", "t"), "s", "t", maxIters = 100, d = 0.85, tol = 1e-10)
    val got = prDf.orderBy("node").as[(Long, Double)].collect().toMap
    assert(converged && iters < 100, s"iters=$iters converged=$converged")
    // dangling-mass term keeps Σpr = 1 despite the sink
    assert(math.abs(got.values.sum - 1.0) < 1e-9, got.toString)
    val exp = powerIter(edges, d = 0.85, tol = 1e-10, maxIters = 100)
    exp.foreach { case (v, p) =>
      assert(math.abs(got(v) - p) < 1e-8, s"node $v: got ${got(v)} want $p")
    }
    // the sink accumulates more than its feeders' leaves
    assert(got(3L) > got(4L))
  }

  test("pageRankDirected: maxIters caps work and reports non-convergence") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L))
    val (prDf, iters, converged) = Graph.pageRankDirected(
      edges.toDF("s", "t"), "s", "t", maxIters = 2, d = 0.85, tol = 1e-15)
    assert(iters == 2 && !converged)
    // partial result is still a valid distribution (mass conserved)
    val sum = prDf.as[(Long, Double)].collect().map(_._2).sum
    assert(math.abs(sum - 1.0) < 1e-9)
  }

  test("triangleCount: closed forms and robustness to duplicate/reversed edges") {
    def count(es: Seq[(Long, Long)]): Long =
      Graph.triangleCount(es.toDF("u1", "u2"), "u1", "u2")
        .as[Long].head()
    // K4: C(4,3) = 4 triangles
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(count(k4) == 4L)
    // path: none
    assert(count(Seq((1L, 2L), (2L, 3L))) == 0L)
    // one closed wedge among noise
    assert(count(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))) == 1L)
    // duplicates, reversals, and self-loops don't change the answer
    val messy = k4 ++ k4.map(_.swap) ++ Seq((2L, 2L)) ++ k4
    assert(count(messy) == 4L)
  }

  /** Plain-Scala HITS with L1 normalization per half-step. */
  private def localHits(edges: Seq[(Long, Long)],
                        iters: Int): Map[Long, (Double, Double)] = {
    val es = edges.distinct
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    var hub = nodes.map(_ -> 1.0).toMap
    var auth = nodes.map(_ -> 0.0).toMap
    for (_ <- 1 to iters) {
      val araw = es.groupBy(_._2).map { case (v, in) =>
        v -> in.map(e => hub(e._1)).sum }
      val asum = araw.values.sum
      auth = nodes.map(v => v -> araw.getOrElse(v, 0.0) / asum).toMap
      val hraw = es.groupBy(_._1).map { case (u, outE) =>
        u -> outE.map(e => auth(e._2)).sum }
      val hsum = hraw.values.sum
      hub = nodes.map(v => v -> hraw.getOrElse(v, 0.0) / hsum).toMap
    }
    nodes.map(v => v -> ((hub(v), auth(v)))).toMap
  }

  test("hits: star graph closed form and independent-iteration agreement") {
    // 1→3, 2→3: node 3 is the only authority (auth 1), nodes 1 and 2
    // split hub mass evenly; stable at any iteration count
    val star = Seq((1L, 3L), (2L, 3L))
    val got = Graph.hits(star.toDF("s", "t"), "s", "t", iters = 3)
      .orderBy("node").as[(Long, Double, Double)].collect()
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(math.abs(got(0)._2 - 0.5) < 1e-12 && got(0)._3 == 0.0)
    assert(math.abs(got(1)._2 - 0.5) < 1e-12 && got(1)._3 == 0.0)
    assert(got(2)._2 == 0.0 && math.abs(got(2)._3 - 1.0) < 1e-12)
    // richer graph: match the independent local implementation
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 2L), (3L, 4L))
    val spark2 = Graph.hits(edges.toDF("s", "t"), "s", "t", iters = 4)
      .orderBy("node").as[(Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val exp = localHits(edges, iters = 4)
    exp.foreach { case (v, (h, a)) =>
      assert(math.abs(spark2(v)._1 - h) < 1e-9, s"hub($v)")
      assert(math.abs(spark2(v)._2 - a) < 1e-9, s"auth($v)")
    }
    // L1 normalization holds on both vectors
    assert(math.abs(spark2.values.map(_._1).sum - 1.0) < 1e-9)
    assert(math.abs(spark2.values.map(_._2).sum - 1.0) < 1e-9)
  }

  /** Independent power iteration for the PERSONALIZED model: teleport
    * and dangling mass go to the source distribution p. */
  private def personalIter(edges: Seq[(Long, Long)], sources: Set[Long],
                           d: Double, tol: Double,
                           maxIters: Int): Map[Long, Double] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val out = edges.distinct.groupBy(_._1)
    def p(v: Long) = if (sources(v)) 1.0 / sources.size else 0.0
    var pr = nodes.map(v => v -> p(v)).toMap
    var delta = Double.MaxValue
    var it = 0
    while (it < maxIters && delta > tol) {
      val dangling = nodes.filterNot(out.contains).map(pr).sum
      val in = edges.distinct.groupBy(_._2).map { case (v, es) =>
        v -> es.map(e => pr(e._1) / out(e._1).size).sum
      }
      val next = nodes.map(v => v ->
        ((1.0 - d) * p(v) + d * dangling * p(v) +
          d * in.getOrElse(v, 0.0))).toMap
      delta = nodes.map(v => math.abs(next(v) - pr(v))).sum
      pr = next
      it += 1
    }
    pr
  }

  test("personalizedPageRank: proximity to sources, zero off-component, mass conserved") {
    // component A: 1→2→3 (3 a sink); component B: 10↔11, unreachable
    // from the sources {1}
    // d = 0.5 so the 3-chain + teleport loop contracts fast enough to
    // hit tol within the cap (the chain mixes at exactly rate d/round)
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 10L))
    val (prDf, iters, converged) = Graph.personalizedPageRank(
      edges.toDF("s", "t"), "s", "t", sources = Seq(1L),
      maxIters = 60, d = 0.5, tol = 1e-9)
    val got = prDf.orderBy("node").as[(Long, Double)].collect().toMap
    assert(converged && iters < 60)
    // sink dangling mass returns to the source set → Σpr = 1 exactly
    assert(math.abs(got.values.sum - 1.0) < 1e-9, got.toString)
    // the unreachable component holds exactly zero rank
    assert(got(10L) == 0.0 && got(11L) == 0.0)
    // proximity ordering: source > its child > grandchild
    assert(got(1L) > got(2L) && got(2L) > got(3L))
    val exp = personalIter(edges, Set(1L), d = 0.5, tol = 1e-9,
      maxIters = 60)
    exp.foreach { case (v, x) =>
      assert(math.abs(got(v) - x) < 1e-8, s"node $v: got ${got(v)} want $x")
    }
  }

  test("kCore: clique survives, pendant chain peels in cascade, cap truncates") {
    // K4 on {1,2,3,4} plus a pendant chain 4-5-6: 2-core = the clique
    // (node 6 peels first, exposing 5 — a genuine multi-round cascade)
    val k4 = (for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b))
    val edges = (k4 ++ Seq((4L, 5L), (5L, 6L))).toDF("s", "t")
    val (core, rounds, converged) = Graph.kCore(edges, "s", "t", k = 2)
    val got = core.as[(Long, Long)].collect().toMap
    assert(converged && rounds == 2, s"rounds=$rounds")
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), got.toString)
    // k above the max degree empties the graph
    val (empty, _, conv2) = Graph.kCore(edges, "s", "t", k = 10)
    assert(conv2 && empty.isEmpty)
    // cap mid-cascade: one round only peels node 6; 5 still present
    val (capped, r3, conv3) = Graph.kCore(edges, "s", "t", k = 2,
      maxRounds = 1)
    assert(!conv3 && r3 == 1)
    assert(capped.as[(Long, Long)].collect().toMap.contains(5L))
    // duplicate + reversed edges don't double-count degrees
    val dup = edges.unionAll(Seq((2L, 1L), (1L, 2L)).toDF("s", "t"))
    val (core2, _, _) = Graph.kCore(dup, "s", "t", k = 2)
    assert(core2.as[(Long, Long)].collect().toMap == got)
  }

  // 1→4 direct costs 10; 1→2→3→4 costs 3. Bellman-Ford must prefer
  // the 3-hop route once allowed enough rounds.
  private lazy val weighted = Seq((1L, 4L, 10L), (1L, 2L, 1L), (2L, 3L, 1L),
    (3L, 4L, 1L), (4L, 5L, 1L)).toDF("s", "t", "w")

  test("shortestPaths: cheap long route beats expensive direct edge, hop cap bounds it") {
    val e = weighted
    val (d, rounds, conv) = Graph.shortestPaths(e, "s", "t", "w",
      sources = Seq(1L), maxRounds = 10)
    assert(conv && rounds <= 5)
    assert(d.as[(Long, Long)].collect().toMap ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    // hop cap 1: only ≤1-edge routes exist → direct edge wins at 10
    val (d1, _, conv1) = Graph.shortestPaths(e, "s", "t", "w",
      sources = Seq(1L), maxRounds = 1)
    assert(!conv1)
    assert(d1.as[(Long, Long)].collect().toMap ==
      Map(1L -> 0L, 2L -> 1L, 4L -> 10L))
    // multi-source: nearest of {1, 5} (5 has no out-edges beyond none)
    val (dm, _, _) = Graph.shortestPaths(e, "s", "t", "w",
      sources = Seq(1L, 4L), maxRounds = 10)
    assert(dm.as[(Long, Long)].collect().toMap ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 0L, 5L -> 1L))
  }

  test("shortestPaths: each round's checkpoint job carries the change count, no probe job") {
    // 5 rounds: 4 that lower a cost and the one that finds nothing.
    // The loop that probed each checkpoint with a limit(1).count ran
    // 26 jobs here (4-core local session); at least one job per round
    // must be gone.
    val ((d, rounds, conv), jobs) = jobsOf(Graph.shortestPaths(weighted,
      "s", "t", "w", sources = Seq(1L), maxRounds = 10))
    assert(conv && rounds == 4)
    assert(d.count() == 5L)
    assert(jobs <= 26 - 5, s"jobs=$jobs")
    graft.ops.CacheScope.releaseAll()
  }

  test("bfsHops: ring closed form, multi-source min, maxHops cutoff") {
    // 8-ring: hop(v) from source 0 = min(v, 8-v)
    val ring = (0L until 8L).map(i => (i, (i + 1) % 8)).toDF("s", "t")
    val got = Graph.bfsHops(ring, "s", "t", sources = Seq(0L), maxHops = 10)
      .as[(Long, Long)].collect().toMap
    assert(got == (0L until 8L).map(v => v -> math.min(v, 8 - v)).toMap)
    // multi-source: distance to the NEAREST of {0, 4} on the same ring
    val multi = Graph.bfsHops(ring, "s", "t", sources = Seq(0L, 4L),
      maxHops = 10).as[(Long, Long)].collect().toMap
    assert(multi == (0L until 8L).map(v =>
      v -> math.min(math.min(v, 8 - v), math.abs(v - 4))).toMap)
    // maxHops truncates the expansion: only hops ≤ 2 survive
    val cut = Graph.bfsHops(ring, "s", "t", sources = Seq(0L), maxHops = 2)
      .as[(Long, Long)].collect().toMap
    assert(cut == got.filter(_._2 <= 2), cut.toString)
    // disconnected component is never reached
    val twoComp = Seq((1L, 2L), (10L, 11L)).toDF("s", "t")
    val reach = Graph.bfsHops(twoComp, "s", "t", sources = Seq(1L),
      maxHops = 5).as[(Long, Long)].collect().toMap
    assert(reach == Map(1L -> 0L, 2L -> 1L))
  }
}
