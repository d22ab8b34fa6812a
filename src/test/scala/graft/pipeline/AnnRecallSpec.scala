package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Recall curves for every ANN family at REDUCED probe/candidate
  * budgets on synthetic clustered data (the regime the e3/e6–e9
  * planted-twin oracles don't exercise: those pin exactness at
  * full/near-full probe; these pin that a *partial* probe still
  * recovers the true neighborhood).
  *
  * The corpus is deterministic: 16 well-separated clusters on the
  * unit sphere (center c = axis eᶜ, points = center + seeded noise),
  * so a vector's true cosine top-10 is dominated by its own cluster
  * and a correct coarse quantizer recovers it from a 2-cell probe.
  * Floors are measured values minus real slack — they fail on recall
  * REGRESSIONS (metric drift, probe/assignment divergence, candidate
  * mis-cut), not on ulp jitter: everything here is seeded and
  * single-plan deterministic. */
class AnnRecallSpec extends SparkSpec {
  import spark.implicits._

  private val nClusters = 16
  private val perCluster = 125
  private val dims = 16
  private val k = 10

  /** (id, embedding): cluster c spans ids [c·125, (c+1)·125). */
  private lazy val corpus: DataFrame = {
    val rnd = new scala.util.Random(20260813L)
    val rows = for {
      c <- 0 until nClusters
      j <- 0 until perCluster
    } yield {
      val v = Array.tabulate(dims)(d =>
        (if (d == c) 1.0f else 0.0f) + (rnd.nextGaussian() * 0.12).toFloat)
      (c.toLong * perCluster + j, v.toSeq)
    }
    rows.toDF("vec_id", "embedding").repartition(8).cache()
  }

  // one query per cluster (the cluster's first point)
  private lazy val queries = corpus.filter($"vec_id" % perCluster === 0)

  private lazy val truth: Map[Long, Set[Long]] = pairs(
    Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", k))

  private def pairs(df: DataFrame): Map[Long, Set[Long]] =
    df.select("query_id", "neighbor_id").as[(Long, Long)]
      .collect().groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }

  /** recall@10 micro-averaged over the 16 queries. */
  private def recall(df: DataFrame): Double = recallVs(df, truth)

  private def recallVs(df: DataFrame, t: Map[Long, Set[Long]]): Double = {
    val got = pairs(df)
    t.map { case (q, ts) =>
      ts.intersect(got.getOrElse(q, Set.empty)).size.toDouble / ts.size
    }.sum / t.size
  }

  test("IVF recall@10 curve: partial probe holds a floor, rises with nProbe, exact at full") {
    val idx = IvfIndex.build(corpus, "vec_id", "embedding", nCells = nClusters,
      maxTrainRows = 2000)
    val r2 = recall(idx.topK(queries, "embedding", k, nProbe = 2))
    val r4 = recall(idx.topK(queries, "embedding", k, nProbe = 4))
    val rFull = recall(idx.topK(queries, "embedding", k, nProbe = nClusters))
    info(f"ivf recall@10: nProbe2=$r2%.3f nProbe4=$r4%.3f full=$rFull%.3f")
    assert(rFull == 1.0, s"full probe must be exact, got $rFull")
    assert(r4 >= r2 - 1e-9, "recall must not fall as nProbe grows")
    assert(r2 >= 0.90, s"IVF recall@10 at nProbe=2/16 was $r2")
    idx.close()
  }

  test("filtered IVF at ≤1% selectivity: partial probe holds a floor, rises with probe, exact at full") {
    // the starvation regime e12's full-probe oracle can't see: the
    // allowed set is 20 of 2000 ids (1%), SPREAD across clusters (id
    // ≡ 7 mod 100), so most of a query's filtered top-10 lives in
    // OTHER cells and a narrow probe misses it — inverted-list
    // pre-filtering keeps results all-valid but recall must be bought
    // with nProbe as the filter narrows (documented contract on
    // IvfIndex.topK). Floors pin that the curve is sane: monotone in
    // nProbe, exact at full probe, and a mid probe already recovers
    // most of the filtered neighborhood.
    val idx = IvfIndex.build(corpus, "vec_id", "embedding",
      nCells = nClusters, maxTrainRows = 2000)
    val allowed = corpus.filter($"vec_id" % 100 === 7).select("vec_id")
    assert(allowed.count() == 20) // 1% of the corpus, no query id in it
    val fTruth = pairs(Similarity.bruteForceTopK(
      corpus.join(allowed, Seq("vec_id"), "left_semi"),
      queries, "vec_id", "embedding", k))
    def r(nProbe: Int): Double = recallVs(
      idx.topK(queries, "embedding", k, nProbe, allowed = Some(allowed)),
      fTruth)
    val r2 = r(2); val r8 = r(8); val rFull = r(nClusters)
    info(f"filtered ivf recall@10 @1%%: nProbe2=$r2%.3f nProbe8=$r8%.3f full=$rFull%.3f")
    assert(rFull == 1.0, s"full probe must be exact under the filter, got $rFull")
    assert(r8 >= r2 - 1e-9, "recall must not fall as nProbe grows")
    // measured 0.269 / 0.750 / 1.000 — floor = measured minus slack
    assert(r8 >= 0.65, s"filtered recall@10 at nProbe=8/16 was $r8")
    idx.close()
  }

  test("geometry-CORRELATED filter: survivors live in 2 cells — the probe budget goes to live cells only") {
    // the adversarial case the hash-random (id mod) filter above can't
    // exercise: ALL survivors sit in clusters 3 and 11, so for 14 of
    // 16 queries every nearby cell is EMPTY after the filter. A
    // geometry-blind probe spends its whole budget on emptied cells
    // (recall ~0 at low probe); the filter-aware probe
    // (IvfIndex.probeCellsAmong) ranks live cells only, so a 2-cell
    // budget already covers the entire filtered corpus.
    val idx = IvfIndex.build(corpus, "vec_id", "embedding",
      nCells = nClusters, maxTrainRows = 2000)
    val allowed = corpus.filter(
      ($"vec_id" >= 3L * perCluster && $"vec_id" < 4L * perCluster) ||
      ($"vec_id" >= 11L * perCluster && $"vec_id" < 12L * perCluster))
      .select("vec_id")
    assert(allowed.count() == 2L * perCluster)
    val fTruth = pairs(Similarity.bruteForceTopK(
      corpus.join(allowed, Seq("vec_id"), "left_semi"),
      queries, "vec_id", "embedding", k))
    def r(nProbe: Int): Double = recallVs(
      idx.topK(queries, "embedding", k, nProbe, allowed = Some(allowed)),
      fTruth)
    val r1 = r(1); val r2 = r(2); val rFull = r(nClusters)
    info(f"correlated-filter ivf recall@10: nProbe1=$r1%.3f nProbe2=$r2%.3f full=$rFull%.3f")
    assert(rFull == 1.0, s"full probe must be exact under the filter, got $rFull")
    assert(r2 >= r1 - 1e-9, "recall must not fall as nProbe grows")
    // with list pruning, 2 probed LIVE cells cover both surviving
    // clusters — exact at nProbe=2 even though 14/16 queries sit in
    // other clusters. A geometry-blind probe would leave those 14
    // queries with ZERO candidates at nProbe=2 (both probed cells
    // emptied by the filter), capping recall at 2/16
    assert(r2 == 1.0, s"correlated-filter recall@10 at nProbe=2 was $r2")
    idx.close()
  }

  test("correlated filter across the other families: annJoin and IVF-PQ prune to live cells too") {
    val idx = IvfIndex.build(corpus, "vec_id", "embedding",
      nCells = nClusters, maxTrainRows = 2000)
    val allowed = corpus.filter(
      ($"vec_id" >= 3L * perCluster && $"vec_id" < 4L * perCluster) ||
      ($"vec_id" >= 11L * perCluster && $"vec_id" < 12L * perCluster))
      .select("vec_id")
    val fTruth = pairs(Similarity.bruteForceTopK(
      corpus.join(allowed, Seq("vec_id"), "left_semi"),
      queries, "vec_id", "embedding", k))
    // ANN JOIN (big-left shape): 2 live-cell probe covers the whole
    // filtered corpus — exact (excludeSelf matches bruteForceTopK's
    // self-exclusion)
    val aj = recallVs(idx.annJoin(queries, "vec_id", "embedding", k,
      nProbe = 2, excludeSelf = true, allowed = Some(allowed)), fTruth)
    assert(aj == 1.0, s"filtered annJoin recall@10 at nProbe=2 was $aj")
    // IVF-PQ: 250 allowed candidates all fit the 256-candidate ADC
    // cut, so the exact re-rank recovers the filtered truth entirely
    val pq = PqIndex.build(corpus, "vec_id", "embedding",
      m = 4, nWords = 32, maxTrainRows = 2000)
    val pqr = recallVs(pq.topKProbed(queries, "embedding", idx,
      nProbe = 2, k = k, nCandidates = 256, allowed = Some(allowed)),
      fTruth)
    assert(pqr == 1.0, s"filtered IVF-PQ recall@10 at nProbe=2 was $pqr")
    idx.close()
  }

  test("IVF-PQ recall@10 at reduced probe and candidates") {
    val coarse = IvfIndex.build(corpus, "vec_id", "embedding",
      nCells = nClusters, maxTrainRows = 2000)
    val pq = PqIndex.build(corpus, "vec_id", "embedding",
      m = 4, nWords = 32, maxTrainRows = 2000)
    val r32 = recall(pq.topKProbed(queries, "embedding", coarse,
      nProbe = 2, k = k, nCandidates = 32))
    val r128 = recall(pq.topKProbed(queries, "embedding", coarse,
      nProbe = 4, k = k, nCandidates = 128))
    info(f"ivfpq recall@10: p2c32=$r32%.3f p4c128=$r128%.3f")
    assert(r128 >= r32 - 1e-9, "recall must not fall as the budget grows")
    // measured 0.806 / 1.000 — floors leave slack for ulp-level drift
    assert(r32 >= 0.75, s"IVF-PQ recall@10 at nProbe=2, nCandidates=32 was $r32")
    assert(r128 >= 0.95, s"IVF-PQ recall@10 at nProbe=4, nCandidates=128 was $r128")
    pq.close(); coarse.close()
  }

  test("residual IVF-PQ recall@10 beats flat PQ at the same reduced budget") {
    val coarse = IvfIndex.build(corpus, "vec_id", "embedding",
      nCells = nClusters, maxTrainRows = 2000)
    val flat = PqIndex.build(corpus, "vec_id", "embedding",
      m = 4, nWords = 32, maxTrainRows = 2000)
    val rpq = PqIndex.buildResidual(corpus, "vec_id", "embedding", coarse,
      m = 4, nWords = 32, maxTrainRows = 2000)
    val rFlat = recall(flat.topKProbed(queries, "embedding", coarse,
      nProbe = 2, k = k, nCandidates = 32))
    val rResid = recall(rpq.topKProbed(queries, "embedding", coarse,
      nProbe = 2, k = k, nCandidates = 32))
    info(f"p2c32 recall@10: flat=$rFlat%.3f residual=$rResid%.3f")
    // residual codewords spend the same m·log2(nWords) bits on the
    // tighter residual distribution — measured 0.869 vs 0.806
    assert(rResid >= rFlat - 1e-9,
      s"residual ($rResid) must not trail flat PQ ($rFlat) at equal budget")
    assert(rResid >= 0.80, s"residual IVF-PQ recall@10 was $rResid")
    rpq.close(); flat.close(); coarse.close()
  }

  test("ANN join recall@10 at partial probe; full probe exact") {
    val idx = IvfIndex.build(corpus, "vec_id", "embedding",
      nCells = nClusters, maxTrainRows = 2000)
    // left = the query rows themselves (excludeSelf reproduces the
    // brute-force ground truth's self-exclusion)
    val r2 = recall(idx.annJoin(queries, "vec_id", "embedding", k,
      nProbe = 2, excludeSelf = true))
    val rFull = recall(idx.annJoin(queries, "vec_id", "embedding", k,
      nProbe = nClusters, excludeSelf = true))
    info(f"annJoin recall@10: nProbe2=$r2%.3f full=$rFull%.3f")
    assert(rFull == 1.0, s"full-probe ANN join must be exact, got $rFull")
    assert(r2 >= 0.90, s"ANN join recall@10 at nProbe=2/16 was $r2")
    idx.close()
  }

  test("progressive-dim re-rank: recall rises with prefix width, exact at full candidates") {
    // this corpus front-loads nothing (the informative axis is the
    // cluster dim c, uniformly spread over all 16 dims), so treat the
    // prefix as a generic low-dim filter: even 8/16 dims holds a high
    // floor because half the cluster axes survive
    def run(dPrefix: Int, cand: Int) = recall(Similarity.progressiveTopK(
      corpus, queries, "vec_id", "embedding", k, dPrefix, cand))
    val r8c40 = run(8, 40)
    val r16full = run(16, nClusters * perCluster)
    info(f"progressive recall@10: d8c40=$r8c40%.3f d16full=$r16full%.3f")
    assert(r16full == 1.0,
      s"full-prefix full-candidates must be exact, got $r16full")
    assert(r8c40 >= 0.50, s"8/16-dim 40-candidate recall was $r8c40")
    // widening the candidate pool at fixed prefix never hurts
    assert(run(8, 120) >= r8c40 - 1e-9)
  }

  test("append drift: full probe stays exact, partial probe holds a floor, driftRatio crosses the rebuild threshold") {
    // the gap the e13 gate's exact contract can't see: append a batch
    // OFF the trained manifold (a new cluster at −(e0+e1)/√2 — far
    // from every trained axis centroid) and pin (a) the exactness
    // contract survives the append at FULL probe, for old queries and
    // for a query inside the new cluster; (b) partial probe still
    // holds a floor — appended vectors assign via the same expression
    // probing uses, so the new cluster concentrates in one reachable
    // cell; (c) the drift metric SEPARATES: an in-distribution batch
    // reads ≈ 1, the shifted batch far above RebuildDriftRatio — the
    // documented rebuild trigger (IvfIndex.append Scaladoc) fires on
    // exactly the batch that erodes partial-probe recall.
    val idx = IvfIndex.build(corpus, "vec_id", "embedding",
      nCells = nClusters, maxTrainRows = 2000)
    val rnd = new scala.util.Random(20260816L)
    val inv = math.sqrt(2.0).toFloat
    val shifted = (0 until perCluster).map { j =>
      val v = Array.tabulate(dims)(d =>
        (if (d <= 1) -1.0f / inv else 0.0f) +
          (rnd.nextGaussian() * 0.12).toFloat)
      (100000L + j, v.toSeq)
    }.toDF("vec_id", "embedding")
    val inDist = (0 until perCluster).map { j =>
      val c = j % nClusters
      val v = Array.tabulate(dims)(d =>
        (if (d == c) 1.0f else 0.0f) + (rnd.nextGaussian() * 0.12).toFloat)
      (200000L + j, v.toSeq)
    }.toDF("vec_id", "embedding")
    val rIn = idx.driftRatio(inDist, "embedding")
    val rShift = idx.driftRatio(shifted, "embedding")
    info(f"driftRatio: inDist=$rIn%.3f shifted=$rShift%.3f")
    assert(rIn < IvfIndex.RebuildDriftRatio,
      s"in-distribution batch must not trip the rebuild trigger: $rIn")
    assert(rShift >= IvfIndex.RebuildDriftRatio,
      s"off-manifold batch must trip the rebuild trigger: $rShift")

    val idx2 = idx.append(shifted, "embedding")
    val all = corpus.unionByName(shifted)
    val q2 = queries.unionByName(shifted.filter($"vec_id" === 100000L))
    val truth2 = pairs(Similarity.bruteForceTopK(
      all, q2, "vec_id", "embedding", k))
    val rFull = recallVs(
      idx2.topK(q2, "embedding", k, nProbe = nClusters), truth2)
    assert(rFull == 1.0,
      s"full probe must stay exact after the append, got $rFull")
    val r2 = recallVs(idx2.topK(q2, "embedding", k, nProbe = 2), truth2)
    info(f"post-append recall@10 at nProbe=2: $r2%.3f")
    // measured 0.988 (old queries hold their curve; the new cluster's
    // query finds its whole neighborhood in its one assigned cell) —
    // floor = measured minus real slack
    assert(r2 >= 0.85, s"post-append recall@10 at nProbe=2/16 was $r2")
    idx2.close(); idx.close()
  }

  test("SQ8 recall@10 at reduced candidates") {
    val r16 = recall(Sq.topK(corpus, queries, "vec_id", "embedding",
      k = k, nCandidates = 16))
    val r64 = recall(Sq.topK(corpus, queries, "vec_id", "embedding",
      k = k, nCandidates = 64))
    info(f"sq8 recall@10: c16=$r16%.3f c64=$r64%.3f")
    assert(r64 >= r16 - 1e-9, "recall must not fall as candidates grow")
    // int8 error ≤ max|x|/254 per component barely perturbs cosine
    // order, so even a 16-candidate cut holds nearly everything
    assert(r16 >= 0.95, s"SQ8 recall@10 at nCandidates=16 was $r16")
  }

  test("progressive-dim re-rank at candidates = |corpus| equals brute force row for row") {
    val n = nClusters * perCluster
    def rows(df: DataFrame) = df
      .select("query_id", "neighbor_id", "cos", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    val bf = rows(Similarity.bruteForceTopK(corpus, queries, "vec_id",
      "embedding", k))
    for (dPrefix <- Seq(1, 8))
      assert(rows(Similarity.progressiveTopK(corpus, queries, "vec_id",
        "embedding", k, dPrefix, n)) == bf, s"dPrefix = $dPrefix")
  }

  test("e14 shape: one progressiveTopK call runs ≤ 3 jobs and joins nothing back to the corpus") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val df = Similarity.progressiveTopK(emb, emb.filter($"vec_id" < 5),
      "vec_id", "embedding", k = 10, dPrefix = 8, candidates = 50)
    val (rows, jobs) = jobsOf(df.collect())
    assert(rows.length == 50)
    info(s"progressiveTopK: $jobs jobs")
    assert(jobs <= 3, s"one progressiveTopK call ran $jobs jobs")
    val joins = allNodes(df.queryExecution.executedPlan).count(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])
    assert(joins == 1, s"expected only the scan join, found $joins joins")
  }
}
