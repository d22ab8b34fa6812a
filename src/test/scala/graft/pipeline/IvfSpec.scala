package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IvfSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("IVF with full probe (nProbe = nCells) is exact — equals brute force") {
    val queries = emb.filter($"vec_id" < 3)
    val idx = IvfIndex.build(emb, "vec_id", "embedding", nCells = 8)
    val ivf = idx.topK(queries, "embedding", k = 5, nProbe = 8)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    assert(ivf == bf)
  }

  test("cosine-metric partial probe: assignment cell is the top-1 probed cell; recall pinned") {
    val idx = IvfIndex.build(emb, "vec_id", "embedding", nCells = 8)
    // a corpus vector used AS the query ranks its own assigned cell
    // first (probe ≡ assignment metric, both in normalized space) —
    // the invariant the e7 planted-twin oracle rests on
    val queries = emb.filter($"vec_id" < 8)
    val assignedCell = idx.cells.filter($"vec_id" < 8)
      .select($"vec_id", $"cell").as[(Long, Int)].collect().toMap
    val top1Hits = idx.topK(queries, "embedding", k = 1, nProbe = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    // nProbe=1 only sees the query's own cell — every returned
    // neighbor must live there
    val cellOf = idx.cells.select($"vec_id", $"cell")
      .as[(Long, Int)].collect().toMap
    top1Hits.foreach { case (q, n) =>
      assert(cellOf(n) == assignedCell(q),
        s"query $q probed a different cell than its assignment")
    }
    // normalized-space probing recovers the true cosine top-1 for most
    // queries even at nProbe 2/8 (deterministic: seeded kmeans, fixed
    // corpus) — pin the measured recall as a floor
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val partial = idx.topK(queries, "embedding", k = 1, nProbe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val recall = partial.count { case (q, n) => bf(q) == n }
    assert(recall >= 5, s"cosine recall@nProbe=2 was $recall/8")
    idx.close()
  }

  test("save/load round-trip: the reloaded index answers identically, no retraining") {
    val path = scratchDir("graft_ivfio") + "/idx"
    val queries = emb.filter($"vec_id" < 3)
    val built = IvfIndex.build(emb, "vec_id", "embedding", nCells = 8)
    built.save(path)
    val loaded = IvfIndex.load(spark, path)
    assert(loaded.builtAt == built.builtAt) // staleness stamp survives
    def ans(i: IvfIndex) = i.topK(queries, "embedding", k = 5, nProbe = 2)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(ans(loaded) == ans(built))
    // a re-save lands in a new snapshot; vacuum keeps only the current
    built.save(path)
    IvfIndex.vacuum(spark, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snaps = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .map(_.getPath.getName).filter(_.startsWith("snap_"))
    assert(snaps.length == 1)
    assert(ans(IvfIndex.load(spark, path)) == ans(built))
    built.close(); loaded.close()
  }

  test("distributed Lloyd's refinement lowers clustering cost, keeps invariants") {
    import graft.functions.VectorExprs.l2_normalize
    val normed = emb.select(l2_normalize(
      Similarity.vecD($"embedding")).as("nv"))
    // inertia comparand: Σ min_c (‖c‖² − 2·v·c) — differs from true
    // inertia by the centroid-independent Σ‖v‖², so ordering is exact
    def cost(cents: Array[Array[Double]]): Double = {
      val lit = typedlit(cents.map(_.toSeq).toSeq)
      normed.select(aggregate(
          transform(lit, c => graft.functions.VectorExprs.dot_product(c, c) -
            org.apache.spark.sql.functions.lit(2.0) *
              graft.functions.VectorExprs.dot_product($"nv", c)),
          org.apache.spark.sql.functions.lit(Double.MaxValue),
          (acc, d) => least(acc, d)).as("d"))
        .agg(sum($"d")).as[Double].head()
    }
    val sampleOnly = IvfIndex.build(emb, "vec_id", "embedding", nCells = 8,
      maxTrainRows = 64) // deliberately tiny sample → refinable seed
    val refined = IvfIndex.build(emb, "vec_id", "embedding", nCells = 8,
      maxTrainRows = 64, distIters = 3)
    assert(cost(refined.centroids) <= cost(sampleOnly.centroids) + 1e-9,
      "full-corpus Lloyd's rounds must not increase clustering cost")
    // the refined index keeps the assignment≡probe invariant: a corpus
    // vector used as its own query still finds itself at nProbe=1
    val self = refined.topK(emb.filter($"vec_id" < 4), "embedding",
        k = 1, nProbe = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(self.length == 4) // every query answered from its own cell
  }

  test("append indexes a batch against FROZEN centroids; grown index ≡ one-shot assignment") {
    val even = emb.filter($"vec_id" % 2 === 0)
    val odd = emb.filter($"vec_id" % 2 === 1)
    val base = IvfIndex.build(even, "vec_id", "embedding", nCells = 8,
      distIters = 0) // deterministic centroids for the comparison
    val grown = base.append(odd, "embedding")
    // centroids are untouched — append never retrains
    assert(grown.centroids.map(_.toSeq).toSeq ==
      base.centroids.map(_.toSeq).toSeq)
    // every appended vector lands in the cell a fresh assignment
    // against the same centroids would give it
    val expect = odd.count()
    val evenIds = even.select($"vec_id").as[Long].collect().toSet
    val appended = grown.cells.filter(!$"vec_id".isin(evenIds.toSeq: _*))
    assert(appended.count() == expect)
    // full-probe query over the grown index ≡ brute force over ALL
    val q = emb.filter($"vec_id" < 3)
    val got = grown.topK(q, "embedding", k = 5, nProbe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val bf = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(got == bf)
  }

  test("filtered search: every result satisfies the filter; full probe is filtered-exact") {
    val idx = IvfIndex.build(emb, "vec_id", "embedding", nCells = 8)
    val allowed = emb.filter($"label" === 3).select("vec_id")
    val allowedSet = allowed.as[Long].collect().toSet
    assert(allowedSet.nonEmpty)
    val q = emb.filter($"vec_id" < 3)
    val got = idx.topK(q, "embedding", k = 5, nProbe = 8,
      allowed = Some(allowed))
    got.select("neighbor_id").as[Long].collect()
      .foreach(n => assert(allowedSet(n), s"neighbor $n violates the filter"))
    val bf = Similarity.bruteForceTopK(
        emb.filter($"label" === 3), q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(got.select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet == bf)
  }

  test("IVF with partial probe returns k ranked candidates from probed cells") {
    val queries = emb.filter($"vec_id" < 3)
    val idx = IvfIndex.build(emb, "vec_id", "embedding", nCells = 8)
    val got = idx.topK(queries, "embedding", k = 5, nProbe = 2)
    val byQ = got.groupBy("query_id").count()
      .as[(Long, Long)].collect().toMap
    assert(byQ.size == 3 && byQ.values.forall(_ == 5))
    // ranking within results is by cosine desc
    val r = got.filter($"query_id" === 0).orderBy($"rank")
      .select("cos").as[Double].collect().toSeq
    assert(r == r.sorted.reverse)
  }

  test("topK dedups pairs: a queries frame that repeats an id answers it once") {
    val idx = IvfIndex.build(emb, "vec_id", "embedding", nCells = 8)
    val q = emb.filter($"vec_id" < 3)
    def ans(queries: org.apache.spark.sql.DataFrame) =
      idx.topK(queries, "embedding", k = 5, nProbe = 8)
        .select($"query_id", $"neighbor_id", $"rank")
        .as[(Long, Long, Int)].collect().sorted.toSeq
    val once = ans(q)
    assert(once.length == 15)
    // each repeated query row yields its (query, neighbor) pairs again;
    // the dedup keeps one, so ranks and results are the single query's
    assert(ans(q.unionByName(q).unionByName(q.filter($"vec_id" === 0))) == once)
    idx.close()
  }
}
