package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.catalog.SnapshotManifest
import graft.ops.{CacheScope, Kernels}

/** IVF (inverted-file) approximate nearest neighbor: k-means coarse
  * quantizer over a bounded corpus sample, per-cell inverted lists,
  * query probes only the `nProbe` nearest cells — the classic
  * FAISS-IVF-Flat structure expressed as DataFrames.
  *
  * Scale shape: the quantizer SEEDS driver-locally on a bounded
  * reservoir sample (≤ `maxTrainRows` vectors — FAISS's own coarse-
  * training posture; the collect is O(maxTrainRows · dims) at any
  * corpus size) and then REFINES with full-corpus distributed
  * Lloyd's rounds — the same shared kernel as [[Cluster.fit]], where
  * each round is one codegen assignment projection plus one
  * map-side-combined (cell, dim) aggregation whose shuffle is
  * O(nCells · dims). Cell ASSIGNMENT is one distributed pass over
  * the full corpus with the centroid array as a literal (codegen dot
  * products, no join, no shuffle), and a query touches
  * ~nProbe/nCells of the corpus. The cell column is the natural
  * partition key for the stored index.
  *
  * A probe scores exact cosines on the raw vectors it reads, so it
  * needs no re-rank; a quantized scan within the probed cells
  * ([[PqIndex.topKProbed]]) verifies through the one exact re-rank
  * tail, [[Similarity.rerank]].
  */
class IvfIndex private (val cells: DataFrame,
                        private[pipeline] val centroids: Array[Array[Double]],
                        id: String, val builtAt: Long) {

  private[pipeline] def centroidLit: Column =
    typedlit(centroids.map(_.toSeq).toSeq)

  /** The cell a raw vector is assigned to: the projection [[IvfIndex.build]]
    * and [[append]] assign with, so it reproduces a stored vector's cell. */
  private[pipeline] def cellOf(cv: Column): Column =
    IvfIndex.nearestCellEuclid(
      graft.functions.VectorExprs.l2_normalize(cv), centroidLit)

  /** Coarse-probe column for composition ([[PqIndex.topKProbed]]):
    * the `nProbe` nearest cells of a query vector, ranked in the same
    * L2-NORMALIZED space the quantizer was trained and assigned in. */
  private[pipeline] def probeCells(qv: Column, nProbe: Int): Column =
    IvfIndex.nearestCells(
      graft.functions.VectorExprs.l2_normalize(qv), centroidLit, nProbe)

  /** [[probeCells]] restricted to a LIVE cell set — the filter-aware
    * probe (FAISS-style inverted-list pruning): rank ALL centroids,
    * keep the `nProbe` nearest cells that still hold candidates. With
    * a geometry-CORRELATED filter (all survivors in a few cells) the
    * plain probe spends its whole budget on cells the filter emptied
    * and recall collapses; spending it on live cells only makes the
    * budget count. Ranking all nCells costs O(nCells log nCells) per
    * query row — queries are broadcast-contract small, and at index
    * scale nCells ≪ corpus. */
  private[pipeline] def probeCellsAmong(qv: Column, nProbe: Int,
                                        live: Seq[Int]): Column =
    slice(filter(
      IvfIndex.nearestCells(graft.functions.VectorExprs.l2_normalize(qv),
        centroidLit, centroids.length),
      c => array_contains(typedlit(live), c)), 1, nProbe)

  /** Cells still holding candidates under a filter — one O(allowed)
    * aggregate whose result is bounded by nCells (the same
    * bounded-collect contract as the centroids themselves). */
  private[pipeline] def liveCells(allowed: DataFrame): Seq[Int] =
    cells.join(allowed.select(col(id)), Seq(id), "left_semi")
      .select("cell").distinct()
      .collect().map(_.getInt(0)).sorted.toSeq

  /** THE probe-selection policy, shared by [[topK]], [[annJoin]], and
    * [[PqIndex.topKProbed]]: plain nearest-cells ranking, or
    * live-cell list pruning under a filter. One place to change (e.g.
    * an explicit empty-live-set short-circuit) — not three. */
  private[pipeline] def probeExpr(qv: Column, nProbe: Int,
                                  allowed: Option[DataFrame]): Column =
    allowed match {
      case Some(a) => probeCellsAmong(qv, nProbe, liveCells(a))
      case None => probeCells(qv, nProbe)
    }

  /** Cosine top-k for each query vector, probing `nProbe` cells.
    *
    * FILTERED SEARCH: `allowed` restricts candidates to an id set (a
    * frame holding the index's id column — the result of an arbitrary
    * metadata predicate on the corpus) via a semi-join on the
    * inverted lists BEFORE any distance math — the "vector search
    * with a metadata filter" shape. Pre-filtering keeps the k results
    * all-valid (post-filtering a top-k can return < k), at the
    * classic recall cost under selective filters: a cell may hold
    * matches the probe budget skips — raise `nProbe` as the filter
    * narrows (at full probe the filtered search is exact, the e12
    * oracle). */
  def topK(queries: DataFrame, vec: String, k: Int, nProbe: Int,
           allowed: Option[DataFrame] = None): DataFrame =
    probeTopK(Similarity.queryFrame(queries, id, vec), k, nProbe, allowed,
      excludeSelf = true, small = true)

  /** Cross-corpus ANN JOIN: cosine top-k corpus neighbors for EVERY
    * left row — the labelling/enrichment shape ("nearest reference
    * doc for each training doc"). Unlike [[topK]] (whose query set is
    * broadcast by contract), the left side may be arbitrarily large:
    * probing is one codegen projection against the centroid literal
    * (no join), and candidates come from a shuffle hash join on the
    * cell id — both sides partition by cell, nothing broadcasts, and
    * candidate work per left row is ~nProbe/nCells of the corpus, so
    * the plan never degenerates to all-pairs at any |left|.
    *
    * Each corpus vector lives in exactly one cell, so a
    * (query, neighbor) pair arises at most once — no dedup pass.
    * `excludeSelf` only matters when left IS the corpus (self-join
    * enrichment); cross-corpus id collisions are not identity. */
  def annJoin(left: DataFrame, leftId: String, vec: String, k: Int,
              nProbe: Int, excludeSelf: Boolean = false,
              allowed: Option[DataFrame] = None): DataFrame =
    probeTopK(Kernels.ensureParallelism(
        Similarity.queryFrame(left, leftId, vec)), k, nProbe, allowed,
      excludeSelf, small = false)

  /** The one probe body of [[topK]] and [[annJoin]]: each query row
    * (`query_id, qv`) explodes into its probed cells ([[probeExpr]]:
    * the assignment metric in normalized space, which matches the
    * final cosine ranking; under a filter, LIVE cells only — a pure
    * expression, no join), joins the inverted lists on the cell (the
    * filter semi-joined in before any distance math), and the exact
    * cosines are ranked per query. A `small` query side (topK's) is
    * broadcast, and its pairs are deduplicated: a query frame that
    * repeats an id would otherwise yield each of its pairs once per
    * repeat. A large one (annJoin's) shuffles on the cell alongside
    * the lists, and since each corpus vector lives in one cell a pair
    * arises once per left row. */
  private def probeTopK(q: DataFrame, k: Int, nProbe: Int,
                        allowed: Option[DataFrame], excludeSelf: Boolean,
                        small: Boolean): DataFrame = {
    val probed = q.withColumn("cell",
      explode(probeExpr(col("qv"), nProbe, allowed)))
    val c0 = cells.select(col(id).as("neighbor_id"), col("cell"), col("cv"))
    val c = allowed.fold(c0)(a =>
      c0.join(a.select(col(id).as("neighbor_id")), Seq("neighbor_id"),
        "left_semi"))
    val joined = (if (small) broadcast(probed) else probed).join(c, Seq("cell"))
    val scored = (if (excludeSelf)
        joined.filter(col("neighbor_id") =!= col("query_id")) else joined)
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosine(col("qv"), col("cv")).as("cos"))
    Kernels.topKPerKeyRanked(
      if (small) scored.dropDuplicates("query_id", "neighbor_id") else scored,
      Seq("query_id"), Seq(col("cos"), -col("neighbor_id")), k)
  }

  /** Persist the index so later sessions query WITHOUT retraining —
    * at 100 TB, re-running Lloyd's per job is not an option. The
    * centroid array lands as a tiny parquet, the assigned corpus as a
    * cell-partitioned parquet (the inverted lists — a probe touches
    * only its cells' directories), both published as one snapshot
    * through [[IndexIo.publish]]: rebuilds never break in-flight
    * readers.
    *
    * Staleness contract (mirrors [[graft.analytics.StatsCache]]'s
    * `updated_at`): the snapshot reflects the corpus AS OF
    * [[builtAt]]; the index does not see later corpus changes.
    * Compare `builtAt` against the corpus table's modification time
    * and rebuild + re-[[save]] when stale — readers keep the old
    * snapshot until the flip. */
  def save(path: String): Unit = {
    val s = cells.sparkSession
    import s.implicits._
    IndexIo.publish(s, path, Seq(
      "kind" -> "ivf", "id" -> id,
      "n_cells" -> centroids.length.toString,
      "metric" -> "cosine-normalized", // trained/assigned/probed on unit vectors
      "built_at" -> builtAt.toString)) { dir =>
      centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "c")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
      cells.write.mode("overwrite").partitionBy("cell").parquet(s"$dir/cells")
    }
  }

  /** INCREMENTAL APPEND — index a new vector batch WITHOUT
    * retraining: the batch is assigned against the EXISTING centroids
    * (one codegen projection — the same expression the original
    * assignment used, so an appended vector lands exactly where a
    * full rebuild would put it given these centroids) and unioned
    * into the inverted lists. At 100 TB this is the ingest path: a
    * rebuild per batch re-trains and re-assigns the whole corpus;
    * this is O(batch). Queries over the returned index see old and
    * new vectors identically ([[topK]]'s math is
    * centroid-driven, not age-driven); [[save]] persists the grown
    * lists as a fresh snapshot.
    *
    * Drift contract: centroids stop being the corpus's k-means
    * optimum as appends skew the distribution — recall at partial
    * probe degrades gradually (full probe stays exact regardless,
    * the e13 oracle). REBUILD TRIGGER: measure [[driftRatio]] on the
    * batch BEFORE appending — at ≥ [[IvfIndex.RebuildDriftRatio]]
    * (1.5: the batch's mean quantization error is 1.5× the index's
    * own, i.e. the batch sits off the trained manifold) schedule
    * [[IvfIndex.build]] + [[save]] over the same path instead of
    * letting skewed mass accrete; readers flip atomically.
    * AnnRecallSpec's append-drift case pins both sides of the
    * threshold (in-distribution batches ≈ 1, an off-manifold cluster
    * well above 1.5) and the recall floors that hold meanwhile. */
  def append(batch: DataFrame, vec: String): IvfIndex = {
    val b = Kernels.ensureParallelism(
      batch.select(col(id), Similarity.vecD(col(vec)).as("cv")))
    val assigned = b.select(col(id), cellOf(col("cv")).as("cell"), col("cv"))
    new IvfIndex(CacheScope.persist(cells.unionByName(assigned)),
      centroids, id, System.currentTimeMillis())
  }

  /** DRIFT METRIC for the [[append]] path: the batch's mean squared
    * assignment distance to the FROZEN centroids (computed in the
    * same L2-normalized space assignment and probing use) over the
    * index's own current mean. An in-distribution batch reads ≈ 1 —
    * its vectors quantize as well as the corpus the centroids were
    * trained on; a batch off the trained manifold reads well above 1
    * (no centroid is near it, so partial-probe recall for its
    * neighborhood rests on a single distant cell). Compare against
    * [[IvfIndex.RebuildDriftRatio]] before appending.
    *
    * Cost: one codegen pass over the batch (O(batch)) plus one over
    * the inverted lists (O(index)) — the index-side mean is a
    * maintenance statistic; cache it between batches if appends are
    * frequent. No joins, no shuffles beyond the two averages. */
  def driftRatio(batch: DataFrame, vec: String): Double = {
    // avg over zero rows is a NULL aggregate: an EMPTY batch has no
    // drift by definition (appending it is a no-op), so return 0.0
    // instead of NPE-ing the maintenance job that measures-then-appends
    def meanD2(df: DataFrame): Option[Double] = {
      val r = df.select(avg(IvfIndex.nearestD2(
          graft.functions.VectorExprs.l2_normalize(col("cv")), centroidLit)))
        .collect()(0)
      if (r.isNullAt(0)) None else Some(r.getDouble(0))
    }
    val b = Kernels.ensureParallelism(
      batch.select(Similarity.vecD(col(vec)).as("cv")))
    meanD2(b) match {
      case None => 0.0
      case Some(bm) =>
        bm / math.max(meanD2(cells.select(col("cv"))).getOrElse(0.0), 1e-12)
    }
  }

  /** Release the cached cells frame (queries recompute afterwards). */
  def close(): Unit = cells.unpersist(blocking = false)
}

object IvfIndex {

  /** [[IvfIndex.driftRatio]] threshold above which an appended batch
    * should trigger a rebuild instead of accreting onto frozen
    * centroids (see the drift contract on [[IvfIndex.append]]). */
  val RebuildDriftRatio = 1.5

  /** Load a [[save]]d index: centroids re-collected from the tiny
    * parquet (driver memory O(nCells · dims)), inverted lists read
    * lazily and registered in [[graft.ops.CacheScope]] like a built
    * index. No training runs — the load cost is one small read. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    val (dir, meta) = IndexIo.open(spark, path, "ivf")
    val id = meta("id")
    val centroids = spark.read.parquet(s"$dir/centroids")
      .select(col("cell"), col("c")).collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
    val cells = CacheScope.persist(
      spark.read.parquet(s"$dir/cells")
        .select(col(id), col("cell"), col("cv")))
    new IvfIndex(cells, centroids, id, meta("built_at").toLong)
  }

  /** Drop all persisted snapshots except the current one. */
  def vacuum(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    SnapshotManifest.vacuumSnapDirs(spark, path)

  /** Build the index: deterministic Lloyd's k-means (fixed seed) on a
    * bounded sample, optionally refined by FULL-CORPUS distributed
    * Lloyd's rounds, then one distributed pass assigning every vector
    * to its nearest (Euclidean) centroid cell.
    *
    * METRIC (FAISS convention for cosine): the quantizer is trained,
    * assigned, and probed over L2-NORMALIZED vectors — on the unit
    * sphere, Euclidean ranking ≡ cosine ranking (‖a−b‖² = 2 − 2·cosθ),
    * so partial-probe cell ranking agrees with the final cosine
    * re-rank instead of being skewed by vector magnitudes. Stored
    * vectors stay RAW (cosine is scale-invariant, and the exact
    * re-rank keeps bit-parity with the brute-force oracle).
    *
    * `distIters` runs that many distributed Lloyd's rounds seeded
    * from the sample-trained centroids — the 100 TB training path
    * when the reservoir sample under-represents the corpus (each
    * round is one codegen assignment pass + one map-side-combined
    * aggregation; see [[distributedLloyd]] — the SAME kernel
    * [[Cluster.fit]] uses). Default 1: every build refines on the
    * full corpus. Pass 0 to keep the pure bounded-sample posture and
    * exact run-to-run determinism — distributed float sums are
    * shuffle-order-dependent in the last ulp (query results stay
    * exact either way wherever probing is full or re-ranked exactly;
    * only the cell boundaries can drift an ulp).
    *
    * The persisted cells frame (the index itself) and the build-time
    * base frame are registered in [[graft.ops.CacheScope]]; release
    * the scope (or call [[IvfIndex.close]]) when done. */
  def build(corpus: DataFrame, id: String, vec: String,
            nCells: Int, seed: Long = 42L,
            maxTrainRows: Int = 100000, distIters: Int = 1): IvfIndex = {
    val base = CacheScope.persist(Kernels.ensureParallelism(
        corpus.select(col(id), Similarity.vecD(col(vec)).as("cv"))))
    val centroids = train(
      base.select(graft.functions.VectorExprs.l2_normalize(col("cv")).as("nv")),
      nCells, distIters, seed, maxTrainRows)
    val assigned = CacheScope.persist(
      base.withColumn("cell", nearestCellEuclid(
          graft.functions.VectorExprs.l2_normalize(col("cv")), typedlit(
          centroids.map(_.toSeq).toSeq)))
        .select(col(id), col("cell"), col("cv")))
    new IvfIndex(assigned, centroids, id, System.currentTimeMillis())
  }

  /** THE k-means trainer of [[build]] and [[Cluster.fit]], over a frame
    * whose one column `nv` holds the vectors to cluster: a bounded
    * per-partition reservoir sample (see [[Sampling]]: no count()
    * pre-pass, one scan, unbiased under sorted/clustered ingest,
    * O(maxTrainRows · dims) driver memory at ANY corpus size) seeds
    * driver-local Lloyd's ([[localKMeans]]), then `distIters`
    * full-corpus [[distributedLloyd]] rounds refine it. */
  private[pipeline] def train(nv: DataFrame, k: Int, distIters: Int,
                              seed: Long, maxTrainRows: Int): Array[Array[Double]] = {
    val seeded = localKMeans(Sampling.boundedVectorSample(nv, maxTrainRows, seed),
      k, iters = 5, seed = seed)
    if (distIters <= 0) seeded else distributedLloyd(nv, seeded, distIters)
  }

  /** Distributed Lloyd's rounds over the FULL (normalized) corpus:
    * per round, one assignment pass with the centroid array as a
    * codegen literal (no join, no pre-agg shuffle) and one
    * (cell, dim) hash aggregation — map-side partials collapse each
    * task to ≤ nCells·dims rows, so the shuffle and the driver
    * collect are O(nCells · dims) at ANY corpus size. Empty cells
    * keep their previous centroid (standard Lloyd's, same rule as
    * [[localKMeans]]). */
  private def distributedLloyd(normed: DataFrame,
                                         init: Array[Array[Double]],
                                         iters: Int): Array[Array[Double]] = {
    var cents = init
    for (_ <- 0 until iters) {
      val stats = normed
        .withColumn("cell", nearestCellEuclid(col("nv"),
          typedlit(cents.map(_.toSeq).toSeq)))
        .select(col("cell"), posexplode(col("nv")).as(Seq("dim", "v")))
        .groupBy(col("cell"), col("dim"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone)
      stats.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2) / r.getLong(3)
      }
      cents = next
    }
    cents
  }

  /** Driver-local Lloyd's iterations with seeded distinct-point init.
    * Determinism: fixed seed, fixed iteration order, ties in the
    * assignment broken by lowest cell index. Runs on ≤ maxTrainRows
    * points — never the full corpus. */
  private[pipeline] def localKMeans(points: Array[Array[Double]], k: Int,
                                    iters: Int, seed: Long): Array[Array[Double]] = {
    require(points.nonEmpty, "cannot train a quantizer on an empty sample")
    val rnd = new scala.util.Random(seed)
    val kk = math.min(k, points.length)
    var cents = rnd.shuffle(points.indices.toVector).take(kk)
      .map(points(_).clone).toArray
    val dims = points(0).length
    for (_ <- 0 until iters) {
      val sums = Array.fill(kk)(new Array[Double](dims))
      val cnts = new Array[Long](kk)
      points.foreach { p =>
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < kk) {
          var d = 0.0; var i = 0
          while (i < dims) { val t = p(i) - cents(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        cnts(best) += 1
        val s = sums(best); var i = 0
        while (i < dims) { s(i) += p(i); i += 1 }
      }
      for (c <- 0 until kk)
        if (cnts(c) > 0) cents(c) = sums(c).map(_ / cnts(c))
      // empty cells keep their previous centroid (standard Lloyd's)
    }
    cents
  }

  /** Squared-Euclidean centroid scores as (d2, cell) structs — the ONE
    * scoring expression shared by assignment and probing. The per-row
    * constant ‖v‖² cannot change the ranking, so each centroid is
    * scored by just ‖c‖² − 2·v·c (one dot product per centroid instead
    * of three); ties break to the lowest cell index via the struct
    * sort. One projection, no join, no shuffle. */
  private def centroidScores(v: Column, centroids: Column): Column = {
    val dot = graft.functions.VectorExprs.dot_product _
    transform(centroids, (c, i) =>
      struct((dot(c, c) - lit(2.0) * dot(v, c)).as("d2"), i.as("cell")))
  }

  /** Nearest centroid (assignment): argmin of [[centroidScores]]. */
  private[pipeline] def nearestCellEuclid(v: Column, centroids: Column): Column =
    element_at(array_sort(centroidScores(v, centroids)), 1).getField("cell")

  /** FULL squared distance to the nearest centroid: [[centroidScores]]
    * drops the per-row ‖v‖² (it can't change the ranking); adding it
    * back gives the true d² = ‖v‖² + ‖c‖² − 2·v·c — the quantization
    * error the drift metric ([[IvfIndex.driftRatio]]) averages. */
  private[pipeline] def nearestD2(v: Column, centroids: Column): Column = {
    val dot = graft.functions.VectorExprs.dot_product _
    greatest(lit(0.0),
      element_at(array_sort(centroidScores(v, centroids)), 1).getField("d2") +
        dot(v, v))
  }

  /** Indices (cells) of the `nProbe` nearest centroids, ranked by the
    * SAME metric (and the same codegen expression) as assignment —
    * probing with a different metric than the quantizer was assigned
    * under silently costs recall (FAISS pairs them for the same
    * reason). Consequence, load-bearing for the e7 oracle: a vector's
    * assigned cell IS its top-1 probed cell, bit-for-bit, so an exact
    * duplicate of a query is reachable at any nProbe ≥ 1. */
  private[pipeline] def nearestCells(qv: Column, centroids: Column,
                                     nProbe: Int): Column =
    slice(array_sort(centroidScores(qv, centroids)), 1, nProbe).getField("cell")
}
