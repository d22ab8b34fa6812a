package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.catalog.SnapshotManifest
import graft.functions.PqExprs
import graft.ops.{CacheScope, Kernels}

/** Product-quantization ANN (FAISS-PQ): split each vector into `m`
  * subvectors, train a small codebook per subspace on a bounded
  * driver-local sample, represent every corpus vector by `m` codeword
  * indices, and answer queries with asymmetric-distance (ADC) scans —
  * each candidate costs `m` table lookups instead of `dims` multiplies
  * — followed by an exact cosine re-rank of the ADC survivors.
  *
  * Scale shape: the encoded corpus is `m` small ints per vector (8
  * codes ≈ 8 B vs 512 B for a 64-dim double vector), and the ADC scan
  * does `m` lookups per candidate. A probe is ONE plan with no join
  * back to the corpus: the scan's rows carry each candidate's full
  * vector into the per-query ADC heap, which keeps only the
  * `nCandidates` best (map-side, before its one shuffle), and the
  * exact cosine re-rank runs on the heap's output against the query
  * vector, which the heap carries once per query. Training is
  * driver-local on a reservoir sample (same posture as [[IvfIndex]]) —
  * no distributed ML iterations; encoding is one codegen projection
  * pass, no join, no shuffle. Composes with IVF (coarse cells + PQ
  * within cells, see [[topKProbed]]); a residual index
  * ([[PqIndex.buildResidual]]) holds `(id, cell, code, cv)` — each
  * code carries its coarse cell — and a flat one `(id, code, cv)`.
  */
class PqIndex private (val codes: DataFrame,
                       val codebooks: Array[Array[Array[Double]]],
                       id: String, val builtAt: Long,
                       residualOf: Option[IvfIndex] = None) {

  /** Cosine top-k per query: ADC top-`nCandidates` candidate scan over
    * the encoded corpus (broadcast query tables), then exact cosine
    * re-rank of the candidates only.
    *
    * Candidate-stage ties on ADC distance break to the HIGHER
    * neighbor id — a query's exact duplicate shares its code and
    * therefore attains the globally minimal ADC distance, so planted
    * high-id twins are guaranteed candidates (the e6 oracle design). */
  def topK(queries: DataFrame, vec: String, k: Int,
           nCandidates: Int = 256): DataFrame = {
    require(residualOf.isEmpty,
      "residual-encoded codes are relative to coarse cells — use topKProbed")
    val q = queryFrame(queries, vec)
      .withColumn("dt", PqExprs.pq_dist_table(col("qv"), codebooks))
    // ADC scan: every (query, corpus) pair, but each pair is m lookups
    // over the broadcast per-query table — the classic PQ trade. The
    // corpus side never shuffles.
    rerank(codes.crossJoin(broadcast(q)), k, nCandidates)
  }

  /** IVF-PQ composition (the FAISS-IVFPQ architecture): the ADC scan
    * is restricted to each query's `nProbe` nearest coarse cells
    * instead of the whole corpus — candidates drop from N to
    * ~N·nProbe/nCells, and the scan is a broadcast hash join on the
    * cell id rather than a broadcast cross. At a billion vectors that
    * is the difference between scanning 10⁹ and 10⁷ codes per query
    * batch. Both indexes must be built over the same corpus and id
    * column.
    *
    * One plan: cell pruning → ADC → exact re-rank. The query side
    * (one row per (query, probed cell), with its ADC table) is
    * broadcast as is; a residual index's codes already carry their
    * cell, so the scan reads the codes frame alone, while a flat index
    * takes each code's cell from `coarse.cells`. For a
    * [[PqIndex.buildResidual]] index the ADC table is computed per
    * (query, probed cell) from the query's residual to that cell's
    * centroid — still on the broadcast side, still one codegen
    * projection; `coarse` must be the index the residuals were encoded
    * against. */
  def topKProbed(queries: DataFrame, vec: String, coarse: IvfIndex,
                 nProbe: Int, k: Int, nCandidates: Int = 256,
                 allowed: Option[DataFrame] = None): DataFrame = {
    require(residualOf.forall(_ eq coarse),
      "a residual PQ index must be probed with its build-time coarse index")
    val q0 = queryFrame(queries, vec)
    // FILTERED search: the same live-cell list pruning as
    // IvfIndex.topK — under a geometry-correlated filter the probe
    // budget must go to cells that still hold candidates
    def probeEx: Column = coarse.probeExpr(col("qv"), nProbe, allowed)
    val (q, coded0) = residualOf match {
      case None =>
        // one ADC table per query, shared by all its probed cells
        (q0.withColumn("dt", PqExprs.pq_dist_table(col("qv"), codebooks))
          .withColumn("cell", explode(probeEx)),
          codes.join(coarse.cells.select(col(id), col("cell")), Seq(id)))
      case Some(c) =>
        // per-(query, cell) ADC table over the residual in that cell —
        // the same normalized space the residuals were encoded in
        (q0.withColumn("cell", explode(probeEx))
          .withColumn("dt", PqExprs.pq_dist_table(
            graft.functions.VectorExprs.vec_sub(
              graft.functions.VectorExprs.l2_normalize(col("qv")),
              element_at(c.centroidLit, col("cell") + 1)), codebooks)),
          codes)
    }
    val coded = allowed.fold(coded0)(a =>
      coded0.join(a.select(col(id)), Seq(id), "left_semi"))
    rerank(coded.join(broadcast(q), Seq("cell")), k, nCandidates)
  }

  /** `(query_id, qv)` per query row. Not spread with
    * [[Kernels.ensureParallelism]]: the query side is small by
    * contract and broadcast, so a repartition would only add a job. */
  private def queryFrame(queries: DataFrame, vec: String): DataFrame =
    queries.select(col(id).as("query_id"), Similarity.vecD(col(vec)).as("qv"))

  /** Shared tail of both scan variants, over the scan's joined rows
    * (codes side `id, code, cv`; query side `query_id, qv, dt`): ADC
    * distances, the ADC top-`nCandidates` heap per query — whose rows
    * carry each candidate's `cv` while `qv` rides once per query —
    * then the exact cosine re-rank of the heap's output into a ranked
    * top-k. The re-rank heap keys on `query_id` like the candidate
    * heap and reuses its partitioning: one shuffle, and no join back
    * to the codes. */
  private def rerank(joined: DataFrame, k: Int, nCandidates: Int): DataFrame = {
    val scored = joined.filter(col(id) =!= col("query_id"))
      .select(col("query_id"), col("qv"), col(id).as("neighbor_id"),
        PqExprs.pq_adc(col("code"), col("dt")).as("adc"), col("cv"))
    val cand = Kernels.topKPerKeyAgg(scored, Seq("query_id"),
        Seq(-col("adc"), col("neighbor_id")), nCandidates, perKey = Seq("qv"))
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosine(col("qv"), col("cv")).as("cos"))
    Kernels.topKPerKeyRanked(cand, Seq("query_id"),
      Seq(col("cos"), -col("neighbor_id")), k)
  }

  /** Persist the index so later sessions query WITHOUT retraining
    * (same posture and staleness contract as [[IvfIndex.save]]): the
    * per-subspace codebooks land as a tiny parquet
    * (m · nWords rows), the encoded corpus as a parquet of
    * (id, code, cv) — a residual index's cell is not stored,
    * [[PqIndex.loadResidual]] re-derives it — under a fresh `snap_*`
    * with an atomic `_latest` flip. The snapshot reflects the corpus
    * AS OF [[builtAt]] — rebuild + re-save when the corpus moves. */
  def save(path: String): Unit = {
    val s = codes.sparkSession
    import s.implicits._
    val snap = SnapshotManifest.newSnapName()
    val dir = s"$path/$snap"
    (for {
      (book, j) <- codebooks.zipWithIndex
      (word, w) <- book.zipWithIndex
    } yield (j, w, word.toSeq)).toSeq
      .toDF("subspace", "word", "c")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
    codes.select(col(id), col("code"), col("cv"))
      .write.mode("overwrite").parquet(s"$dir/codes")
    IndexIo.writeMeta(s, dir, Seq(
      "kind" -> "pq", "id" -> id,
      "m" -> codebooks.length.toString,
      "built_at" -> builtAt.toString) ++
      // a residual index is only meaningful with ITS coarse quantizer:
      // record its centroid fingerprint so loadResidual can verify the
      // caller plugged the right one back in
      residualOf.map(c => "residual_coarse" ->
        PqIndex.centroidFingerprint(c.centroids).toString))
    SnapshotManifest.flip(s, path, snap)
  }

  /** Release the cached codes frame (queries recompute afterwards). */
  def close(): Unit = codes.unpersist(blocking = false)
}

object PqIndex {

  /** Train the `m` per-subspace codebooks CONCURRENTLY on the driver:
    * each subspace's k-means is an independent, seeded, deterministic
    * computation over its own slice of the sample (seed + j), so
    * running them on a small pool changes nothing but wall-clock —
    * sequential training serialized ~m × 5 Lloyd's rounds of pure
    * driver CPU while 31 cores idled. Results land by index, so the
    * codebook array is bit-identical to the sequential build. */
  private def trainCodebooksParallel(m: Int)(
      f: Int => Array[Array[Double]]): Array[Array[Array[Double]]] = {
    if (m <= 1) return Array.tabulate(m)(f)
    import scala.concurrent.{Await, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(m, Runtime.getRuntime.availableProcessors()))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try Await.result(
      Future.sequence((0 until m).toList.map(j => Future(f(j)))),
      scala.concurrent.duration.Duration.Inf).toArray
    finally pool.shutdown()
  }

  /** Load a [[PqIndex.save]]d index: codebooks re-collected from the
    * tiny parquet (driver memory O(m · nWords · dims/m) = O(nWords ·
    * dims)), the encoded corpus read lazily and registered in
    * [[graft.ops.CacheScope]]. No training runs. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): PqIndex =
    loadCurrent(spark, path, residualOf = None)

  private def loadCurrent(spark: org.apache.spark.sql.SparkSession,
                          path: String, residualOf: Option[IvfIndex]): PqIndex = {
    val snap = SnapshotManifest.currentSnap(spark, path).getOrElse(
      throw new java.io.FileNotFoundException(s"$path/_latest"))
    val dir = s"$path/$snap"
    val meta = IndexIo.readMeta(spark, dir)
    require(meta.get("kind").contains("pq"), s"not a PQ index: $dir")
    residualOf match {
      case None =>
        require(!meta.contains("residual_coarse"),
          "residual PQ index — load with PqIndex.loadResidual(spark, path, coarse)")
      case Some(c) =>
        val expected = meta.getOrElse("residual_coarse",
          throw new IllegalArgumentException(s"$path is not a residual PQ index"))
        require(expected == centroidFingerprint(c.centroids).toString,
          "coarse quantizer mismatch: this residual index was built against " +
            "different centroids")
    }
    val id = meta("id")
    val rows = spark.read.parquet(s"$dir/codebooks")
      .select(col("subspace"), col("word"), col("c")).collect()
    val codebooks = rows.groupBy(_.getInt(0)).toArray.sortBy(_._1)
      .map(_._2.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray))
    require(codebooks.length == meta("m").toInt, s"corrupt codebooks in $dir")
    val stored = spark.read.parquet(s"$dir/codes")
    // a residual code's cell is re-derived with the projection that
    // assigned it (same vector, fingerprint-checked centroids), so it
    // is the build-time cell by construction
    val codes = CacheScope.persist(residualOf.fold(
        stored.select(col(id), col("code"), col("cv")))(c =>
      stored.select(col(id), c.cellOf(col("cv")).as("cell"), col("code"),
        col("cv"))))
    new PqIndex(codes, codebooks, id, meta("built_at").toLong, residualOf)
  }

  /** Drop all persisted snapshots except the current one. */
  def vacuum(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    SnapshotManifest.vacuumSnapDirs(spark, path)

  /** Train per-subspace codebooks driver-locally and encode the corpus
    * in one distributed codegen pass. `dims` must be divisible by `m`.
    *
    * The codes frame keeps the full vector alongside the code: the
    * scan carries it into the candidate heap, and the exact re-rank
    * reads it for the ≤ nCandidates survivors per query. */
  def build(corpus: DataFrame, id: String, vec: String,
            m: Int = 8, nWords: Int = 256, seed: Long = 42L,
            maxTrainRows: Int = 100000): PqIndex = {
    require(m > 0 && nWords > 1)
    val base = CacheScope.persist(Kernels.ensureParallelism(
      corpus.select(col(id), Similarity.vecD(col(vec)).as("cv"))))
    val sample = Sampling.boundedVectorSample(base.select(col("cv")), maxTrainRows, seed)
    val dims = sample.head.length
    require(dims % m == 0, s"dims ($dims) must be divisible by m ($m)")
    val sub = dims / m
    val codebooks = trainCodebooksParallel(m) { j =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub))
      IvfIndex.localKMeans(pts, nWords, iters = 5, seed = seed + j)
    }
    val encoded = CacheScope.persist(
      base.withColumn("code", PqExprs.pq_encode(col("cv"), codebooks))
        .select(col(id), col("code"), col("cv")))
    new PqIndex(encoded, codebooks, id, System.currentTimeMillis())
  }

  /** RESIDUAL IVF-PQ (the FAISS-IVFPQ default): encode each vector's
    * residual to its assigned coarse centroid instead of the vector
    * itself. Residuals concentrate near the origin, so the same code
    * budget spends its codewords on a much tighter distribution —
    * better recall at fixed m·log₂(nWords) bits. Residuals live in the
    * coarse quantizer's NORMALIZED space (see [[IvfIndex.build]]);
    * [[PqIndex.topKProbed]] computes the matching per-cell query
    * residual. The codes keep the cell the residual was taken in, so a
    * probe scans them without a join to `coarse.cells`. Query only via
    * `topKProbed` with the SAME `coarse`. */
  def buildResidual(corpus: DataFrame, id: String, vec: String,
                    coarse: IvfIndex, m: Int = 8, nWords: Int = 256,
                    seed: Long = 42L, maxTrainRows: Int = 100000): PqIndex = {
    require(m > 0 && nWords > 1)
    val norm = graft.functions.VectorExprs.l2_normalize _
    val sub = graft.functions.VectorExprs.vec_sub _
    // coarse.cells is already cached (id, cell, cv) — reuse it; the
    // residual is one codegen projection on top
    val resid = CacheScope.persist(coarse.cells.withColumn("rv",
      sub(norm(col("cv")), element_at(coarse.centroidLit, col("cell") + 1))))
    val sample = Sampling.boundedVectorSample(
      resid.select(col("rv")), maxTrainRows, seed)
    val dims = sample.head.length
    require(dims % m == 0, s"dims ($dims) must be divisible by m ($m)")
    val subLen = dims / m
    val codebooks = trainCodebooksParallel(m) { j =>
      val pts = sample.map(v =>
        java.util.Arrays.copyOfRange(v, j * subLen, (j + 1) * subLen))
      IvfIndex.localKMeans(pts, nWords, iters = 5, seed = seed + j)
    }
    val encoded = CacheScope.persist(
      resid.withColumn("code", PqExprs.pq_encode(col("rv"), codebooks))
        .select(col(id), col("cell"), col("code"), col("cv")))
    new PqIndex(encoded, codebooks, id, System.currentTimeMillis(),
      residualOf = Some(coarse))
  }

  /** Load a [[buildResidual]] index, plugging its coarse quantizer
    * back in — the fingerprint recorded at save time must match
    * `coarse`'s centroids, so a drifted/rebuilt quantizer is rejected
    * instead of silently mis-decoding every residual. */
  def loadResidual(spark: org.apache.spark.sql.SparkSession, path: String,
                   coarse: IvfIndex): PqIndex =
    loadCurrent(spark, path, residualOf = Some(coarse))

  private[pipeline] def centroidFingerprint(cents: Array[Array[Double]]): Long =
    cents.flatten.foldLeft(17L)((h, d) =>
      h * 31L + java.lang.Double.doubleToLongBits(d))
}
