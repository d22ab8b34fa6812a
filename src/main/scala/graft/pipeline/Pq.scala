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
  * vector into the per-query ADC heap of [[Similarity.rerank]] — the
  * one exact re-rank tail, shared with [[Sq]] and
  * [[Similarity.progressiveTopK]] — which keeps only the
  * `nCandidates` best (map-side, before its one shuffle) and ranks
  * them by exact cosine. Training is
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
    val q = Similarity.queryFrame(queries, id, vec)
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
    val q0 = Similarity.queryFrame(queries, id, vec)
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

  /** The ADC scan's rows (codes side `id, code, cv`; query side
    * `query_id, qv, dt`) into [[Similarity.rerank]]. ADC-distance ties
    * break to the higher neighbor id. */
  private def rerank(joined: DataFrame, k: Int, nCandidates: Int): DataFrame =
    Similarity.rerank(joined.filter(col(id) =!= col("query_id"))
        .select(col("query_id"), col("qv"), col(id).as("neighbor_id"),
          PqExprs.pq_adc(col("code"), col("dt")).as("adc"), col("cv")),
      Seq(-col("adc"), col("neighbor_id")), k, nCandidates)

  /** Persist the index so later sessions query WITHOUT retraining
    * (same posture and staleness contract as [[IvfIndex.save]]): the
    * per-subspace codebooks land as a tiny parquet
    * (m · nWords rows), the encoded corpus as a parquet of
    * (id, code, cv) — a residual index's cell is not stored,
    * [[PqIndex.loadResidual]] re-derives it — published through
    * [[IndexIo.publish]]. The snapshot reflects the corpus
    * AS OF [[builtAt]] — rebuild + re-save when the corpus moves. */
  def save(path: String): Unit = {
    val s = codes.sparkSession
    import s.implicits._
    IndexIo.publish(s, path, Seq(
      "kind" -> "pq", "id" -> id,
      "m" -> codebooks.length.toString,
      "built_at" -> builtAt.toString) ++
      // a residual index is only meaningful with ITS coarse quantizer:
      // record its centroid fingerprint so loadResidual can verify the
      // caller plugged the right one back in
      residualOf.map(c => "residual_coarse" ->
        PqIndex.centroidFingerprint(c.centroids).toString)) { dir =>
      (for {
        (book, j) <- codebooks.zipWithIndex
        (word, w) <- book.zipWithIndex
      } yield (j, w, word.toSeq)).toSeq
        .toDF("subspace", "word", "c")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
      codes.select(col(id), col("code"), col("cv"))
        .write.mode("overwrite").parquet(s"$dir/codes")
    }
  }

  /** Release the cached codes frame (queries recompute afterwards). */
  def close(): Unit = codes.unpersist(blocking = false)
}

object PqIndex {

  /** Load a [[PqIndex.save]]d index: codebooks re-collected from the
    * tiny parquet (driver memory O(m · nWords · dims/m) = O(nWords ·
    * dims)), the encoded corpus read lazily and registered in
    * [[graft.ops.CacheScope]]. No training runs. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): PqIndex =
    loadCurrent(spark, path, residualOf = None)

  private def loadCurrent(spark: org.apache.spark.sql.SparkSession,
                          path: String, residualOf: Option[IvfIndex]): PqIndex = {
    val (dir, meta) = IndexIo.open(spark, path, "pq")
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
    val base = CacheScope.persist(Kernels.ensureParallelism(
      corpus.select(col(id), Similarity.vecD(col(vec)).as("cv"))))
    val (encoded, codebooks) = trainAndEncode(base, "cv",
      Seq(id, "code", "cv"), m, nWords, seed, maxTrainRows)
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
    val norm = graft.functions.VectorExprs.l2_normalize _
    val sub = graft.functions.VectorExprs.vec_sub _
    // coarse.cells is already cached (id, cell, cv) — reuse it; the
    // residual is one codegen projection on top
    val resid = CacheScope.persist(coarse.cells.withColumn("rv",
      sub(norm(col("cv")), element_at(coarse.centroidLit, col("cell") + 1))))
    val (encoded, codebooks) = trainAndEncode(resid, "rv",
      Seq(id, "cell", "code", "cv"), m, nWords, seed, maxTrainRows)
    new PqIndex(encoded, codebooks, id, System.currentTimeMillis(),
      residualOf = Some(coarse))
  }

  /** The one train → encode path of [[build]] and [[buildResidual]]:
    * a bounded reservoir sample of the (cached) `src`'s vector column
    * `v`, one driver-local k-means codebook per subspace, then the
    * encoded frame (`code` = the codes of `v`) projected to `keep` and
    * cached. The `m` k-means runs are independent and seeded (seed +
    * j), so they run CONCURRENTLY on a small driver pool — sequential
    * training serialized ~m × 5 Lloyd's rounds of driver CPU while the
    * other cores idled — and land by index: the codebooks are
    * bit-identical to a sequential build. */
  private def trainAndEncode(src: DataFrame, v: String, keep: Seq[String],
                             m: Int, nWords: Int, seed: Long,
                             maxTrainRows: Int)
      : (DataFrame, Array[Array[Array[Double]]]) = {
    require(m > 0 && nWords > 1)
    val sample = Sampling.boundedVectorSample(src.select(col(v)), maxTrainRows, seed)
    val dims = sample.head.length
    require(dims % m == 0, s"dims ($dims) must be divisible by m ($m)")
    val sub = dims / m
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(m, Runtime.getRuntime.availableProcessors()))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val codebooks = try Await.result(Future.sequence((0 until m).toList.map(j =>
        Future(IvfIndex.localKMeans(sample.map(p =>
          java.util.Arrays.copyOfRange(p, j * sub, (j + 1) * sub)),
          nWords, iters = 5, seed = seed + j)))),
      scala.concurrent.duration.Duration.Inf).toArray
    finally pool.shutdown()
    (CacheScope.persist(src.withColumn("code", PqExprs.pq_encode(col(v), codebooks))
        .select(keep.map(col): _*)), codebooks)
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
