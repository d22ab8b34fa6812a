package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed k-means clustering over an embedding column — the
  * semantic-grouping primitive of a training-data pipeline (topic
  * bucketing, per-cluster sampling quotas, SemDeDup-style semantic
  * dedup all start from "assign every vector to a centroid"). The
  * reference's scope stops at per-class centroids
  * (`routes/analytics.js` aggregation shape, gate e4); this is the
  * natural completion: centroids LEARNED from the data, not given by
  * a label column.
  *
  * Trains with the IVF quantizer's trainer ([[IvfIndex.train]] — the
  * FAISS shape): seed on a bounded reservoir sample driver-side, then
  * refine with distributed Lloyd's rounds where each round is ONE
  * assignment projection (centroid array as a codegen literal — no
  * join, no shuffle) plus ONE (cell, dim) hash aggregation whose
  * map-side partials collapse every task to ≤ k·dims rows. Shuffle
  * and driver memory are O(k · dims) per round at ANY corpus size.
  * Unlike IVF (cosine-normalized by contract), clustering runs in the
  * RAW vector space — callers choose their geometry.
  */
object Cluster {

  /** Lloyd's k-means: seeded on ≤ `maxTrainRows` sampled vectors
    * (O(maxTrainRows·dims) driver memory by contract), refined with
    * `distIters` full-corpus distributed rounds. Deterministic for a
    * fixed seed; empty clusters keep their previous centroid. */
  def fit(df: DataFrame, vec: String, k: Int, distIters: Int = 2,
          seed: Long = 42L, maxTrainRows: Int = 100000): Array[Array[Double]] =
    IvfIndex.train(df.select(Similarity.vecD(col(vec)).as("nv")), k,
      distIters, seed, maxTrainRows)

  /** Nearest-centroid assignment (squared Euclidean, ties to the
    * lowest centroid index): one codegen projection against the
    * centroid literal — no join, no shuffle, runs inside the scan
    * stage. Adds `cluster` = the centroid's index in `centroids`. */
  def assign(df: DataFrame, vec: String,
             centroids: Array[Array[Double]]): DataFrame =
    df.withColumn("cluster",
      IvfIndex.nearestCellEuclid(Similarity.vecD(col(vec)),
        typedlit(centroids.map(_.toSeq).toSeq)).cast("long"))

  /** SEMANTIC dedup candidate pairs (SemDeDup — Abbas et al.,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", 2023): embedding near-duplicates found WITHIN
    * k-means clusters only. The cluster key turns the all-pairs
    * cosine join (quadratic in the corpus — impossible at 100 TB)
    * into a per-cluster self-join whose cost is Σ|cluster|²: the
    * SemDeDup contract is that k grows with the corpus (k ≈ n/1000)
    * so cluster sizes stay bounded and the join stays near-linear.
    * Identical/near-identical vectors assign to the same centroid
    * (same argmin, deterministic ties), so recall at high thresholds
    * is structural, not luck — pinned by the d10 gate's planted
    * copies against an UNCLUSTERED exact oracle. Emits (id1, id2,
    * cos) with id1 < id2; feed to [[Dedup.removeNearDuplicates]] /
    * [[Dedup.dupClusters]] for the keep-one decision. */
  def semanticDupPairs(df: DataFrame, id: String, vec: String,
                       centroids: Array[Array[Double]],
                       minCosine: Double): DataFrame = {
    val assigned = graft.ops.CacheScope.persist(
      graft.ops.Kernels.ensureParallelism(
          assign(df.select(col(id), col(vec)), vec, centroids))
        .select(col(id), col("cluster"), Similarity.vecD(col(vec)).as("__v")))
    val l = assigned.select(col("cluster"), col(id).as("id1"),
      col("__v").as("__v1"))
    val r = assigned.select(col("cluster"), col(id).as("id2"),
      col("__v").as("__v2"))
    l.join(r, Seq("cluster"))
      .filter(col("id1") < col("id2"))
      .withColumn("cos", graft.functions.VectorExprs.cosine_sim(
        col("__v1"), col("__v2")))
      .filter(col("cos") >= minCosine)
      .select(col("id1"), col("id2"), col("cos"))
  }

  /** Σ‖v − c(v)‖² over the frame — the Lloyd's objective; spec-level
    * instrumentation (monotone non-increase per round). */
  def sse(df: DataFrame, vec: String,
          centroids: Array[Array[Double]]): Double = {
    val cents = typedlit(centroids.map(_.toSeq).toSeq)
    val v = Similarity.vecD(col(vec))
    val c: Column = element_at(cents, col("cluster").cast("int") + 1)
    assign(df, vec, centroids)
      .select(aggregate(zip_with(v, c, (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x).as("d2"))
      .agg(sum(col("d2"))).head.getDouble(0)
  }
}
