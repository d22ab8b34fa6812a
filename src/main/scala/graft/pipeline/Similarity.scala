package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.{CacheScope, Kernels}
import scala.util.Random

/** Similarity search over embedding columns (`Array[Float]`):
  * brute-force cosine top-k as the exact baseline, random-hyperplane
  * LSH bucketing as the 100 TB path (candidates shuffle on bucket,
  * never all-pairs).
  */
object Similarity {

  /** float[] → double[] (compute similarities in double). */
  def vecD(c: Column): Column = transform(c, x => x.cast("double"))

  /** One-pass codegen'd dot product (graft.functions.DotProduct) —
    * the HOF `aggregate(zip_with(...))` form evaluates its lambda
    * interpreted per element; the custom expression is a tight loop. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.dot_product(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** One-pass codegen'd cosine; bit-identical to the sequential
    * dot/(√|a|²·√|b|²) formulation the DuckDB oracle uses. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExprs.cosine_sim(a, b)

  /** `(query_id, qv)` per query row — the query side of every vector
    * search here. Not spread with [[Kernels.ensureParallelism]]: a
    * broadcast query side is small by contract, so a repartition would
    * only add a job (a large query side, [[IvfIndex.annJoin]]'s, adds
    * it itself). */
  private[pipeline] def queryFrame(queries: DataFrame, id: String,
                                   vec: String): DataFrame =
    queries.select(col(id).as("query_id"), vecD(col(vec)).as("qv"))

  /** THE exact re-rank tail of every filter-then-verify search
    * ([[PqIndex]], [[Sq]], [[progressiveTopK]]) — the operator fusion
    * of an approximate filter and its exact verify into one plan.
    * `scored` holds the scan's rows as `(query_id, qv, neighbor_id,
    * <approximate score>, cv)`; `approx` orders the candidate heap
    * over them (largest first, tie-break included). The per-query heap
    * keeps the `nCandidates` best rows — each carrying its candidate's
    * full vector `cv`, while `qv` rides once per query — and the exact
    * cosine of the survivors is ranked into the top `k`. The re-rank
    * heap keys on `query_id` like the candidate heap and reuses its
    * partitioning: one shuffle, and no join back to the corpus. */
  private[pipeline] def rerank(scored: DataFrame, approx: Seq[Column],
                               k: Int, nCandidates: Int): DataFrame = {
    val cand = Kernels.topKPerKeyAgg(scored, Seq("query_id"), approx,
        nCandidates, perKey = Seq("qv"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cos"))
    Kernels.topKPerKeyRanked(cand, Seq("query_id"),
      Seq(col("cos"), -col("neighbor_id")), k)
  }

  /** Exact cosine top-k: each query scored against the whole corpus.
    * The query set is broadcast (it is small by contract); the corpus
    * is scanned once; per-query selection is the mergeable bounded
    * heap ([[Kernels.topKPerKeyRanked]]) — map-side combine discards
    * below-top-k rows before the shuffle, so O(|Q|·k) rows move, not
    * the scored frame. O(|Q|·|C|·d) compute, zero corpus shuffle. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     id: String, vec: String, k: Int): DataFrame = {
    val q = broadcast(queryFrame(queries, id, vec))
    val c = corpus.select(col(id).as("neighbor_id"), vecD(col(vec)).as("cv"))
    val scored = c.crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
    Kernels.topKPerKeyRanked(
      scored.select(col("query_id"), col("neighbor_id"), col("cos")),
      Seq("query_id"), Seq(col("cos"), -col("neighbor_id")), k)
  }

  /** PROGRESSIVE-DIMENSION re-rank — the Matryoshka/MRL serving trick
    * (Kusupati et al., "Matryoshka Representation Learning", NeurIPS
    * 2022): the WHOLE corpus is scored on only the first `dPrefix`
    * dims, the `candidates` best per query survive, and only they are
    * scored with FULL-dimension exact cosine. MRL-trained embeddings
    * front-load information, so a small candidate multiple of k
    * preserves recall at dPrefix/d of the filter's FLOPs;
    * candidates = |corpus| makes the result provably the exact top-k.
    *
    * Scale shape: the e1 zero-corpus-shuffle broadcast scan with a
    * d/dPrefix cheaper score per row (a production deployment
    * additionally MATERIALIZES the prefix as its own column/table so
    * the scan's bytes shrink too — here the prefix is sliced in the
    * projection, which saves compute, not I/O). The verify is
    * [[rerank]], the tail PQ's ADC and SQ8 share: the prefix-score
    * heap carries each candidate's full vector, so full vectors are
    * scored for |Q|·candidates rows and nothing joins back to the
    * corpus. Prefix-score ties break to the LOWER neighbor id. */
  def progressiveTopK(corpus: DataFrame, queries: DataFrame,
                      id: String, vec: String, k: Int,
                      dPrefix: Int, candidates: Int): DataFrame = {
    require(dPrefix >= 1, "progressiveTopK: dPrefix must be >= 1")
    require(candidates >= k, "progressiveTopK: candidates must be >= k")
    val q = broadcast(queryFrame(queries, id, vec))
    val c = corpus.select(col(id).as("neighbor_id"), vecD(col(vec)).as("cv"))
    val scored = c.crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("qv"), col("neighbor_id"),
        cosine(slice(col("qv"), 1, dPrefix),
          slice(col("cv"), 1, dPrefix)).as("pcos"), col("cv"))
    rerank(scored, Seq(col("pcos"), -col("neighbor_id")), k, candidates)
  }

  /** Deterministic random-hyperplane weights: `planes` hyperplanes in
    * `dims` dimensions from a fixed seed. */
  def hyperplanes(planes: Int, dims: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new Random(seed)
    Seq.fill(planes)(Seq.fill(dims)(rnd.nextGaussian()))
  }

  /** Sign-bit signature of a vector under the hyperplanes — bit p set
    * iff dot(v, w_p) > 0. Cosine-preserving LSH: P(bit equal) =
    * 1 - angle/π. */
  def lshSignature(vec: Column, planes: Seq[Seq[Double]]): Column = {
    val w = typedlit(planes)
    val bits = planes.indices.map { p =>
      when(dot(vec, element_at(w, p + 1)) > 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Near-duplicate pairs by cosine ≥ `minCosine`, found via LSH
    * banding (candidates = pairs sharing any band of the signature)
    * then exact cosine verification on candidates only.
    *
    * Recall for a true pair at cosine c: per-bit agreement
    * q = 1 - arccos(c)/π; P(candidate) = 1 - (1 - q^r)^bands. With
    * 16 planes, 4 bands × 4 bits, c = 0.3 → ~40%; c = 0.7 → ~97%.
    * Raise bands (or multi-probe) for higher recall; the exact-verify
    * step keeps precision at 100%. */
  def lshNearDupPairs(df: DataFrame, id: String, vec: String,
                      minCosine: Double, planes: Int = 16, bands: Int = 4,
                      seed: Long = 42L, dims: Option[Int] = None): DataFrame = {
    require(planes % bands == 0)
    val width = planes / bands
    val mask = (1L << width) - 1
    // pass `dims` explicitly when known — the fallback probe is a
    // driver-side job at plan-construction time
    val hp = hyperplanes(planes, dims.getOrElse(dimsOf(df, vec)), seed)
    // read by the banding explode and twice for verify (caller
    // releases the CacheScope after its terminal action)
    val sig = CacheScope.persist(
      Kernels.ensureParallelism(df.select(col(id), vecD(col(vec)).as("v")))
        .withColumn("sig", lshSignature(col("v"), hp)))

    val banded = sig.select(col(id), col("v"),
      explode(array((0 until bands).map(j =>
        struct(lit(j).as("bidx"),
          shiftright(col("sig"), j * width).bitwiseAND(mask).as("bucket"))): _*))
        .as("bb"))
      .select(col(id), col("v"), col("bb.bidx"), col("bb.bucket"))
    // dedup candidate PAIRS (ids only — never haul the vectors
    // through the distinct), then fetch vectors back via broadcastable
    // id joins for the exact verify
    val l = banded.select(col(id).as("id1"), col("bidx"), col("bucket"))
    val r = banded.select(col(id).as("id2"), col("bidx"), col("bucket"))
    val cand = l.join(r, Seq("bidx", "bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
    val vecs = sig.select(col(id), col("v"))
    cand
      .join(vecs.select(col(id).as("id1"), col("v").as("v1")), Seq("id1"))
      .join(vecs.select(col(id).as("id2"), col("v").as("v2")), Seq("id2"))
      .withColumn("cos", cosine(col("v1"), col("v2")))
      .filter(col("cos") >= minCosine)
      .select(col("id1"), col("id2"), col("cos"))
  }

  /** IVF-style bucketed ANN: corpus pre-partitioned by LSH signature
    * band ("coarse cells"); a query probes only its own cells'
    * members, then ranks exactly. Trades recall for touching
    * |corpus|/2^width of the data per band instead of all of it. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
              k: Int, planes: Int = 16, bands: Int = 4, seed: Long = 42L,
              dims: Option[Int] = None): DataFrame = {
    require(planes % bands == 0)
    val width = planes / bands
    val mask = (1L << width) - 1
    val hp = hyperplanes(planes, dims.getOrElse(dimsOf(corpus, vec)), seed)
    def banded(df: DataFrame, idAs: String, vAs: String) =
      df.select(col(id).as(idAs), vecD(col(vec)).as(vAs))
        .withColumn("sig", lshSignature(col(vAs), hp))
        .select(col(idAs), col(vAs),
          explode(array((0 until bands).map(j =>
            struct(lit(j).as("bidx"),
              shiftright(col("sig"), j * width).bitwiseAND(mask).as("bucket"))): _*))
            .as("bb"))
        .select(col(idAs), col(vAs), col("bb.bidx"), col("bb.bucket"))
    val c = banded(corpus, "neighbor_id", "cv")
    val q = broadcast(banded(queries, "query_id", "qv"))
    val cand = c.join(q, Seq("bidx", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("qv"), col("neighbor_id"), col("cv")).distinct()
      .withColumn("cos", cosine(col("qv"), col("cv")))
    Kernels.topKPerKeyAgg(
      cand.select(col("query_id"), col("neighbor_id"), col("cos")),
      Seq("query_id"), Seq(col("cos"), -col("neighbor_id")), k)
  }

  /** Probe the vector dimensionality from the first row — a
    * driver-side job; call once and pass the result as `dims` rather
    * than letting every query construction re-probe. */
  def dimsOf(df: DataFrame, vec: String): Int =
    df.select(size(col(vec))).first().getInt(0)
}
