package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SQ8 scalar quantization for embeddings — FAISS's `SQ8` codec, the
  * workhorse companion to PQ ([[Pq]]): each vector is stored as one
  * int8 code per dimension plus a per-vector scale (4× smaller than
  * float32, 8× smaller than the double arrays Spark would otherwise
  * shuffle), and similarity is scored on the dequantized form.
  * Unlike PQ there is NO training step — encode/decode are pure
  * Column expressions (codegen'd, no UDF, no codebook, no seed), so
  * quantization is exactly reproducible by construction.
  *
  * Scale shape: [[topK]] is the e1/e6 broadcast pattern (query set ×
  * corpus, no corpus shuffle) with the codes computed as a projection
  * over each scanned vector, and the exact verify is
  * [[Similarity.rerank]] — the tail PQ's ADC shares: the
  * dequantized-cosine heap carries each candidate's raw vector, so
  * full precision is scored for |Q|·nCandidates rows and nothing
  * joins back to the corpus.
  */
object Sq {

  /** Symmetric per-vector int8 encode: scale = 127/max|x|, codes =
    * round(x·scale) ∈ [−127, 127]. A zero vector gets scale 0 and
    * all-zero codes ([[dequantize]] maps it back to zeros). */
  def quantize(df: DataFrame, id: String, vec: String): DataFrame =
    df.select(col(id), Similarity.vecD(col(vec)).as("__v"))
      .transform(encode(_, "__v"))
      .select(col(id), col("sq_scale"), col("sq_codes"))

  /** Adds `sq_scale` and `sq_codes` for the double vector column `v`. */
  private def encode(df: DataFrame, v: String): DataFrame = {
    val maxAbs = array_max(transform(col(v), x => abs(x)))
    df.withColumn("sq_scale",
        when(maxAbs > 0.0, lit(127.0) / maxAbs).otherwise(lit(0.0)))
      .withColumn("sq_codes",
        transform(col(v), x => round(x * col("sq_scale")).cast("tinyint")))
  }

  /** Dequantized double vector: code/scale per dimension. */
  def dequantize(codes: Column, scale: Column): Column =
    transform(codes, c =>
      when(scale > 0.0, c.cast("double") / scale).otherwise(lit(0.0)))

  /** Cosine top-k: the dequantized cosine picks `nCandidates` per
    * query (ties to the higher neighbor id), then
    * [[Similarity.rerank]] ranks them by exact cosine on the raw
    * vectors the candidate heap carried. Per-component dequantization
    * error is ≤ max|x|/254, so quantized cosine tracks true cosine
    * within ~1% on unit-scale data — an exact duplicate of a query
    * outranks natural neighbors by far more, which is what the e9
    * planted-twin oracle pins. */
  def topK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
           k: Int, nCandidates: Int): DataFrame = {
    val enc = encode(corpus.select(col(id).as("neighbor_id"),
      Similarity.vecD(col(vec)).as("cv")), "cv")
    val q = Similarity.queryFrame(queries, id, vec)
    val scored = broadcast(q).crossJoin(enc)
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("qv"), col("neighbor_id"),
        Similarity.cosine(col("qv"),
          dequantize(col("sq_codes"), col("sq_scale"))).as("acos"),
        col("cv"))
    Similarity.rerank(scored, Seq(col("acos"), col("neighbor_id")), k,
      nCandidates)
  }
}
