package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** SQ8 scalar quantization: error bound, zero-vector safety, and
  * top-k equality with exact re-rank on planted twins. */
class SqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("dequantization error is bounded by maxAbs/254 per component") {
    val enc = Sq.quantize(emb, "vec_id", "embedding")
    val joined = emb.select($"vec_id", Similarity.vecD($"embedding").as("v"))
      .join(enc, "vec_id")
      .select($"v", Sq.dequantize($"sq_codes", $"sq_scale").as("dq"))
    val worst = joined.select(aggregate(
        zip_with($"v", $"dq", (a, b) => abs(a - b) /
          (array_max(transform($"v", x => abs(x))) / lit(254.0))),
        lit(0.0), (acc, r) => greatest(acc, r)).as("ratio"))
      .agg(max($"ratio")).as[Double].head()
    // |x·s − round(x·s)| ≤ 0.5 ⟹ |x − c/s| ≤ 0.5/s = maxAbs/254
    assert(worst <= 1.0 + 1e-9, s"worst error ratio $worst exceeds the bound")
  }

  test("zero vectors quantize to zero codes and dequantize to zeros") {
    val z = Seq((1L, Array.fill(8)(0.0f)), (2L, Array.fill(8)(0.5f)))
      .toDF("vec_id", "embedding")
    val enc = Sq.quantize(z, "vec_id", "embedding")
    val r = enc.orderBy("vec_id")
      .select($"sq_scale", $"sq_codes").collect()
    assert(r(0).getDouble(0) == 0.0)
    assert(r(0).getSeq[Byte](1).forall(_ == 0))
    assert(r(1).getSeq[Byte](1).forall(_ == 127)) // constant vec → all max
  }

  test("SQ8 top-1 with exact re-rank equals brute force (planted twins)") {
    val un = emb.select("vec_id", "embedding").unionByName(
      emb.select("vec_id", "embedding")
        .withColumn("vec_id", $"vec_id" + 10000000L))
    val queries = un.filter($"vec_id" < 3)
    val sq = Sq.topK(un, queries, "vec_id", "embedding",
        k = 1, nCandidates = 64)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    // each query's twin (id + 10M, identical vector) must be top-1
    assert(sq == Map(0L -> 10000000L, 1L -> 10000001L, 2L -> 10000002L))
  }

  test("e9 shape: one Sq.topK call runs ≤ 3 jobs and joins nothing back to the corpus") {
    val e = emb.select("vec_id", "embedding")
    val un = e.unionByName(e.withColumn("vec_id", $"vec_id" + 10000000L))
    val df = Sq.topK(un, un.filter($"vec_id" < 5), "vec_id", "embedding",
      k = 1, nCandidates = 256)
    val (rows, jobs) = jobsOf(df.collect())
    assert(rows.length == 5)
    info(s"Sq.topK: $jobs jobs")
    assert(jobs <= 3, s"one Sq.topK call ran $jobs jobs")
    // the candidate heap carries each vector into the exact re-rank:
    // the query × corpus scan is the plan's only join
    val joins = allNodes(df.queryExecution.executedPlan).count(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])
    assert(joins == 1, s"expected only the scan join, found $joins joins")
  }
}
