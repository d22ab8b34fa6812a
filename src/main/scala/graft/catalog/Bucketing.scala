package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Storage-co-located joins: both sides persisted bucketed (and
  * per-bucket sorted) on the join key, so the sort-merge join runs
  * with ZERO shuffle exchanges — Spark's reader exposes the bucket
  * layout as the scan's `outputPartitioning`, Catalyst sees both
  * sides already hash-partitioned on the key, and the Exchange nodes
  * vanish from the plan.
  *
  * This is the scale-out analog of the reference's clustered composite
  * PK (`sql/schema.sql:9` — Postgres keeps `Stocks` rows physically
  * key-ordered so its merge joins read presorted data): at 100 TB the
  * fact table gets joined on the same key by every query, and paying
  * the hash shuffle per-query is the dominant cost — bucketing pays
  * the partitioning ONCE at write time and every subsequent join rides
  * it for free. The `sortBy` additionally lands rows key-ordered
  * within each bucket file, so the merge side of the join needs no
  * per-task sort of the fact data either.
  *
  * Bucket counts must MATCH (or divide) across co-joined tables —
  * fix the count per subject area (the Hive/Spark bucketing contract).
  * Choose it for the target SF: ~(table size / executor-comfortable
  * partition), power of two so a resize is a local split/merge.
  */
object Bucketing {

  /** Persist `df` as a bucketed, per-bucket-sorted EXTERNAL table at
    * `location`. Overwrites both the table entry and the files. */
  def writeBucketed(df: DataFrame, table: String, location: String,
                    key: String, numBuckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    df.write.mode("overwrite")
      .option("path", location)
      .bucketBy(numBuckets, key)
      .sortBy(key)
      .saveAsTable(table)
  }

  /** Equi-join two co-bucketed tables on their shared bucket key with
    * the shuffle-free contract ENFORCED: if the planned join would
    * shuffle either side (bucket counts diverged, a table was
    * rewritten unbucketed, a config regression re-enabled
    * pre-shuffle), this throws rather than silently paying the
    * exchange — at the target scale that silent fallback is the
    * difference between a metadata-speed join and re-shuffling the
    * fact table.
    *
    * Broadcast is disabled around planning: at toy SF Catalyst would
    * rightly broadcast the smaller side (also exchange-free, but it
    * bypasses the bucket layout this entry point exists to exercise);
    * at production SF both sides exceed any broadcast threshold and
    * sort-merge over buckets is the only shuffle-free plan. */
  def colocatedJoin(spark: SparkSession, left: String, right: String,
                    key: String): DataFrame = {
    graft.ops.ConfScope.withScopedConf(spark, Seq(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")) {
      val joined = spark.table(left).join(spark.table(right), key)
      requireNoShuffle(joined)
      joined
    }
  }

  /** Throw if the physical plan hash-shuffles anywhere. Inspects the
    * pre-adaptive plan (AQE's initial plan contains the Exchange nodes
    * when present — a bucketed join never plans them at all). */
  def requireNoShuffle(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    require(!plan.contains("Exchange hashpartitioning"),
      s"co-located join planned a shuffle:\n${plan.take(2000)}")
  }
}
