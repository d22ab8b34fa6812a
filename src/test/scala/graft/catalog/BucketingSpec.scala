package graft.catalog

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Bucketed co-located joins (SURVEY §4, `catalog/Bucketing`): both
  * sides bucketed on the join key → the sort-merge join runs with
  * ZERO exchanges. At 100 TB this is the difference between shuffling
  * the fact table on every join and never shuffling it. */
class BucketingSpec extends SparkSpec {

  private def cleanTables(names: String*): Unit = names.foreach { t =>
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("co-located join of two bucketed tables plans no Exchange") {
    cleanTables("li_bucketed", "o_bucketed")
    val base = scratchDir("graft_bucketing")
    val li = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val o = Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_totalprice")

    Bucketing.writeBucketed(li, "li_bucketed", s"$base/li", "l_orderkey", 8)
    Bucketing.writeBucketed(o.withColumnRenamed("o_orderkey", "l_orderkey"),
      "o_bucketed", s"$base/o", "l_orderkey", 8)

    // colocatedJoin disables broadcast around planning itself (at test
    // scale Catalyst would rightly broadcast instead — which also
    // bypasses bucketing) and throws on any planned shuffle; the
    // caller's own thresholds come back unchanged
    val adaptive = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    val static = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set(adaptive, "5MB")
    val joined = try {
      val j = Bucketing.colocatedJoin(
        spark, "li_bucketed", "o_bucketed", "l_orderkey")
      assert(spark.conf.get(adaptive) == "5MB")
      assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == static)
      j
    } finally spark.conf.unset(adaptive)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(1500))
    assert(joined.count() ==
      li.join(o, li("l_orderkey") === o("o_orderkey")).count())
    cleanTables("li_bucketed", "o_bucketed")
  }

  test("contract enforcement: an unbucketed side fails fast, not silently shuffles") {
    cleanTables("li_bucketed2", "o_plain")
    val base = scratchDir("graft_bucketing_neg")
    val li = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity")
    val o = Tables.load(spark, sf, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    Bucketing.writeBucketed(li, "li_bucketed2", s"$base/li", "l_orderkey", 8)
    // plain (unbucketed) table: the join MUST shuffle it, so the
    // zero-shuffle contract has to throw instead of paying silently
    o.write.mode("overwrite").option("path", s"$base/o")
      .saveAsTable("o_plain")
    intercept[IllegalArgumentException] {
      Bucketing.colocatedJoin(spark, "li_bucketed2", "o_plain", "l_orderkey")
    }
    cleanTables("li_bucketed2", "o_plain")
  }
}
