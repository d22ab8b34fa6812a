package graft.analytics

import graft.SparkSpec
import graft.catalog.SnapshotManifest
import org.apache.spark.sql.functions._

/** Cache probe / write-back / compute-through semantics —
  * statistics_cache parity (portfolio.js:329-445). */
class StatsCacheSpec extends SparkSpec {
  import spark.implicits._

  test("getOrCompute computes misses once, serves hits after") {
    val dir = scratchDir("graft_cache") + "/stats"
    val cache = new StatsCache(spark, dir, Seq("symbol"))
    var computeCalls = 0
    def compute(keys: org.apache.spark.sql.DataFrame) = {
      computeCalls += 1
      keys.withColumn("cov", lit(1.5)).withColumn("beta", lit(0.9))
    }
    val keys = Seq("AAA", "BBB").toDF("symbol")
    val first = cache.getOrCompute(keys, compute)
    assert(first.count() == 2 && computeCalls == 1)
    // second call: pure cache hit, compute not invoked
    val second = cache.getOrCompute(keys, compute)
    assert(second.count() == 2 && computeCalls == 1)
    // superset: only the new key is computed
    val third = cache.getOrCompute(Seq("AAA", "CCC").toDF("symbol"), compute)
    assert(third.count() == 2 && computeCalls == 2)
  }

  test("writeBack upserts: fresh rows replace same-key cached rows") {
    val dir = scratchDir("graft_cache2") + "/stats"
    val cache = new StatsCache(spark, dir, Seq("symbol"))
    cache.writeBack(Seq(("AAA", 1.0)).toDF("symbol", "cov"))
    cache.writeBack(Seq(("AAA", 2.0), ("BBB", 3.0)).toDF("symbol", "cov"))
    val got = cache.probe(Seq("AAA", "BBB").toDF("symbol"))
      .select("symbol", "cov").as[(String, Double)].collect().toMap
    assert(got == Map("AAA" -> 2.0, "BBB" -> 3.0))
  }

  test("two racing write-backs both land") {
    val dir = scratchDir("graft_cache3") + "/stats"
    val cache = new StatsCache(spark, dir, Seq("symbol"))
    cache.writeBack(Seq(("AAA", 1.0)).toDF("symbol", "cov"))
    // a second writer commits inside the first one's stage→flip window
    SnapshotManifest.testInterleave = Some(("statscache-before-flip", () =>
      new StatsCache(spark, dir, Seq("symbol"))
        .writeBack(Seq(("BBB", 2.0)).toDF("symbol", "cov"))))
    try {
      cache.writeBack(Seq(("CCC", 3.0)).toDF("symbol", "cov"))
      assert(SnapshotManifest.testInterleave.isEmpty, "thunk must have run")
    } finally SnapshotManifest.testInterleave = None
    val got = cache.probe(Seq("AAA", "BBB", "CCC").toDF("symbol"))
      .select("symbol", "cov").as[(String, Double)].collect().toMap
    assert(got == Map("AAA" -> 1.0, "BBB" -> 2.0, "CCC" -> 3.0))
  }
}
