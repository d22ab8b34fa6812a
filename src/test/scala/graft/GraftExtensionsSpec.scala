package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** The spark.sql.extensions deployment path: a FRESH session built
  * only from config must expose hold_fold in SQL. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions injected via withExtensions registers hold_fold") {
    // `spark.sql.extensions=graft.GraftExtensions` only applies on a
    // fresh JVM (it is a static conf read from the SparkContext); in
    // a shared-context test the programmatic withExtensions path
    // exercises the same injection code
    val prev = SparkSpec.session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .appName("ext-test")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      import s2.implicits._
      Seq((1L, "A", 1L, 1L, "BUY", 10.0, 5.0))
        .toDF("portfolio", "symbol", "ts", "seq", "side", "qty", "price")
        .createOrReplaceTempView("ext_trades")
      val got = s2.sql(
        """SELECT hold_fold(ts, seq, side, qty, price).shares AS sh
           FROM ext_trades GROUP BY portfolio, symbol""")
        .as[Double].collect().toSeq
      assert(got == Seq(10.0))
      // quantile_sketch through pure SQL (decimal literals folded)
      s2.range(1, 101).createOrReplaceTempView("ext_nums")
      val qs = s2.sql(
        """SELECT quantile_sketch(CAST(id AS DOUBLE), array(0.5, 0.9), 0.0001)
           AS q FROM ext_nums""")
        .selectExpr("q[0]", "q[1]").as[(Double, Double)].head()
      assert(qs == ((50.0, 90.0)))
      val hh = s2.sql(
        """SELECT heavy_hitters(CAST(id % 3 AS STRING), 16) AS h FROM ext_nums""")
        .selectExpr("h[0].item", "h[0].cnt").as[(String, Long)].head()
      assert(hh == (("1", 34L))) // ids 1..100: 1 mod 3 → 34 hits, ties break by item
      // exact bitmap distinct + intersection through pure SQL
      val bc = s2.sql(
        """SELECT bitmap_card(bitmap_agg(id)) AS n,
                  bitmap_and_card(bitmap_agg(id),
                                  bitmap_agg(id * 2)) AS both
           FROM ext_nums""").as[(Long, Long)].head()
      assert(bc == ((100L, 50L))) // ids 1..100 ∩ evens 2..200 = 50
      // planner-probed result cache through the SAME injection path
      // (the rule runs inside the operator-optimization fixed point
      // here, not the extraOptimizations tail batch — both must serve)
      val rcRoot = SparkSpec.scratchDir("graft_extrc")
      s2.range(10).selectExpr("id % 2 AS k", "id AS v")
        .write.mode("overwrite").parquet(rcRoot + "/t")
      s2.conf.set("graft.resultcache.dir", rcRoot + "/cache")
      try {
        def q = s2.read.parquet(rcRoot + "/t").groupBy("k")
          .agg(org.apache.spark.sql.functions.sum("v").as("s"))
          .orderBy("k")
        assert(q.as[(Long, Long)].collect().toSeq ==
          Seq((0L, 20L), (1L, 25L)))
        val scans = q.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location.rootPaths.map(_.toString)
              case _ => Seq.empty
            }
        }.flatten.toSet
        assert(scans.nonEmpty && scans.forall(_.contains("/cache")),
          s"extensions-injected result cache did not serve: $scans")
        assert(q.as[(Long, Long)].collect().toSeq ==
          Seq((0L, 20L), (1L, 25L)))
      } finally s2.conf.unset("graft.resultcache.dir")
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }
}
