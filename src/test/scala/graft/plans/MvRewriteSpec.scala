package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.catalog.Tables

/** Pins the aggregate-navigation MV rewrite: matching queries are
  * re-pointed at the summary parquet (leaf-scan-asserted), results are
  * identical to the un-rewritten base aggregation, and every bail-out
  * guard (non-dim filter, unsupported aggregate, DISTINCT) leaves the
  * plan on the base scan. */
class MvRewriteSpec extends SparkSpec with BeforeAndAfterAll {

  private val root = scratchDir("graft_mvspec_")
  private val factPath = root + "/fact"
  private val mvPath = root + "/mv"

  private def fact: DataFrame = spark.read.parquet(factPath)

  override def beforeAll(): Unit = {
    super.beforeAll()
    Tables.load(spark, sf, "lineitem").select(
      col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
      col("l_quantity").cast("bigint").as("qty"),
      col("l_extendedprice").cast("decimal(18,2)").as("price"))
      .write.mode("overwrite").parquet(factPath)
    Mv.build(fact, "mvspec_fact", Seq("rf", "ls"),
      measures = Seq("qty", "price"), mvPath = mvPath,
      mins = Seq("qty"), maxs = Seq("qty"))
    Mv.install(spark)
  }

  override def afterAll(): Unit = {
    MvCatalog.unregister("mvspec_fact")
    spark.conf.unset("graft.mv.rewrite.enabled")
    super.afterAll()
  }

  /** Root paths of every file scan left in the optimized plan. */
  private def scanPaths(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Seq.empty
      }
    }.flatten.toSet

  private def readsMv(df: DataFrame): Boolean = {
    val p = scanPaths(df)
    p.exists(_.endsWith("/mv")) && !p.exists(_.endsWith("/fact"))
  }

  /** Run `mk` with the rewrite on and off; both result sets. */
  private def onOff(mk: => DataFrame): (Seq[org.apache.spark.sql.Row], Seq[org.apache.spark.sql.Row]) = {
    val on = mk.collect().toSeq
    spark.conf.set("graft.mv.rewrite.enabled", "false")
    val off = try mk.collect().toSeq
    finally spark.conf.set("graft.mv.rewrite.enabled", "true")
    (on, off)
  }

  private def q(df: DataFrame): DataFrame =
    df.groupBy("rf").agg(
      sum("qty").as("sum_qty"),
      count(lit(1)).as("n"),
      round(avg("qty"), 4).as("avg_qty"),
      sum("price").cast("double").as("revenue"),
      min("qty").as("min_qty"),
      max("qty").as("max_qty")).orderBy("rf")

  test("matching rollup+filter query is re-pointed at the MV parquet") {
    assert(readsMv(q(fact.filter(col("ls") === "F"))))
  }

  test("rewritten results are identical to the base aggregation") {
    val (on, off) = onOff(q(fact.filter(col("ls") === "F")))
    assert(on.nonEmpty && on == off)
  }

  test("rollup to the other dim subset rewrites and matches") {
    def g = fact.groupBy("ls").agg(
      count(col("qty")).as("n_qty"), sum("qty").as("sum_qty")).orderBy("ls")
    assert(readsMv(g))
    val (on, off) = onOff(g)
    assert(on.nonEmpty && on == off)
  }

  test("global COUNT(*) over an empty residual slice is 0, not null") {
    def df = fact.filter(col("ls") === "Z").agg(count(lit(1)).as("n"))
    assert(readsMv(df))
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("non-dim residual filter bails to the base scan") {
    val df = fact.filter(col("qty") > 10).groupBy("rf").agg(sum("qty").as("s"))
    assert(scanPaths(df).exists(_.endsWith("/fact")))
  }

  test("unsupported aggregate (stddev) bails to the base scan") {
    val df = fact.groupBy("rf").agg(stddev("qty").as("s"))
    assert(scanPaths(df).exists(_.endsWith("/fact")))
  }

  test("DISTINCT aggregate over a MEASURE bails to the base scan") {
    val df = fact.groupBy("rf").agg(countDistinct("qty").as("d"))
    assert(scanPaths(df).exists(_.endsWith("/fact")))
  }

  test("COUNT(DISTINCT dim) is answered from the summary") {
    def g = fact.groupBy("rf").agg(countDistinct("ls").as("d"),
      sum("qty").as("s")).orderBy("rf")
    assert(readsMv(g), scanPaths(g))
    val (on, off) = onOff(g)
    assert(on.nonEmpty && on == off)
  }

  test("append-refresh merges partials, re-points copy-on-write, answers for the full base") {
    val fp = root + "/fact2"
    Tables.load(spark, sf, "lineitem").select(
      col("l_returnflag").as("rf"), col("l_orderkey").as("ok"),
      col("l_quantity").cast("bigint").as("qty"),
      col("l_extendedprice").cast("decimal(18,2)").as("price"))
      .write.mode("overwrite").parquet(fp)
    val full = spark.read.parquet(fp)
    try {
      val d0 = Mv.build(full.filter(col("ok") % 4 =!= 0), "mvspec_refresh",
        Seq("rf"), measures = Seq("qty", "price"), mvPath = root + "/mv2",
        mins = Seq("qty"), maxs = Seq("qty"))
      val d1 = Mv.refreshAppend(spark, "mvspec_refresh",
        full.filter(col("ok") % 4 === 0))
      assert(d1.mvPath != d0.mvPath, "refresh must re-point, not overwrite")
      // schema stays stable across a second refresh (decimal cast-back)
      val d2 = Mv.refreshAppend(spark, "mvspec_refresh", full.limit(0))
      assert(spark.read.parquet(d2.mvPath).schema("sum_price")
        .dataType.typeName == "decimal(28,2)")
      def g = spark.read.parquet(fp).groupBy("rf").agg(
        sum("qty").as("s"), min("qty").as("mn"), max("qty").as("mx"),
        count(lit(1)).as("n")).orderBy("rf")
      assert(!scanPaths(g).exists(_.endsWith("/fact2")), scanPaths(g))
      val (on, off) = onOff(g)
      assert(on.nonEmpty && on == off)
      // vacuum reclaims the two superseded versions, keeps the
      // current one, and the rewrite still answers
      assert(Mv.vacuum(spark, "mvspec_refresh") == 2)
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(new org.apache.hadoop.fs.Path(d2.mvPath)))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(d0.mvPath)))
      assert(g.collect().toSeq == off)
    } finally MvCatalog.unregister("mvspec_refresh")
  }

  test("CDC refresh retracts deletes, folds inserts, answers for the changed base") {
    val fp = root + "/fact3"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Tables.load(spark, sf, "lineitem").select(
      col("l_returnflag").as("rf"), col("l_orderkey").as("ok"),
      col("l_quantity").cast("bigint").as("qty"),
      col("l_extendedprice").cast("decimal(18,2)").as("price"))
      .write.mode("overwrite").parquet(fp)
    val v0 = spark.read.parquet(fp)
    try {
      val d0 = Mv.build(v0, "mvspec_cdc", Seq("rf"),
        measures = Seq("qty", "price"), mvPath = root + "/mv3")
      v0.filter(col("ok") % 5 === 0)
        .withColumn("_change_type", lit("delete"))
        .unionByName(v0.filter(col("ok") % 7 === 0)
          .withColumn("_change_type", lit("insert")))
        .write.parquet(root + "/feed3")
      v0.filter(col("ok") % 5 =!= 0)
        .unionByName(v0.filter(col("ok") % 7 === 0))
        .write.parquet(root + "/fact3n")
      fs.delete(new org.apache.hadoop.fs.Path(fp), true)
      assert(fs.rename(new org.apache.hadoop.fs.Path(root + "/fact3n"),
        new org.apache.hadoop.fs.Path(fp)))
      val d1 = Mv.refreshChanges(spark, "mvspec_cdc",
        spark.read.parquet(root + "/feed3"))
      assert(d1.mvPath != d0.mvPath, "CDC refresh must re-point, not overwrite")
      // schema stays stable across a second (empty) CDC refresh
      val d2 = Mv.refreshChanges(spark, "mvspec_cdc",
        spark.read.parquet(root + "/feed3").limit(0))
      assert(spark.read.parquet(d2.mvPath).schema("sum_price")
        .dataType.typeName == "decimal(28,2)")
      def g = spark.read.parquet(fp).groupBy("rf").agg(
        sum("qty").as("s"), count(lit(1)).as("n"),
        count(col("price")).as("np")).orderBy("rf")
      assert(!scanPaths(g).exists(_.endsWith("/fact3")), scanPaths(g))
      val (on, off) = onOff(g)
      assert(on.nonEmpty && on == off)
    } finally MvCatalog.unregister("mvspec_cdc")
  }

  test("CDC refresh: full retraction drops the group; zero non-null count nulls the sum") {
    import spark.implicits._
    val fp = root + "/fact4"
    Seq(("A", Some(1L)), ("A", Some(2L)), ("B", Some(5L)), ("B", None))
      .toDF("rf", "qty").write.mode("overwrite").parquet(fp)
    val v0 = spark.read.parquet(fp)
    try {
      Mv.build(v0, "mvspec_cdc0", Seq("rf"), measures = Seq("qty"),
        mvPath = root + "/mv4")
      // delete both A rows (group vanishes) and B's only non-null row
      // (group survives on the null row: cnt=1, cnt_qty=0, sum NULL)
      val feed = Seq(("A", Some(1L), "delete"), ("A", Some(2L), "delete"),
        ("B", Some(5L), "delete"))
        .toDF("rf", "qty", "_change_type")
      val d = Mv.refreshChanges(spark, "mvspec_cdc0", feed)
      val rows = spark.read.parquet(d.mvPath)
        .select("rf", "sum_qty", "cnt_qty", "cnt").collect()
      assert(rows.length == 1 && rows(0).getString(0) == "B")
      assert(rows(0).isNullAt(1), "cancelled sum must read as NULL")
      assert(rows(0).getLong(2) == 0L && rows(0).getLong(3) == 1L)
    } finally MvCatalog.unregister("mvspec_cdc0")
  }

  test("CDC refresh fails loudly on an over-retracting feed (negative count partial)") {
    import spark.implicits._
    val fp = root + "/fact6"
    Seq(("A", 1L), ("B", 5L)).toDF("rf", "qty")
      .write.mode("overwrite").parquet(fp)
    try {
      Mv.build(spark.read.parquet(fp), "mvspec_overret", Seq("rf"),
        measures = Seq("qty"), mvPath = root + "/mv6o")
      // deletes TWO A rows where the view holds one — a corrupt feed;
      // silently absorbing it (the cnt>0 filter alone) would be
      // indistinguishable from a clean full retraction
      val feed = Seq(("A", 1L, "delete"), ("A", 1L, "delete"))
        .toDF("rf", "qty", "_change_type")
      val ex = intercept[Exception] {
        Mv.refreshChanges(spark, "mvspec_overret", feed)
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("over-retracting")),
        s"expected the over-retraction raise_error, got: $ex")
      // a clean retraction of the row the view DOES hold still works
      val ok = Seq(("A", 1L, "delete")).toDF("rf", "qty", "_change_type")
      val d = Mv.refreshChanges(spark, "mvspec_overret", ok)
      val rows = spark.read.parquet(d.mvPath).select("rf").collect()
      assert(rows.map(_.getString(0)).toSeq == Seq("B"))
    } finally MvCatalog.unregister("mvspec_overret")
  }

  test("CDC refresh on a MIN/MAX view: inside-the-extremes deletes fold, ties refuse, bad tags fail") {
    import spark.implicits._
    val fp = root + "/fact5"
    Seq(("A", 1L), ("A", 5L), ("A", 9L), ("B", 4L))
      .toDF("rf", "qty").write.mode("overwrite").parquet(fp)
    try {
      Mv.build(spark.read.parquet(fp), "mvspec_cdc1", Seq("rf"),
        measures = Seq("qty"), mvPath = root + "/mv5",
        mins = Seq("qty"), maxs = Seq("qty"))
      // (A,5) sits strictly inside A's extremes (1, 9): the delete
      // folds and MIN/MAX stand; the same feed's insert extends B's
      Mv.refreshChanges(spark, "mvspec_cdc1",
        Seq(("A", 5L, "delete"), ("B", 99L, "insert"))
          .toDF("rf", "qty", "_change_type"))
      val mv = spark.read.parquet(MvCatalog.get("mvspec_cdc1").get.mvPath)
      val a = mv.filter(col("rf") === "A")
        .select("cnt", "sum_qty", "min_qty", "max_qty").head()
      assert((a.getLong(0), a.getLong(1), a.getLong(2), a.getLong(3)) ==
        ((2L, 10L, 1L, 9L)), a.toString)
      val b = mv.filter(col("rf") === "B")
        .select("cnt", "min_qty", "max_qty").head()
      assert((b.getLong(0), b.getLong(1), b.getLong(2)) == ((2L, 4L, 99L)),
        b.toString)
      // deleting A's max TIES the stored extreme — refuse loudly
      val ex = intercept[IllegalArgumentException] {
        Mv.refreshChanges(spark, "mvspec_cdc1",
          Seq(("A", 9L, "delete")).toDF("rf", "qty", "_change_type"))
      }
      assert(ex.getMessage.contains("MIN/MAX"), ex.getMessage)
      val bad = Seq(("A", 1L, "upsert")).toDF("rf", "qty", "_change_type")
      val ex2 = intercept[Exception] {
        Mv.refreshChanges(spark, "mvspec_cdc1", bad)
      }
      assert(ex2.getMessage != null)
    } finally MvCatalog.unregister("mvspec_cdc1")
  }

  test("ROLLUP over the base is answered from the MV (Expand rebuilt over partials)") {
    def g = fact.rollup("rf", "ls").agg(
      sum("qty").as("s"), count(lit(1)).as("n"),
      round(avg("qty"), 4).as("a"), min("qty").as("mn"))
      .orderBy(col("rf").asc_nulls_first, col("ls").asc_nulls_first)
    assert(readsMv(g), scanPaths(g))
    val (on, off) = onOff(g)
    assert(on.nonEmpty && on == off)
  }

  test("CUBE with a dim filter and grouping_id is answered from the MV") {
    def g = fact.filter(col("ls") === "F").cube("rf", "ls").agg(
      grouping_id().as("gid"), sum("qty").as("s"), count(lit(1)).as("n"))
      .orderBy(col("gid"), col("rf").asc_nulls_first,
        col("ls").asc_nulls_first)
    assert(readsMv(g), scanPaths(g))
    val (on, off) = onOff(g)
    assert(on.nonEmpty && on == off)
  }

  test("ROLLUP with an unsupported aggregate bails to the base") {
    val g = fact.rollup("rf").agg(stddev("qty").as("s"))
    assert(scanPaths(g).exists(_.endsWith("/fact")), scanPaths(g))
  }

  test("star MV: fact-join-dim aggregate is answered from the join summary") {
    val fp = root + "/sfact"
    val dp = root + "/sdim"
    Tables.load(spark, sf, "orders").select(
      col("o_custkey").as("ck"), col("o_orderstatus").as("status"),
      col("o_totalprice").cast("decimal(18,2)").as("price"))
      .write.mode("overwrite").parquet(fp)
    Tables.load(spark, sf, "customer").select(
      col("c_custkey").as("ck2"), col("c_mktsegment").as("seg"))
      .write.mode("overwrite").parquet(dp)
    val factD = spark.read.parquet(fp)
    val dimD = spark.read.parquet(dp)
    try {
      Mv.buildJoin(factD, dimD, "mvspec_star", on = Seq("ck" -> "ck2"),
        dims = Seq("seg", "status"), measures = Seq("price"),
        mvPath = root + "/smv")
      def g = spark.read.parquet(fp)
        .join(spark.read.parquet(dp), col("ck") === col("ck2"), "inner")
        .filter(col("status") === "F")
        .groupBy("seg")
        .agg(sum("price").cast("double").as("revenue"),
          count(lit(1)).as("n")).orderBy("seg")
      val p = scanPaths(g)
      assert(!p.exists(_.endsWith("/sfact")) && !p.exists(_.endsWith("/sdim")), p)
      assert(p.exists(_.endsWith("/smv")), p)
      val (on, off) = onOff(g)
      assert(on.nonEmpty && on == off)
    } finally MvCatalog.unregister("mvspec_star")
  }

  test("star MV: a non-registered join key combination bails to the base join") {
    val fp = root + "/sfact"
    val dp = root + "/sdim"
    try {
      Mv.buildJoin(spark.read.parquet(fp), spark.read.parquet(dp),
        "mvspec_star", on = Seq("ck" -> "ck2"),
        dims = Seq("seg", "status"), measures = Seq("price"),
        mvPath = root + "/smv")
      // extra non-key equality in the condition → not answerable
      val g = spark.read.parquet(fp)
        .join(spark.read.parquet(dp),
          col("ck") === col("ck2") && col("status") === col("seg"), "inner")
        .groupBy("seg").agg(sum("price").as("s"))
      assert(scanPaths(g).exists(_.endsWith("/sfact")), scanPaths(g))
    } finally MvCatalog.unregister("mvspec_star")
  }

  test("base append → rewrite refused (stale stamp), answer is fresh; refresh restores it") {
    import spark.implicits._
    val fp0 = root + "/fact_stale"
    Tables.load(spark, sf, "lineitem").limit(500).select(
      col("l_returnflag").as("rf"), col("l_quantity").cast("bigint").as("qty"))
      .write.mode("overwrite").parquet(fp0)
    try {
      Mv.build(spark.read.parquet(fp0), "mvspec_stale", Seq("rf"),
        measures = Seq("qty"), mvPath = root + "/mv_stale")
      def g = spark.read.parquet(fp0).groupBy("rf")
        .agg(sum("qty").as("s"), count(lit(1)).as("n")).orderBy("rf")
      assert(scanPaths(g).exists(_.endsWith("/mv_stale")), scanPaths(g))
      // the base MOVES: one appended row the summary has never seen —
      // the fingerprint no longer matches, the rule must fall back to
      // the base scan and the answer must include the new row
      val batch = Seq(("Z", 7L)).toDF("rf", "qty")
      batch.write.mode("append").parquet(fp0)
      val p = scanPaths(g)
      assert(p.exists(_.endsWith("/fact_stale")) &&
        !p.exists(_.endsWith("/mv_stale")), p)
      val z = g.collect().filter(_.getString(0) == "Z")
      assert(z.length == 1 && z(0).getLong(1) == 7L && z(0).getLong(2) == 1L,
        "fallback answer must reflect the appended row")
      // folding the batch in re-stamps the def → the rewrite returns
      // (refresh lands in a copy-on-write mv_stale_v* directory)
      Mv.refreshAppend(spark, "mvspec_stale", batch)
      assert(scanPaths(g).exists(_.contains("/mv_stale")), scanPaths(g))
      val (on, off) = onOff(g)
      assert(on.nonEmpty && on == off)
    } finally MvCatalog.unregister("mvspec_stale")
  }

  test("binding is memoized: one listing+schema load per registered summary version") {
    val fp0 = root + "/fact_bind"
    Tables.load(spark, sf, "lineitem").limit(500).select(
      col("l_returnflag").as("rf"), col("l_quantity").cast("bigint").as("qty"))
      .write.mode("overwrite").parquet(fp0)
    try {
      Mv.build(spark.read.parquet(fp0), "mvspec_bind", Seq("rf"),
        measures = Seq("qty"), mvPath = root + "/mv_bind")
      def g = spark.read.parquet(fp0).groupBy("rf").agg(sum("qty").as("s"))
      val before = MvCatalog.bindLoads.get()
      (1 to 3).foreach { _ =>
        assert(scanPaths(g).exists(_.endsWith("/mv_bind")), scanPaths(g))
      }
      assert(MvCatalog.bindLoads.get() - before == 1L,
        "repeated planning must bind from the memo, not re-read parquet")
    } finally MvCatalog.unregister("mvspec_bind")
  }

  test("rebuild-in-place at the same mvPath refreshes the binding cache") {
    import spark.implicits._
    val fp0 = root + "/fact_rb"
    val mvp = root + "/mv_rb"
    Tables.load(spark, sf, "lineitem").limit(400).select(
      col("l_returnflag").as("rf"), col("l_quantity").cast("bigint").as("qty"))
      .write.mode("overwrite").parquet(fp0)
    try {
      Mv.build(spark.read.parquet(fp0), "mvspec_rb", Seq("rf"),
        measures = Seq("qty"), mvPath = mvp)
      def g = spark.read.parquet(fp0).groupBy("rf")
        .agg(sum("qty").as("s"), count(lit(1)).as("n")).orderBy("rf")
      // populate the binding memo
      assert(scanPaths(g).exists(_.endsWith("/mv_rb")))
      assert(g.collect().nonEmpty)
      // the base moves, then the view is REBUILT IN PLACE (overwrite,
      // same path) — the documented recovery for MIN/MAX views. The
      // memoized relation's file index lists part files the overwrite
      // deleted; without invalidation on register, execution fails
      // with FileNotFoundException
      Seq(("Z", 7L)).toDF("rf", "qty").write.mode("append").parquet(fp0)
      Mv.build(spark.read.parquet(fp0), "mvspec_rb", Seq("rf"),
        measures = Seq("qty"), mvPath = mvp)
      assert(scanPaths(g).exists(_.endsWith("/mv_rb")), scanPaths(g))
      val (on, off) = onOff(g)
      assert(on.nonEmpty && on == off)
      assert(on.exists(_.getString(0) == "Z"), "rebuilt summary must hold the new row")
    } finally MvCatalog.unregister("mvspec_rb")
  }

  test("refreshFromLog: a stale MV over a snapshot-logged base self-heals from the change window") {
    import spark.implicits._
    val base = root + "/fact_log"
    val o = Tables.load(spark, sf, "orders").select(
      col("o_orderstatus").as("symbol"),
      org.apache.spark.sql.functions.to_date(col("o_orderdate")).as("ship"),
      col("o_totalprice").cast("decimal(18,2)").as("qty"))
    val cut = lit("1997-01-01").cast("date")
    graft.catalog.Layout.writeClusteredZoned(o.filter(col("ship") < cut),
      base, "symbol", "ship", numBuckets = 4, filesPerBucket = 4)
    def g = spark.read.parquet(base).groupBy("symbol")
      .agg(sum("qty").cast("double").as("s"), count(lit(1)).as("n"))
      .orderBy("symbol")
    try {
      val d0 = Mv.build(spark.read.parquet(base), "mvspec_log",
        Seq("symbol"), measures = Seq("qty"), mvPath = root + "/mv_log")
      assert(d0.fp.contains("snap:"), "snapshot-logged base must stamp snap identity")
      assert(scanPaths(g).exists(_.contains("/mv_log")))
      // nightly append → guard suspends
      graft.catalog.Layout.appendClusteredZoned(o.filter(col("ship") >= cut),
        base, "symbol", "ship", numBuckets = 4, filesPerBucket = 4)
      assert(scanPaths(g).exists(_.endsWith("/fact_log")), scanPaths(g))
      // the summary heals itself from the base's own snapshot log
      val d1 = Mv.refreshFromLog(spark, "mvspec_log")
      assert(d1.mvPath != d0.mvPath)
      assert(scanPaths(g).exists(_.contains("/mv_log")), scanPaths(g))
      val (on, off) = onOff(g)
      assert(on.nonEmpty && on == off)
      // idempotent when nothing moved
      assert(Mv.refreshFromLog(spark, "mvspec_log").mvPath == d1.mvPath)
      // a deletion-vector commit leaves the PLAIN read (the identity
      // the rewrite answers for) bit-identical → NoRowChangeHop: pure
      // restamp, same summary version, rewrite resumes
      graft.catalog.Layout.delete(spark, base, "ship",
        col("symbol") === "F")
      val d2 = Mv.refreshFromLog(spark, "mvspec_log")
      assert(d2.mvPath == d1.mvPath, "dv-only window must not re-fold")
      assert(d2.fp != d1.fp)
      assert(scanPaths(g).exists(_.contains("/mv_log")), scanPaths(g))
      // the compact MATERIALIZES the deletes out of the plain read;
      // until the full vacuum the directory holds both generations —
      // refuse with guidance
      graft.catalog.Layout.compact(spark, base, "symbol", "ship",
        filesPerBucket = 4)
      intercept[IllegalArgumentException] {
        Mv.refreshFromLog(spark, "mvspec_log")
      }
      graft.catalog.Layout.vacuum(spark, base, retainPrevious = false)
      // one more append AFTER the rewrite: the refresh folds the
      // RewriteHop's rw_* rows as retractions AND the AppendHop's
      // fresh rows as inserts in ONE net signed feed
      graft.catalog.Layout.appendClusteredZoned(
        Seq(("F", java.sql.Date.valueOf("1999-03-01"), "42.50"))
          .toDF("symbol", "ship", "qty")
          .select(col("symbol"), col("ship"),
            col("qty").cast("decimal(18,2)").as("qty")),
        base, "symbol", "ship", numBuckets = 4, filesPerBucket = 4)
      val d3 = Mv.refreshFromLog(spark, "mvspec_log")
      assert(d3.mvPath != d2.mvPath)
      assert(scanPaths(g).exists(_.contains("/mv_log")), scanPaths(g))
      val (on2, off2) = onOff(g)
      assert(on2.nonEmpty && on2 == off2,
        "retraction-folded summary must equal the live base aggregation")
      assert(on2.exists(r => r.getString(0) == "F" && r.getLong(2) == 1L),
        s"group F must survive with exactly the re-appended row: ${on2}")
    } finally MvCatalog.unregister("mvspec_log")
  }

  test("a stale sibling MV does not veto a fresh one (plain and grouping-sets paths)") {
    import spark.implicits._
    val fp0 = root + "/fact_sib"
    Seq(("A", 1L), ("B", 5L)).toDF("rf", "qty")
      .write.mode("overwrite").parquet(fp0)
    try {
      // "a_stale" sorts first by name; it goes stale when the base
      // moves. "b_fresh" is built AFTER the append and can answer.
      Mv.build(spark.read.parquet(fp0), "a_stale", Seq("rf"),
        measures = Seq("qty"), mvPath = root + "/mv_sib_a")
      Seq(("C", 9L)).toDF("rf", "qty").write.mode("append").parquet(fp0)
      Mv.build(spark.read.parquet(fp0), "b_fresh", Seq("rf"),
        measures = Seq("qty"), mvPath = root + "/mv_sib_b")
      def g = spark.read.parquet(fp0).groupBy("rf")
        .agg(sum("qty").as("s")).orderBy("rf")
      assert(scanPaths(g).exists(_.endsWith("/mv_sib_b")), scanPaths(g))
      def r = spark.read.parquet(fp0).rollup("rf")
        .agg(sum("qty").as("s"), count(lit(1)).as("n"))
        .orderBy(col("rf").asc_nulls_first)
      assert(scanPaths(r).exists(_.endsWith("/mv_sib_b")), scanPaths(r))
      val (on, off) = onOff(r)
      assert(on.nonEmpty && on == off)
    } finally { MvCatalog.unregister("a_stale"); MvCatalog.unregister("b_fresh") }
  }

  test("star MV self-heals from the fact AND dim snapshot logs (refreshFromLog)") {
    import spark.implicits._
    val factP = root + "/star_fact"
    val dimP = root + "/star_dim"
    def factRows(r: Range) = r.map(i =>
      (i.toLong % 50 + 1, s"S${i % 3}", i.toLong, i.toLong))
      .toDF("ck", "status", "price", "ts")
    def dimRows(r: Range) = r.map(i =>
      (i.toLong, s"G${i % 4}")).toDF("ck2", "seg")
    graft.catalog.Layout.writeClusteredZoned(factRows(1 to 300), factP,
      "status", "ts", numBuckets = 2, filesPerBucket = 2)
    graft.catalog.Layout.writeClusteredZoned(dimRows(1 to 40), dimP,
      "seg", "ck2", numBuckets = 2, filesPerBucket = 2)
    def q = spark.read.parquet(factP)
      .join(spark.read.parquet(dimP), col("ck") === col("ck2"), "inner")
      .groupBy("seg").agg(sum("price").as("rev"), count(lit(1)).as("n"))
      .orderBy("seg")
    def star = scanPaths(q).exists(_.contains("/mv_star")) &&
      !scanPaths(q).exists(_.endsWith("/star_fact"))
    try {
      // drop the zoned tables' bookkeeping column so the declared
      // frames have disjoint schemas (the buildJoin contract)
      val d0 = Mv.buildJoin(
        spark.read.parquet(factP).select("ck", "status", "price"),
        spark.read.parquet(dimP).select("ck2", "seg"),
        "mvspec_star_log", on = Seq("ck" -> "ck2"),
        dims = Seq("seg", "status"), measures = Seq("price"),
        mvPath = root + "/mv_star")
      assert(d0.fp.contains("snap:"))
      assert(star, scanPaths(q).toString)
      // DIM append (the r12 gap: this used to suspend the star
      // rewrite permanently short of an O(fact) rebuild)
      graft.catalog.Layout.appendClusteredZoned(dimRows(41 to 100), dimP,
        "seg", "ck2", numBuckets = 2, filesPerBucket = 2)
      assert(!star, "dim move must suspend the rewrite")
      val d1 = Mv.refreshFromLog(spark, "mvspec_star_log")
      assert(d1.mvPath != d0.mvPath)
      assert(star, scanPaths(q).toString)
      val (on1, off1) = onOff(q)
      assert(on1.nonEmpty && on1 == off1,
        "dim-window fold must equal the full re-join")
      // FACT append: the other one-sided window
      graft.catalog.Layout.appendClusteredZoned(factRows(301 to 400), factP,
        "status", "ts", numBuckets = 2, filesPerBucket = 2)
      assert(!star)
      Mv.refreshFromLog(spark, "mvspec_star_log")
      assert(star, scanPaths(q).toString)
      val (on2, off2) = onOff(q)
      assert(on2 == off2, "fact-window fold must equal the full re-join")
      // BOTH sides move in one window: the signed inclusion–exclusion
      // fold (−ΔF⋈ΔD) — appended fact rows reference appended dim keys
      graft.catalog.Layout.appendClusteredZoned(factRows(401 to 500), factP,
        "status", "ts", numBuckets = 2, filesPerBucket = 2)
      graft.catalog.Layout.appendClusteredZoned(dimRows(101 to 120), dimP,
        "seg", "ck2", numBuckets = 2, filesPerBucket = 2)
      Mv.refreshFromLog(spark, "mvspec_star_log")
      assert(star, scanPaths(q).toString)
      val (on3, off3) = onOff(q)
      assert(on3 == off3, "two-sided signed fold must equal the full re-join")
      // dv-only windows restamp without a fold
      graft.catalog.Layout.delete(spark, dimP, "ck2", col("ck2") > 110L)
      val before = MvCatalog.get("mvspec_star_log").get.mvPath
      val d4 = Mv.refreshFromLog(spark, "mvspec_star_log")
      assert(d4.mvPath == before, "dv-only star window must restamp only")
      assert(star, scanPaths(q).toString)
      // a DIM compact materializes the dv'd rows out of the plain
      // read; the refresh retracts its rw_* provenance rows through
      // the signed join-delta fold and the rewrite RESUMES (this used
      // to refuse with rebuild guidance)
      graft.catalog.Layout.compact(spark, dimP, "seg", "ck2",
        filesPerBucket = 2)
      graft.catalog.Layout.vacuum(spark, dimP, retainPrevious = false)
      Mv.refreshFromLog(spark, "mvspec_star_log")
      assert(star, scanPaths(q).toString)
      val (on5, off5) = onOff(q)
      assert(on5 == off5, "dim-compact retraction must equal the re-join")
      // a JOINABLE dim retraction: keys 1..5 carry fact rows — their
      // join rows must leave the summary. The dv-only restamp between
      // delete and compact keeps the stamp within provenance reach
      // (keep-last-2 + one-hop rw provenance).
      graft.catalog.Layout.delete(spark, dimP, "ck2", col("ck2") <= 5L)
      Mv.refreshFromLog(spark, "mvspec_star_log")
      graft.catalog.Layout.compact(spark, dimP, "seg", "ck2",
        filesPerBucket = 2)
      graft.catalog.Layout.vacuum(spark, dimP, retainPrevious = false)
      Mv.refreshFromLog(spark, "mvspec_star_log")
      assert(star, scanPaths(q).toString)
      val (on6, off6) = onOff(q)
      assert(on6.nonEmpty && on6 == off6,
        "joinable dim retraction must drop those join rows")
      // FACT-side retraction: dv-delete fact rows, compact + vacuum;
      // the fold retracts ΔF⋈D₂ with weight −1
      graft.catalog.Layout.delete(spark, factP, "ts",
        col("price") < 100L)
      Mv.refreshFromLog(spark, "mvspec_star_log") // dv-only restamp
      graft.catalog.Layout.compact(spark, factP, "status", "ts",
        filesPerBucket = 2)
      graft.catalog.Layout.vacuum(spark, factP, retainPrevious = false)
      Mv.refreshFromLog(spark, "mvspec_star_log")
      assert(star, scanPaths(q).toString)
      val (on7, off7) = onOff(q)
      assert(on7.nonEmpty && on7 == off7,
        "fact-compact retraction must equal the re-join")
    } finally MvCatalog.unregister("mvspec_star_log")
  }

  test("two-dim star MV: 3-way join rewrites in any join order, heals from all three logs") {
    import spark.implicits._
    val factP = root + "/s2_fact"
    val d1P = root + "/s2_dim1"
    val d2P = root + "/s2_dim2"
    def factRows(r: Range) = r.map(i =>
      (i.toLong % 20 + 1, i.toLong % 6 + 1, i.toLong, i.toLong))
      .toDF("ck", "pk", "price", "ts")
    def d1Rows(r: Range) = r.map(i => (i.toLong, s"G${i % 4}")).toDF("ck2", "seg")
    def d2Rows(r: Range) = r.map(i => (i.toLong, s"B${i % 3}")).toDF("pk2", "brand")
    graft.catalog.Layout.writeClusteredZoned(factRows(1 to 300), factP,
      "ck", "ts", numBuckets = 2, filesPerBucket = 2)
    graft.catalog.Layout.writeClusteredZoned(d1Rows(1 to 20), d1P,
      "seg", "ck2", numBuckets = 2, filesPerBucket = 2)
    graft.catalog.Layout.writeClusteredZoned(d2Rows(1 to 6), d2P,
      "brand", "pk2", numBuckets = 2, filesPerBucket = 2)
    // fact ⋈ d1 ⋈ d2 in one order; qAlt joins the dims the OTHER way
    // around (matching must be join-order-insensitive)
    def q = spark.read.parquet(factP)
      .join(spark.read.parquet(d1P), col("ck") === col("ck2"), "inner")
      .join(spark.read.parquet(d2P), col("pk") === col("pk2"), "inner")
      .groupBy("seg", "brand")
      .agg(sum("price").as("rev"), count(lit(1)).as("n"))
      .orderBy("seg", "brand")
    def qAlt = spark.read.parquet(factP)
      .join(spark.read.parquet(d2P), col("pk") === col("pk2"), "inner")
      .join(spark.read.parquet(d1P), col("ck") === col("ck2"), "inner")
      .groupBy("seg").agg(sum("price").as("rev")).orderBy("seg")
    def star = scanPaths(q).exists(_.contains("/mv_s2")) &&
      !scanPaths(q).exists(_.endsWith("/s2_fact"))
    try {
      Mv.buildStar(
        spark.read.parquet(factP).select("ck", "pk", "price"),
        Seq(spark.read.parquet(d1P).select("ck2", "seg")
            -> Seq("ck" -> "ck2"),
          spark.read.parquet(d2P).select("pk2", "brand")
            -> Seq("pk" -> "pk2")),
        "mvspec_star2", dims = Seq("seg", "brand"),
        measures = Seq("price"), mvPath = root + "/mv_s2")
      assert(star, scanPaths(q).toString)
      assert(scanPaths(qAlt).exists(_.contains("/mv_s2")),
        "the other join order must rewrite too: " + scanPaths(qAlt))
      val (on0, off0) = onOff(q)
      assert(on0.nonEmpty && on0 == off0)
      // dim2-only append window
      graft.catalog.Layout.appendClusteredZoned(d2Rows(7 to 9), d2P,
        "brand", "pk2", numBuckets = 2, filesPerBucket = 2)
      assert(!star, "a dim move must suspend the rewrite")
      Mv.refreshFromLog(spark, "mvspec_star2")
      assert(star, scanPaths(q).toString)
      val (on1, off1) = onOff(q)
      assert(on1 == off1, "dim2-window fold must equal the re-join")
      // fact AND dim1 move in one window (3 signed terms; dim2 pinned)
      graft.catalog.Layout.appendClusteredZoned(factRows(301 to 400), factP,
        "ck", "ts", numBuckets = 2, filesPerBucket = 2)
      graft.catalog.Layout.appendClusteredZoned(d1Rows(21 to 30), d1P,
        "seg", "ck2", numBuckets = 2, filesPerBucket = 2)
      Mv.refreshFromLog(spark, "mvspec_star2")
      assert(star, scanPaths(q).toString)
      val (on2, off2) = onOff(q)
      assert(on2 == off2, "two-table signed fold must equal the re-join")
      // retraction on dim1 (dv delete → restamp → compact → vacuum)
      graft.catalog.Layout.delete(spark, d1P, "ck2", col("ck2") <= 3L)
      Mv.refreshFromLog(spark, "mvspec_star2") // dv-only restamp
      graft.catalog.Layout.compact(spark, d1P, "seg", "ck2",
        filesPerBucket = 2)
      graft.catalog.Layout.vacuum(spark, d1P, retainPrevious = false)
      Mv.refreshFromLog(spark, "mvspec_star2")
      assert(star, scanPaths(q).toString)
      val (on3, off3) = onOff(q)
      assert(on3.nonEmpty && on3 == off3,
        "dim1 retraction must drop its join rows from the summary")
      // rollup to one dim still answers from the summary
      assert(scanPaths(qAlt).exists(_.contains("/mv_s2")),
        scanPaths(qAlt).toString)
      val (on4, off4) = onOff(qAlt)
      assert(on4 == off4)
      // ROLLUP over the 3-way JOIN rewrites too (Expand over the star
      // source) — grouping sets rebuilt over the summary partials
      spark.read.parquet(factP).createOrReplaceTempView("s2f")
      spark.read.parquet(d1P).createOrReplaceTempView("s2d1")
      spark.read.parquet(d2P).createOrReplaceTempView("s2d2")
      def qRoll = spark.sql(
        "SELECT seg, brand, sum(price) AS rev, count(1) AS n " +
          "FROM s2f JOIN s2d1 ON ck = ck2 JOIN s2d2 ON pk = pk2 " +
          "GROUP BY ROLLUP(seg, brand) " +
          "ORDER BY seg NULLS FIRST, brand NULLS FIRST")
      assert(scanPaths(qRoll).exists(_.contains("/mv_s2")) &&
        !scanPaths(qRoll).exists(_.endsWith("/s2_fact")),
        "star ROLLUP must answer from the summary: " +
          scanPaths(qRoll).toString)
      val (on5, off5) = onOff(qRoll)
      assert(on5.nonEmpty && on5 == off5,
        "star ROLLUP rewrite must equal the real rollup")
    } finally MvCatalog.unregister("mvspec_star2")
  }

  test("lossless star: subset-join and fact-only queries answer from the summary; flags downgrade") {
    import spark.implicits._
    val factP = root + "/ll_fact"
    val d1P = root + "/ll_dim1"
    val d2P = root + "/ll_dim2"
    def factRows(r: Range, pkOf: Int => Long) = r.map(i =>
      (i.toLong % 20 + 1, pkOf(i), i.toLong, i.toLong))
      .toDF("ck", "pk", "price", "ts")
    graft.catalog.Layout.writeClusteredZoned(
      factRows(1 to 300, i => i.toLong % 6 + 1), factP,
      "ck", "ts", numBuckets = 2, filesPerBucket = 2)
    graft.catalog.Layout.writeClusteredZoned(
      (1 to 20).map(i => (i.toLong, s"G${i % 4}")).toDF("ck2", "seg"), d1P,
      "seg", "ck2", numBuckets = 2, filesPerBucket = 2)
    graft.catalog.Layout.writeClusteredZoned(
      (1 to 6).map(i => (i.toLong, s"B${i % 3}")).toDF("pk2", "brand"), d2P,
      "brand", "pk2", numBuckets = 2, filesPerBucket = 2)
    // subset query: joins d1 ONLY — answerable because the omitted
    // fact→d2 join is audited preserving
    def qSub = spark.read.parquet(factP)
      .join(spark.read.parquet(d1P), col("ck") === col("ck2"), "inner")
      .groupBy("seg").agg(sum("price").as("rev"), count(lit(1)).as("n"))
      .orderBy("seg")
    // fact-only query: global aggregate, no join at all
    def qFact = spark.read.parquet(factP)
      .agg(sum("price").as("rev"), count(lit(1)).as("n"))
    def subMv = scanPaths(qSub).exists(_.contains("/mv_ll")) &&
      !scanPaths(qSub).exists(_.endsWith("/ll_fact"))
    def factMv = scanPaths(qFact).exists(_.contains("/mv_ll"))
    try {
      val d0 = Mv.buildStar(
        spark.read.parquet(factP).select("ck", "pk", "price"),
        Seq(spark.read.parquet(d1P).select("ck2", "seg")
            -> Seq("ck" -> "ck2"),
          spark.read.parquet(d2P).select("pk2", "brand")
            -> Seq("pk" -> "pk2")),
        "mvspec_ll", dims = Seq("seg", "brand"),
        measures = Seq("price"), mvPath = root + "/mv_ll")
      assert(d0.joins.forall(_.preserving),
        "full dims + non-null matched keys must audit preserving: " +
          d0.joins.toString)
      assert(subMv, scanPaths(qSub).toString)
      val (on1, off1) = onOff(qSub)
      assert(on1.nonEmpty && on1 == off1,
        "subset-join rollup must equal the real fact ⋈ d1 aggregate")
      assert(factMv, scanPaths(qFact).toString)
      val (on2, off2) = onOff(qFact)
      assert(on2 == off2, "fact-only aggregate must equal the summary rollup")
      // DOWNGRADE: a fact append with an UNMATCHED d2 key folds fine
      // (the join drops it) but breaks preservation — the subset
      // rewrite must stop firing while the full 3-way still answers
      graft.catalog.Layout.appendClusteredZoned(
        factRows(301 to 310, _ => 99L), factP,
        "ck", "ts", numBuckets = 2, filesPerBucket = 2)
      Mv.refreshFromLog(spark, "mvspec_ll")
      val d1r = MvCatalog.get("mvspec_ll").get
      assert(!d1r.joins.find(_.factKeys == Seq("pk")).get.preserving,
        "unmatched fact keys must clear the d2 preserving flag")
      assert(d1r.joins.find(_.factKeys == Seq("ck")).get.preserving,
        "the d1 join is still preserving (keys 1..20 all matched)")
      assert(!subMv,
        "subset rewrite must stop firing once d2 preservation is lost: " +
          scanPaths(qSub).toString)
      val q3 = spark.read.parquet(factP)
        .join(spark.read.parquet(d1P), col("ck") === col("ck2"), "inner")
        .join(spark.read.parquet(d2P), col("pk") === col("pk2"), "inner")
        .groupBy("seg", "brand").agg(sum("price").as("rev"))
        .orderBy("seg", "brand")
      assert(scanPaths(q3).exists(_.contains("/mv_ll")),
        "the full 3-way join must still answer from the summary: " +
          scanPaths(q3).toString)
      val (on3, off3) = onOff(q3)
      assert(on3 == off3)
    } finally MvCatalog.unregister("mvspec_ll")
  }

  test("differential: a star MV refreshed through every window type always equals the re-join") {
    import spark.implicits._
    val factP = root + "/diff_fact"
    val dimP = root + "/diff_dim"
    val rnd = new scala.util.Random(20260815L) // seeded — reproducible
    var nextId = 0L
    def factRows(n: Int) = (1 to n).map { _ =>
      nextId += 1
      (rnd.nextInt(30).toLong + 1, s"S${rnd.nextInt(3)}",
        rnd.nextInt(1000).toLong, nextId)
    }.toDF("ck", "status", "price", "ts")
    def dimRows(r: Range) = r.map(i => (i.toLong, s"G${i % 5}")).toDF("ck2", "seg")
    graft.catalog.Layout.writeClusteredZoned(factRows(200), factP,
      "status", "ts", numBuckets = 2, filesPerBucket = 2)
    graft.catalog.Layout.writeClusteredZoned(dimRows(1 to 30), dimP,
      "seg", "ck2", numBuckets = 2, filesPerBucket = 2)
    def q = spark.read.parquet(factP)
      .join(spark.read.parquet(dimP), col("ck") === col("ck2"), "inner")
      .groupBy("seg", "status")
      .agg(sum("price").as("rev"), count(lit(1)).as("n"))
      .orderBy("seg", "status")
    try {
      Mv.buildJoin(
        spark.read.parquet(factP).select("ck", "status", "price"),
        spark.read.parquet(dimP).select("ck2", "seg"),
        "mvspec_diff", on = Seq("ck" -> "ck2"),
        dims = Seq("seg", "status"), measures = Seq("price"),
        mvPath = root + "/mv_diff")
      var dimHi = 30
      // 12 windows drawn from every maintenance shape; refresh after
      // each and hard-compare the rewritten answer to the real join
      (1 to 12).foreach { step =>
        rnd.nextInt(5) match {
          case 0 => // fact append
            graft.catalog.Layout.appendClusteredZoned(factRows(
              20 + rnd.nextInt(30)), factP, "status", "ts",
              numBuckets = 2, filesPerBucket = 2)
          case 1 => // dim append (fresh keys only — PK stays unique)
            graft.catalog.Layout.appendClusteredZoned(
              dimRows(dimHi + 1 to dimHi + 5), dimP, "seg", "ck2",
              numBuckets = 2, filesPerBucket = 2)
            dimHi += 5
          case 2 => // both sides move in one window
            graft.catalog.Layout.appendClusteredZoned(factRows(10),
              factP, "status", "ts", numBuckets = 2, filesPerBucket = 2)
            graft.catalog.Layout.appendClusteredZoned(
              dimRows(dimHi + 1 to dimHi + 3), dimP, "seg", "ck2",
              numBuckets = 2, filesPerBucket = 2)
            dimHi += 3
          case 3 => // fact CDC delete → restamp → compact → vacuum
            graft.catalog.Layout.delete(spark, factP, "ts",
              pmod(col("ts"), lit(7)) === (step % 7).toLong)
            Mv.refreshFromLog(spark, "mvspec_diff")
            graft.catalog.Layout.compact(spark, factP, "status", "ts",
              filesPerBucket = 2)
            graft.catalog.Layout.vacuum(spark, factP,
              retainPrevious = false)
          case 4 => // dim delete → restamp → compact → vacuum
            graft.catalog.Layout.delete(spark, dimP, "ck2",
              pmod(col("ck2"), lit(11)) === (step % 11).toLong)
            Mv.refreshFromLog(spark, "mvspec_diff")
            graft.catalog.Layout.compact(spark, dimP, "seg", "ck2",
              filesPerBucket = 2)
            graft.catalog.Layout.vacuum(spark, dimP,
              retainPrevious = false)
        }
        Mv.refreshFromLog(spark, "mvspec_diff")
        assert(scanPaths(q).exists(_.contains("/mv_diff")),
          s"step $step: rewrite must fire after refresh: " +
            scanPaths(q).toString)
        val (on, off) = onOff(q)
        assert(on == off, s"step $step: refreshed summary diverged")
      }
    } finally MvCatalog.unregister("mvspec_diff")
  }

  test("log refresh folds a compact retraction through MIN/MAX when no extreme is touched") {
    import spark.implicits._
    val base = root + "/mmx_single"
    graft.catalog.Layout.writeClusteredZoned(
      (1 to 100).map(i => (s"S${i % 2}", i.toLong)).toDF("sym", "price"),
      base, "sym", "price", numBuckets = 2, filesPerBucket = 2)
    def q = spark.read.parquet(base).groupBy("sym").agg(
      min("price").as("mn"), max("price").as("mx"),
      sum("price").as("s"), count(lit(1)).as("n")).orderBy("sym")
    try {
      Mv.build(spark.read.parquet(base), "mvspec_mmx1", Seq("sym"),
        measures = Seq("price"), mvPath = root + "/mv_mmx1",
        mins = Seq("price"), maxs = Seq("price"))
      // delete STRICTLY-INSIDE rows (prices 40..60; extremes are
      // 1/2 and 99/100 per sym) → dv restamp → compact materializes
      // them out → the retraction folds THROUGH the MIN/MAX view
      graft.catalog.Layout.delete(spark, base, "price",
        col("price").between(40L, 60L))
      Mv.refreshFromLog(spark, "mvspec_mmx1") // dv-only restamp
      graft.catalog.Layout.compact(spark, base, "sym", "price",
        filesPerBucket = 2)
      graft.catalog.Layout.vacuum(spark, base, retainPrevious = false)
      Mv.refreshFromLog(spark, "mvspec_mmx1")
      assert(scanPaths(q).exists(_.contains("/mv_mmx1")),
        scanPaths(q).toString)
      val (on, off) = onOff(q)
      assert(on.nonEmpty && on == off,
        "MIN/MAX must survive a non-extremal compact retraction")
      // deleting a group's MAX (price 100) ties the stored extreme —
      // the log refresh refuses with rebuild guidance
      graft.catalog.Layout.delete(spark, base, "price",
        col("price") === 100L)
      Mv.refreshFromLog(spark, "mvspec_mmx1") // dv-only restamp
      graft.catalog.Layout.compact(spark, base, "sym", "price",
        filesPerBucket = 2)
      graft.catalog.Layout.vacuum(spark, base, retainPrevious = false)
      val ex = intercept[IllegalArgumentException] {
        Mv.refreshFromLog(spark, "mvspec_mmx1")
      }
      assert(ex.getMessage.contains("MIN/MAX"), ex.getMessage)
    } finally MvCatalog.unregister("mvspec_mmx1")
  }

  test("star log refresh with MIN/MAX partials refuses a retraction window") {
    import spark.implicits._
    val factP = root + "/mmx_fact"
    val dimP = root + "/mmx_dim"
    graft.catalog.Layout.writeClusteredZoned(
      (1 to 100).map(i => (i.toLong % 10 + 1, s"S${i % 2}", i.toLong))
        .toDF("ck", "status", "price"),
      factP, "status", "price", numBuckets = 2, filesPerBucket = 2)
    graft.catalog.Layout.writeClusteredZoned(
      (1 to 10).map(i => (i.toLong, s"G${i % 3}")).toDF("ck2", "seg"),
      dimP, "seg", "ck2", numBuckets = 2, filesPerBucket = 2)
    try {
      Mv.buildJoin(
        spark.read.parquet(factP).select("ck", "status", "price"),
        spark.read.parquet(dimP).select("ck2", "seg"),
        "mvspec_mmx", on = Seq("ck" -> "ck2"),
        dims = Seq("seg"), measures = Seq("price"),
        maxs = Seq("price"), mvPath = root + "/mv_mmx")
      // append windows stay fine with MIN/MAX (insert-only fold)
      graft.catalog.Layout.appendClusteredZoned(
        Seq((11L, "S0", 1000L)).toDF("ck", "status", "price"),
        factP, "status", "price", numBuckets = 2, filesPerBucket = 2)
      Mv.refreshFromLog(spark, "mvspec_mmx")
      // a TWO-SIDED append window folds through MIN/MAX too (pure
      // multi-append: the inclusion–exclusion deletes only cancel
      // same-feed duplicate inserts) — the appended fact rows
      // reference the appended dim key, extending the max
      graft.catalog.Layout.appendClusteredZoned(
        Seq((12L, "S1", 2000L)).toDF("ck", "status", "price"),
        factP, "status", "price", numBuckets = 2, filesPerBucket = 2)
      graft.catalog.Layout.appendClusteredZoned(
        Seq((12L, "G1")).toDF("ck2", "seg"),
        dimP, "seg", "ck2", numBuckets = 2, filesPerBucket = 2)
      Mv.refreshFromLog(spark, "mvspec_mmx")
      val mx = spark.read.parquet(MvCatalog.get("mvspec_mmx").get.mvPath)
        .agg(max("max_price")).head().getLong(0)
      assert(mx == 2000L,
        s"two-sided append must extend the folded MAX, got $mx")
      // a retraction window (compact after a dv delete) must refuse:
      // MAX does not retract
      graft.catalog.Layout.delete(spark, factP, "price",
        col("price") === 1000L)
      Mv.refreshFromLog(spark, "mvspec_mmx") // dv-only restamp
      graft.catalog.Layout.compact(spark, factP, "status", "price",
        filesPerBucket = 2)
      graft.catalog.Layout.vacuum(spark, factP, retainPrevious = false)
      val ex = intercept[IllegalArgumentException] {
        Mv.refreshFromLog(spark, "mvspec_mmx")
      }
      assert(ex.getMessage.contains("MIN/MAX"), ex.getMessage)
      assert(ex.getMessage.contains("buildStar"), ex.getMessage)
    } finally MvCatalog.unregister("mvspec_mmx")
  }

  test("star log refresh folds the AUDITED snapshot, not in-flight directory files (racing append)") {
    import spark.implicits._
    val factP = root + "/race_fact"
    val dimP = root + "/race_dim"
    def factRows(r: Range) = r.map(i =>
      (i.toLong % 20 + 1, s"S${i % 3}", i.toLong)).toDF("ck", "status", "price")
    def dimRows(r: Range) = r.map(i => (i.toLong, s"G${i % 4}")).toDF("ck2", "seg")
    graft.catalog.Layout.writeClusteredZoned(factRows(1 to 200), factP,
      "status", "price", numBuckets = 2, filesPerBucket = 2)
    graft.catalog.Layout.writeClusteredZoned(dimRows(1 to 20), dimP,
      "seg", "ck2", numBuckets = 2, filesPerBucket = 2)
    try {
      Mv.buildJoin(
        spark.read.parquet(factP).select("ck", "status", "price"),
        spark.read.parquet(dimP).select("ck2", "seg"),
        "mvspec_race", on = Seq("ck" -> "ck2"),
        dims = Seq("seg"), measures = Seq("price"),
        mvPath = root + "/mv_race")
      // dim-only window → the refresh folds F₁ ⋈ ΔD, with F₁ the
      // audited fact state
      graft.catalog.Layout.appendClusteredZoned(dimRows(21 to 40), dimP,
        "seg", "ck2", numBuckets = 2, filesPerBucket = 2)
      // RACING APPEND: a writer has renamed its data file into the
      // live fact bucket dir but has NOT flipped its snapshot — a
      // plain directory read sees these rows; the audited manifest
      // does not. The rows deliberately join the appended dim keys,
      // so an unpinned F₁ would fold them into the summary.
      val strayTmp = root + "/race_stray_tmp"
      (21 to 40).map(i => (i.toLong, "SX", 1000L))
        .toDF("ck", "status", "price").coalesce(1).write.parquet(strayTmp)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(strayTmp))
        .map(_.getPath).find(_.getName.endsWith(".parquet")).get
      val stray = new org.apache.hadoop.fs.Path(
        factP + "/sym_bucket=0/race_inflight.parquet")
      org.apache.hadoop.fs.FileUtil.copy(fs, part, fs, stray, false,
        spark.sparkContext.hadoopConfiguration)
      Mv.refreshFromLog(spark, "mvspec_race")
      // the racer loses: its file never reaches a snapshot
      fs.delete(stray, false)
      def q = spark.read.parquet(factP)
        .join(spark.read.parquet(dimP), col("ck") === col("ck2"), "inner")
        .groupBy("seg").agg(sum("price").as("rev"), count(lit(1)).as("n"))
        .orderBy("seg")
      assert(scanPaths(q).exists(_.contains("/mv_race")),
        scanPaths(q).toString)
      val (on, off) = onOff(q)
      assert(on == off,
        "the fold must cover exactly the audited snapshot — in-flight " +
          "directory files must not be folded (they would be counted " +
          "again when their commit's hop is audited)")
    } finally MvCatalog.unregister("mvspec_race")
  }

  test("refreshAppend refuses a batch that does not cover the stamped gap (snapshot-logged base)") {
    import spark.implicits._
    val base = root + "/fact_gap"
    val df = (1 to 400).map(i => (s"S${i % 3}", i.toLong, i.toLong))
      .toDF("symbol", "ts", "qty")
    graft.catalog.Layout.writeClusteredZoned(df.filter($"ts" <= 300), base,
      "symbol", "ts", numBuckets = 2, filesPerBucket = 2)
    try {
      Mv.build(spark.read.parquet(base), "mvspec_gap", Seq("symbol"),
        measures = Seq("qty"), mvPath = root + "/mv_gap")
      val gap = df.filter($"ts" > 300)
      graft.catalog.Layout.appendClusteredZoned(gap, base,
        "symbol", "ts", numBuckets = 2, filesPerBucket = 2)
      // a batch covering only HALF the appended window must refuse —
      // stamping it green would leave a summary missing 50 rows
      val ex = intercept[IllegalArgumentException] {
        Mv.refreshAppend(spark, "mvspec_gap", gap.filter($"ts" <= 350))
      }
      assert(ex.getMessage.contains("100") &&
        ex.getMessage.contains("50"), ex.getMessage)
      // the exact gap folds fine and the summary answers for the base
      Mv.refreshAppend(spark, "mvspec_gap", gap)
      def g = spark.read.parquet(base).groupBy("symbol")
        .agg(sum("qty").as("s"), count(lit(1)).as("n")).orderBy("symbol")
      assert(scanPaths(g).exists(_.contains("/mv_gap")), scanPaths(g))
      val (on, off) = onOff(g)
      assert(on.nonEmpty && on == off)
      // a dv-only window adds no rows: an empty batch restamps cleanly
      graft.catalog.Layout.delete(spark, base, "ts", $"ts" <= 10)
      Mv.refreshAppend(spark, "mvspec_gap",
        spark.read.parquet(base).limit(0))
      // a window crossing a compact refuses with refreshFromLog
      // guidance — a batch cannot express the materialized-out rows
      graft.catalog.Layout.compact(spark, base, "symbol", "ts",
        filesPerBucket = 2)
      graft.catalog.Layout.vacuum(spark, base, retainPrevious = false)
      val ex2 = intercept[IllegalArgumentException] {
        Mv.refreshAppend(spark, "mvspec_gap",
          spark.read.parquet(base).limit(0))
      }
      assert(ex2.getMessage.contains("refreshFromLog"), ex2.getMessage)
      // heal through the compact, then EXPIRE old rows: removed rows
      // are unrecorded (metadata-only retention) — refreshFromLog must
      // refuse with rebuild guidance, never restamp a summary that
      // still counts the expired rows
      Mv.refreshFromLog(spark, "mvspec_gap")
      graft.catalog.Layout.expireBefore(spark, base, "ts", lit(390L))
      graft.catalog.Layout.vacuum(spark, base, retainPrevious = false)
      val ex3 = intercept[IllegalArgumentException] {
        Mv.refreshFromLog(spark, "mvspec_gap")
      }
      assert(ex3.getMessage.contains("rebuild"), ex3.getMessage)
    } finally MvCatalog.unregister("mvspec_gap")
  }

  test("refreshAppend on an unregistered name fails loudly") {
    intercept[NoSuchElementException] {
      Mv.refreshAppend(spark, "nope", fact)
    }
  }

  test("decimal SUM round-trips with its original widened type") {
    val df = fact.groupBy("rf").agg(sum("price").as("rev"))
    assert(df.schema("rev").dataType.typeName == "decimal(28,2)")
    assert(readsMv(df))
    val (on, off) = onOff(fact.groupBy("rf").agg(sum("price").as("rev")).orderBy("rf"))
    assert(on == off)
  }

  test("bitmap COUNT(DISTINCT measure): rollup OR-merges across groups; refreshAppend dedupes re-inserted values") {
    import spark.implicits._
    val r = root + "/dfact"
    val name = "mvspec_distinct"
    // value 10 occurs under BOTH ls groups of dim a — a summed
    // per-group distinct count would say 2, the OR-merged bitmap 1.
    // Negative and large ids exercise the bitmap's chunk keying.
    Seq(("a", "F", 10L, 1L), ("a", "F", 10L, 2L), ("a", "O", 10L, 3L),
      ("a", "O", -7L, 4L), ("b", "F", 1L << 40, 5L),
      ("b", "F", 10L, 6L))
      .toDF("d", "ls", "v", "q").write.mode("overwrite").parquet(r)
    try {
      Mv.build(spark.read.parquet(r), name, Seq("d", "ls"),
        measures = Seq("q"), mvPath = root + "/dmv",
        distincts = Seq("v"))
      def byD = spark.read.parquet(r).groupBy("d")
        .agg(countDistinct(col("v")).as("nv"), sum("q").as("sq"))
        .orderBy("d")
      def global = spark.read.parquet(r)
        .agg(countDistinct(col("v")).as("nv"))
      assert(scanPaths(byD).forall(_.contains("/dmv")), scanPaths(byD))
      assert(byD.collect().map(x => (x.getString(0), x.getLong(1))).toSeq ==
        Seq(("a", 2L), ("b", 2L)))
      assert(scanPaths(global).forall(_.contains("/dmv")))
      assert(global.head.getLong(0) == 3L)
      // fold a batch that RE-INSERTS v=10 under a third value of q and
      // adds one genuinely new value: counts move by exactly one
      Seq(("a", "F", 10L, 7L), ("b", "O", 99L, 8L))
        .toDF("d", "ls", "v", "q").write.mode("append").parquet(r)
      Mv.refreshAppend(spark, name,
        Seq(("a", "F", 10L, 7L), ("b", "O", 99L, 8L))
          .toDF("d", "ls", "v", "q"))
      assert(scanPaths(byD).forall(_.contains("/dmv")), scanPaths(byD))
      assert(byD.collect().map(x => (x.getString(0), x.getLong(1))).toSeq ==
        Seq(("a", 2L), ("b", 3L)))
      // identical with the rule off (the fact recomputes from scratch)
      val on = byD.collect().toSeq
      spark.conf.set("graft.mv.rewrite.enabled", "false")
      val off = try byD.collect().toSeq
      finally spark.conf.set("graft.mv.rewrite.enabled", "true")
      assert(on == off)
      // a retracting feed cannot fold through bitmaps — refuse loudly
      val ex = intercept[IllegalArgumentException] {
        Mv.refreshChanges(spark, name,
          Seq(("a", "F", 10L, 1L, "delete")).toDF("d", "ls", "v", "q",
            "_change_type"))
      }
      assert(ex.getMessage.contains("rebuild"), ex.getMessage)
    } finally MvCatalog.unregister(name)
  }

  test("distinct tracking refuses non-integral columns at declaration") {
    import spark.implicits._
    val r = root + "/sfact"
    Seq(("a", "x", 1L)).toDF("d", "s", "q")
      .write.mode("overwrite").parquet(r)
    val ex = intercept[IllegalArgumentException] {
      Mv.build(spark.read.parquet(r), "mvspec_badd", Seq("d"),
        measures = Seq("q"), mvPath = root + "/smv",
        distincts = Seq("s"))
    }
    assert(ex.getMessage.contains("integral"), ex.getMessage)
  }

  test("filtered MV: subsuming queries rewrite (filter col not a dim); weaker/absent predicates fall through") {
    import spark.implicits._
    val r = root + "/ffact"
    val name = "mvspec_filtered"
    Seq(("a", "F", "AIR", 1L), ("a", "F", "RAIL", 2L), ("a", "O", "AIR", 4L),
      ("b", "F", "AIR", 8L), ("b", "O", "RAIL", 16L))
      .toDF("d", "st", "mode", "q").write.mode("overwrite").parquet(r)
    try {
      Mv.build(spark.read.parquet(r), name, Seq("d", "mode"),
        measures = Seq("q"), mvPath = root + "/fmv",
        where = Some("st = 'F'"))
      def base = spark.read.parquet(r)
      // exact predicate: answers from the summary, st never stored
      // (def: a cached QueryExecution would pin the pre-refresh MV)
      def g1 = base.filter(col("st") === "F").groupBy("d")
        .agg(sum("q").as("s")).orderBy("d")
      assert(scanPaths(g1).forall(_.contains("/fmv")), scanPaths(g1))
      assert(g1.collect().map(x => (x.getString(0), x.getLong(1))).toSeq ==
        Seq(("a", 3L), ("b", 8L)))
      // predicate + extra DIM filter: subsumed conjuncts drop, the
      // dim residual evaluates against the summary
      def g2 = base.filter(col("st") === "F" && col("mode") === "AIR")
        .groupBy("d").agg(sum("q").as("s")).orderBy("d")
      assert(scanPaths(g2).forall(_.contains("/fmv")), scanPaths(g2))
      assert(g2.collect().map(x => (x.getString(0), x.getLong(1))).toSeq ==
        Seq(("a", 1L), ("b", 8L)))
      // NO predicate: the summary is a strict subset — keep the base
      val g3 = base.groupBy("d").agg(sum("q").as("s"))
      assert(scanPaths(g3).forall(_.contains("/ffact")), scanPaths(g3))
      // a DIFFERENT predicate on the filter column: not subsumed
      val g4 = base.filter(col("st") === "O").groupBy("d")
        .agg(sum("q").as("s"))
      assert(scanPaths(g4).forall(_.contains("/ffact")), scanPaths(g4))
      // extra NON-dim residual (on st beyond the predicate is fine —
      // equal conjuncts dedupe — but on q it must keep the base)
      val g5 = base.filter(col("st") === "F" && col("q") > 2L)
        .groupBy("d").agg(sum("q").as("s"))
      assert(scanPaths(g5).forall(_.contains("/ffact")), scanPaths(g5))
      // refreshAppend folds only the σ(P) slice of a mixed batch
      Seq(("a", "F", "AIR", 32L), ("a", "O", "AIR", 64L))
        .toDF("d", "st", "mode", "q").write.mode("append").parquet(r)
      Mv.refreshAppend(spark, name,
        Seq(("a", "F", "AIR", 32L), ("a", "O", "AIR", 64L))
          .toDF("d", "st", "mode", "q"))
      assert(scanPaths(g1).forall(_.contains("/fmv")), scanPaths(g1))
      assert(g1.collect().map(x => (x.getString(0), x.getLong(1))).toSeq ==
        Seq(("a", 35L), ("b", 8L)))
      // rule-off parity on the refreshed state
      val on = g2.collect().toSeq
      spark.conf.set("graft.mv.rewrite.enabled", "false")
      val off = try g2.collect().toSeq
      finally spark.conf.set("graft.mv.rewrite.enabled", "true")
      assert(on == off)
    } finally MvCatalog.unregister(name)
  }

  test("filtered-MV predicate resolution reads each base footer once per process (schema memo)") {
    import spark.implicits._
    val r = root + "/scfact"
    Seq(("a", "F", 1L), ("a", "O", 2L), ("b", "F", 4L), ("b", "O", 8L))
      .toDF("d", "st", "q").write.mode("overwrite").parquet(r)
    try {
      // TWO filtered MVs over the SAME base: resolving each predicate
      // needs the base schema — the memo must pay the footer once
      Mv.build(spark.read.parquet(r), "mvspec_sc1", Seq("d"),
        measures = Seq("q"), mvPath = root + "/sc1_mv",
        where = Some("st = 'F'"))
      Mv.build(spark.read.parquet(r), "mvspec_sc2", Seq("d"),
        measures = Seq("q"), mvPath = root + "/sc2_mv",
        where = Some("st = 'O'"))
      // re-register both defs: drops their predCache entries AND (the
      // epoch contract) the base's schema memo, so the measured block
      // below resolves BOTH predicates from scratch
      MvCatalog.register(MvCatalog.get("mvspec_sc1").get)
      MvCatalog.register(MvCatalog.get("mvspec_sc2").get)
      val before = MvCatalog.schemaLoads.get()
      def q(p: String) = spark.read.parquet(r).filter(col("st") === p)
        .groupBy("d").agg(sum("q").as("s")).orderBy("d")
      // both predicates resolve (each rewrite answers from its slice)
      assert(scanPaths(q("F")).forall(_.contains("/sc1_mv")), scanPaths(q("F")))
      assert(scanPaths(q("O")).forall(_.contains("/sc2_mv")), scanPaths(q("O")))
      assert(q("O").collect().map(x => (x.getString(0), x.getLong(1)))
        .toSeq == Seq(("a", 2L), ("b", 8L)))
      assert(MvCatalog.schemaLoads.get() - before == 1L,
        s"expected ONE footer read for the shared base (per-MV " +
          s"resolution would pay two), got " +
          s"${MvCatalog.schemaLoads.get() - before}")
      // steady state: further queries never re-read the footer
      val warm = MvCatalog.schemaLoads.get()
      q("F").collect(); q("O").collect()
      assert(MvCatalog.schemaLoads.get() == warm)
    } finally {
      MvCatalog.unregister("mvspec_sc1"); MvCatalog.unregister("mvspec_sc2")
    }
  }

  test("filtered MV over a snapshot-logged base: log refresh folds appends and compact retractions through the slice") {
    import spark.implicits._
    val base = root + "/filt_log"
    val name = "mvspec_filtlog"
    val o = Tables.load(spark, sf, "orders").select(
      col("o_orderstatus").as("symbol"),
      org.apache.spark.sql.functions.to_date(col("o_orderdate")).as("ship"),
      when(col("o_orderkey") % 2 === 0, "K").otherwise("J").as("cat"),
      col("o_totalprice").cast("decimal(18,2)").as("qty"))
    val cut = lit("1997-01-01").cast("date")
    graft.catalog.Layout.writeClusteredZoned(o.filter(col("ship") < cut),
      base, "symbol", "ship", numBuckets = 4, filesPerBucket = 4)
    // the view holds only the cat='K' slice; cat is NOT a dim
    def g = spark.read.parquet(base).filter(col("cat") === "K")
      .groupBy("symbol")
      .agg(sum("qty").cast("double").as("s"), count(lit(1)).as("n"))
      .orderBy("symbol")
    try {
      Mv.build(spark.read.parquet(base), name, Seq("symbol"),
        measures = Seq("qty"), mvPath = root + "/mv_filtlog",
        where = Some("cat = 'K'"))
      assert(scanPaths(g).exists(_.contains("/mv_filtlog")), scanPaths(g))
      // nightly append of MIXED rows → suspend → self-heal: only the
      // batch's σ(cat='K') rows may fold
      graft.catalog.Layout.appendClusteredZoned(
        o.filter(col("ship") >= cut), base, "symbol", "ship",
        numBuckets = 4, filesPerBucket = 4)
      assert(scanPaths(g).exists(_.endsWith("/filt_log")), scanPaths(g))
      Mv.refreshFromLog(spark, name)
      assert(scanPaths(g).exists(_.contains("/mv_filtlog")), scanPaths(g))
      val (on, off) = onOff(g)
      assert(on.nonEmpty && on == off,
        "healed filtered summary must equal the live sliced aggregation")
      // dv-delete IN-slice rows, compact (materializes them out),
      // vacuum: the RewriteHop retraction folds through the scoped
      // feed — the predicate column rides along in the projection
      graft.catalog.Layout.delete(spark, base, "ship",
        col("cat") === "K" && col("symbol") === "F")
      Mv.refreshFromLog(spark, name) // dv-only: restamp
      graft.catalog.Layout.compact(spark, base, "symbol", "ship",
        filesPerBucket = 4)
      graft.catalog.Layout.vacuum(spark, base, retainPrevious = false)
      Mv.refreshFromLog(spark, name)
      assert(scanPaths(g).exists(_.contains("/mv_filtlog")), scanPaths(g))
      val (on2, off2) = onOff(g)
      assert(on2 == off2 && !on2.exists(_.getString(0) == "F"),
        s"retracted group F must leave the sliced view: $on2")
    } finally MvCatalog.unregister(name)
  }

  test("filtered star MV: subsuming re-join queries rewrite; fact-append log refresh folds only the slice") {
    import spark.implicits._
    val fb = root + "/fs_fact"
    val db = root + "/fs_dim"
    val name = "mvspec_filteredstar"
    graft.catalog.Layout.writeClusteredZoned(
      Seq(("f", 1L, 1L, "K", 10L), ("f", 2L, 1L, "J", 20L),
        ("f", 3L, 2L, "K", 40L))
        .toDF("fsym", "ts", "fk2", "st", "q"),
      fb, "fsym", "ts", numBuckets = 2, filesPerBucket = 2)
    graft.catalog.Layout.writeClusteredZoned(
      Seq(("x", 1L), ("y", 2L)).toDF("grp2", "dk2"),
      db, "grp2", "dk2", numBuckets = 2, filesPerBucket = 2)
    def g = spark.read.parquet(fb)
      .join(spark.read.parquet(db), col("fk2") === col("dk2"), "inner")
      .filter(col("st") === "K")
      .groupBy("grp2").agg(sum("q").as("s"), count(lit(1)).as("n"))
      .orderBy("grp2")
    try {
      Mv.buildStar(
        spark.read.parquet(fb).select("fsym", "ts", "fk2", "st", "q"),
        Seq(spark.read.parquet(db).select("grp2", "dk2") ->
          Seq(("fk2", "dk2"))),
        name, Seq("grp2"), measures = Seq("q"),
        mvPath = root + "/fs_mv", where = Some("st = 'K'"))
      assert(scanPaths(g).forall(_.contains("/fs_mv")), scanPaths(g))
      assert(g.collect().map(x =>
        (x.getString(0), x.getLong(1), x.getLong(2))).toSeq ==
        Seq(("x", 10L, 1L), ("y", 40L, 1L)))
      // the unfiltered re-join must NOT answer from the slice
      val full = spark.read.parquet(fb)
        .join(spark.read.parquet(db), col("fk2") === col("dk2"), "inner")
        .groupBy("grp2").agg(sum("q").as("s"))
      assert(full.queryExecution.optimizedPlan.toString.contains("Join"),
        "unfiltered query must keep the real join")
      // mixed fact append → suspend → self-heal folds only σ(st='K')
      graft.catalog.Layout.appendClusteredZoned(
        Seq(("f", 4L, 1L, "K", 100L), ("f", 5L, 2L, "J", 200L))
          .toDF("fsym", "ts", "fk2", "st", "q"),
        fb, "fsym", "ts", numBuckets = 2, filesPerBucket = 2)
      assert(scanPaths(g).exists(_.endsWith("/fs_fact")), scanPaths(g))
      Mv.refreshFromLog(spark, name)
      assert(scanPaths(g).forall(_.contains("/fs_mv")), scanPaths(g))
      assert(g.collect().map(x =>
        (x.getString(0), x.getLong(1), x.getLong(2))).toSeq ==
        Seq(("x", 110L, 2L), ("y", 40L, 1L)))
      val (on, off) = onOff(g)
      assert(on == off)
    } finally MvCatalog.unregister(name)
  }

  test("filtered star MV with a DIM-side predicate rewrites (resolved against the star, not the fact alone)") {
    import spark.implicits._
    val fb = root + "/dw_fact"
    val db = root + "/dw_dim"
    val name = "mvspec_dimwhere"
    graft.catalog.Layout.writeClusteredZoned(
      Seq(("f", 1L, 1L, 10L), ("f", 2L, 1L, 20L), ("f", 3L, 2L, 40L))
        .toDF("fsym", "ts", "fk3", "q"),
      fb, "fsym", "ts", numBuckets = 2, filesPerBucket = 2)
    graft.catalog.Layout.writeClusteredZoned(
      Seq(("x", 1L, "E"), ("y", 2L, "W")).toDF("grp3", "dk3", "reg3"),
      db, "grp3", "dk3", numBuckets = 2, filesPerBucket = 2)
    def g = spark.read.parquet(fb)
      .join(spark.read.parquet(db), col("fk3") === col("dk3"), "inner")
      .filter(col("reg3") === "E")
      .groupBy("grp3").agg(sum("q").as("s"))
      .orderBy("grp3")
    try {
      // `reg3` lives on the DIM table: resolving the predicate against
      // the fact alone parks the view on Literal(false) and the
      // rewrite silently never fires — the regression this pins
      Mv.buildStar(
        spark.read.parquet(fb).select("fsym", "ts", "fk3", "q"),
        Seq(spark.read.parquet(db).select("grp3", "dk3", "reg3") ->
          Seq(("fk3", "dk3"))),
        name, Seq("grp3"), measures = Seq("q"),
        mvPath = root + "/dw_mv", where = Some("reg3 = 'E'"))
      assert(scanPaths(g).forall(_.contains("/dw_mv")), scanPaths(g))
      assert(g.collect().map(x => (x.getString(0), x.getLong(1))).toSeq ==
        Seq(("x", 30L)))
      // a query on the OTHER slice must keep the real join
      val other = spark.read.parquet(fb)
        .join(spark.read.parquet(db), col("fk3") === col("dk3"), "inner")
        .filter(col("reg3") === "W")
        .groupBy("grp3").agg(sum("q").as("s"))
      assert(other.queryExecution.optimizedPlan.toString.contains("Join"),
        "the W slice must not answer from the E-sliced summary")
      val (on, off) = onOff(g)
      assert(on == off)
    } finally MvCatalog.unregister(name)
  }

  test("star MV with bitmap distincts: fact-append log refresh OR-folds; retraction windows refuse") {
    import spark.implicits._
    val fb = root + "/sd_fact"
    val db = root + "/sd_dim"
    val name = "mvspec_stardistinct"
    graft.catalog.Layout.writeClusteredZoned(
      Seq(("f", 1L, 1L, 10L), ("f", 2L, 1L, 10L), ("f", 3L, 2L, 10L),
        ("f", 4L, 2L, 20L))
        .toDF("fsym", "ts", "fk", "v"),
      fb, "fsym", "ts", numBuckets = 2, filesPerBucket = 2)
    graft.catalog.Layout.writeClusteredZoned(
      Seq(("x", 1L), ("y", 2L)).toDF("grp", "dk"),
      db, "grp", "dk", numBuckets = 2, filesPerBucket = 2)
    def g = spark.read.parquet(fb)
      .join(spark.read.parquet(db), col("fk") === col("dk"), "inner")
      .groupBy("grp")
      .agg(countDistinct(col("v")).as("nv"), sum("v").as("sv"))
      .orderBy("grp")
    try {
      // drop the Layout's sym_bucket bookkeeping column on both sides
      Mv.buildStar(spark.read.parquet(fb).select("fsym", "ts", "fk", "v"),
        Seq(spark.read.parquet(db).select("grp", "dk") ->
          Seq(("fk", "dk"))),
        name, Seq("grp"), measures = Seq("v"),
        mvPath = root + "/sd_mv", distincts = Seq("v"))
      assert(scanPaths(g).forall(_.contains("/sd_mv")), scanPaths(g))
      assert(g.collect().map(x => (x.getString(0), x.getLong(1))).toSeq ==
        Seq(("x", 1L), ("y", 2L)))
      // fact append re-inserting v=10 under x and adding v=99 under y:
      // the one-table append-only log refresh joins the delta against
      // the pinned dim and OR-folds the bitmaps — x must stay at 1
      graft.catalog.Layout.appendClusteredZoned(
        Seq(("f", 5L, 1L, 10L), ("f", 6L, 2L, 99L))
          .toDF("fsym", "ts", "fk", "v"),
        fb, "fsym", "ts", numBuckets = 2, filesPerBucket = 2)
      assert(scanPaths(g).exists(_.endsWith("/sd_fact")), scanPaths(g))
      Mv.refreshFromLog(spark, name)
      assert(scanPaths(g).forall(_.contains("/sd_mv")), scanPaths(g))
      assert(g.collect().map(x => (x.getString(0), x.getLong(1))).toSeq ==
        Seq(("x", 1L), ("y", 3L)))
      // a genuine fact retraction (dv → compact → vacuum) cannot fold
      // through bitmaps — the signed path refuses with rebuild guidance
      graft.catalog.Layout.delete(spark, fb, "ts", col("ts") === 4L)
      Mv.refreshFromLog(spark, name) // dv-only: restamp
      graft.catalog.Layout.compact(spark, fb, "fsym", "ts",
        filesPerBucket = 2)
      graft.catalog.Layout.vacuum(spark, fb, retainPrevious = false)
      val ex = intercept[IllegalArgumentException] {
        Mv.refreshFromLog(spark, name)
      }
      assert(ex.getMessage.contains("rebuild"), ex.getMessage)
    } finally MvCatalog.unregister(name)
  }

  test("HAVING / sort / limit above a rewritten aggregate keep working (output attrs preserved)") {
    // the rewrite preserves the Aggregate's output exprIds, so a
    // HAVING filter, ORDER BY, and LIMIT stacked above it re-bind
    // against the substituted plan untouched
    val df = fact.groupBy("rf", "ls").agg(sum("qty").as("s"))
      .filter(col("s") > 1000L) // HAVING
      .orderBy(desc("s")).limit(2)
    assert(readsMv(df))
    val (on, off) = onOff(fact.groupBy("rf", "ls").agg(sum("qty").as("s"))
      .filter(col("s") > 1000L).orderBy(desc("s")).limit(2))
    assert(on.nonEmpty && on == off)
  }

  test("filtered MV range implication: a stricter query predicate answers from a wider slice") {
    import spark.implicits._
    val r = root + "/ifact"
    val name = "mvspec_implied"
    Seq(("a", 5L, 1L), ("a", 10L, 2L), ("a", 12L, 4L), ("b", 12L, 8L),
      ("b", 30L, 16L)).toDF("d", "k", "q")
      .write.mode("overwrite").parquet(r)
    try {
      // k IS a dim here: the implying (stricter) conjunct stays as a
      // residual and must evaluate against the summary
      Mv.build(spark.read.parquet(r), name, Seq("d", "k"),
        measures = Seq("q"), mvPath = root + "/imv",
        where = Some("k >= 10"))
      def base = spark.read.parquet(r)
      // k = 12 implies k >= 10 → answers from the slice, residual k=12
      val g1 = base.filter(col("k") === 12L).groupBy("d")
        .agg(sum("q").as("s")).orderBy("d")
      assert(scanPaths(g1).forall(_.contains("/imv")), scanPaths(g1))
      assert(g1.collect().map(x => (x.getString(0), x.getLong(1))).toSeq ==
        Seq(("a", 4L), ("b", 8L)))
      // k > 15 implies k >= 10 likewise
      val g2 = base.filter(col("k") > 15L).groupBy("d")
        .agg(sum("q").as("s"))
      assert(scanPaths(g2).forall(_.contains("/imv")), scanPaths(g2))
      // k >= 5 is WEAKER — the slice is missing rows; keep the base
      val g3 = base.filter(col("k") >= 5L).groupBy("d")
        .agg(sum("q").as("s"))
      assert(scanPaths(g3).forall(_.contains("/ifact")), scanPaths(g3))
    } finally MvCatalog.unregister(name)
  }

  test("ROLLUP over a filtered MV: the Expand path subsumes the predicate and drops it") {
    import spark.implicits._
    val r = root + "/rfact"
    val name = "mvspec_rollfilt"
    Seq(("a", "u", "K", 1L), ("a", "v", "K", 2L), ("a", "u", "J", 4L),
      ("b", "u", "K", 8L)).toDF("d", "e", "st", "q")
      .write.mode("overwrite").parquet(r)
    try {
      Mv.build(spark.read.parquet(r), name, Seq("d", "e"),
        measures = Seq("q"), mvPath = root + "/rmv",
        where = Some("st = 'K'"))
      def g = spark.read.parquet(r).filter(col("st") === "K")
        .rollup("d", "e").agg(sum("q").as("s"))
        .orderBy(col("d").asc_nulls_first, col("e").asc_nulls_first)
      assert(scanPaths(g).forall(_.contains("/rmv")), scanPaths(g))
      val rows = g.collect().map(x =>
        (Option(x.getString(0)), Option(x.getString(1)), x.getLong(2))).toSeq
      assert(rows == Seq(
        (None, None, 11L),
        (Some("a"), None, 3L), (Some("a"), Some("u"), 1L),
        (Some("a"), Some("v"), 2L),
        (Some("b"), None, 8L), (Some("b"), Some("u"), 8L)), rows)
      // without the predicate the slice cannot answer the rollup
      val g2 = spark.read.parquet(r).rollup("d", "e")
        .agg(sum("q").as("s"))
      assert(scanPaths(g2).forall(_.contains("/rfact")), scanPaths(g2))
    } finally MvCatalog.unregister(name)
  }

  test("filtered MV with a MEASURE-range predicate rewrites subsuming queries") {
    import spark.implicits._
    val r = root + "/qfact"
    val name = "mvspec_qrange"
    Seq(("a", 1L), ("a", 10L), ("a", 50L), ("b", 60L), ("b", 2L))
      .toDF("d", "q").write.mode("overwrite").parquet(r)
    try {
      Mv.build(spark.read.parquet(r), name, Seq("d"),
        measures = Seq("q"), mvPath = root + "/qmv",
        where = Some("q > 5"))
      val g = spark.read.parquet(r).filter(col("q") > 5L)
        .groupBy("d").agg(sum("q").as("s"), count(lit(1)).as("n"))
        .orderBy("d")
      assert(scanPaths(g).forall(_.contains("/qmv")), scanPaths(g))
      assert(g.collect().map(x =>
        (x.getString(0), x.getLong(1), x.getLong(2))).toSeq ==
        Seq(("a", 60L, 2L), ("b", 60L, 1L)))
    } finally MvCatalog.unregister(name)
  }

  /** The registered summary `name` equals, row for row, a fresh
    * `build` of the same definition over the current base. */
  private def assertFresh(name: String)(build: String => MvDef): Unit = {
    val fresh = build(name + "_fresh")
    try {
      val exp = spark.read.parquet(fresh.mvPath)
      def rows(df: DataFrame) =
        df.select(exp.columns.map(col): _*).collect().map(_.toString).sorted.toSeq
      val got = rows(spark.read.parquet(MvCatalog.get(name).get.mvPath))
      assert(got == rows(exp), s"$got vs ${rows(exp)}")
    } finally MvCatalog.unregister(fresh.name)
  }

  test("star log refresh folds a MAX column that is not a SUM measure") {
    import spark.implicits._
    val factP = root + "/mmc_fact"
    val dimP = root + "/mmc_dim"
    graft.catalog.Layout.writeClusteredZoned(
      (1 to 100).map(i => (i.toLong % 10 + 1, i.toLong, i.toLong * 3))
        .toDF("ck", "qty", "price"),
      factP, "ck", "price", numBuckets = 2, filesPerBucket = 2)
    graft.catalog.Layout.writeClusteredZoned(
      (1 to 10).map(i => (i.toLong, s"G${i % 3}")).toDF("ck2", "seg"),
      dimP, "seg", "ck2", numBuckets = 2, filesPerBucket = 2)
    def build(name: String) = Mv.buildJoin(
      spark.read.parquet(factP).select("ck", "qty", "price"),
      spark.read.parquet(dimP).select("ck2", "seg"), name,
      on = Seq("ck" -> "ck2"), dims = Seq("seg"), measures = Seq("qty"),
      maxs = Seq("price"), mvPath = root + "/mv_" + name)
    try {
      build("mvspec_mmc")
      graft.catalog.Layout.appendClusteredZoned(
        Seq((3L, 7L, 5000L)).toDF("ck", "qty", "price"),
        factP, "ck", "price", numBuckets = 2, filesPerBucket = 2)
      Mv.refreshFromLog(spark, "mvspec_mmc")
      assertFresh("mvspec_mmc")(build)
    } finally MvCatalog.unregister("mvspec_mmc")
  }

  test("single-table log refresh guards a retraction on a MIN column that is not a SUM measure") {
    import spark.implicits._
    val base = root + "/mmc_single"
    graft.catalog.Layout.writeClusteredZoned(
      (1 to 100).map(i => (s"S${i % 2}", i.toLong, i.toLong * 3))
        .toDF("sym", "qty", "price"),
      base, "sym", "price", numBuckets = 2, filesPerBucket = 2)
    def build(name: String) = Mv.build(spark.read.parquet(base), name,
      Seq("sym"), measures = Seq("qty"), mvPath = root + "/mv_" + name,
      mins = Seq("price"))
    try {
      build("mvspec_mmcs")
      // an interior row (the group minima are 3 and 6)
      graft.catalog.Layout.delete(spark, base, "price",
        col("price") === 150L)
      Mv.refreshFromLog(spark, "mvspec_mmcs") // dv-only restamp
      graft.catalog.Layout.compact(spark, base, "sym", "price",
        filesPerBucket = 2)
      graft.catalog.Layout.vacuum(spark, base, retainPrevious = false)
      Mv.refreshFromLog(spark, "mvspec_mmcs")
      assertFresh("mvspec_mmcs")(build)
    } finally MvCatalog.unregister("mvspec_mmcs")
  }

  test("job pins: the single-table log walker and builder") {
    import spark.implicits._
    val base = root + "/jobs_single"
    def rows(r: Range) = r.map(i => (s"S${i % 2}", i.toLong, i.toLong * 3))
      .toDF("sym", "qty", "price")
    graft.catalog.Layout.writeClusteredZoned(rows(1 to 100), base, "sym",
      "price", numBuckets = 2, filesPerBucket = 2)
    def build(name: String) = Mv.build(spark.read.parquet(base), name,
      Seq("sym"), measures = Seq("qty", "price"),
      mvPath = root + "/mv_" + name, mins = Seq("price"))
    def refresh = Mv.refreshFromLog(spark, "mvspec_jobs")
    try {
      val (_, nBuild) = jobsOf(build("mvspec_jobs"))
      val (_, nIdle) = jobsOf(refresh)
      graft.catalog.Layout.delete(spark, base, "price",
        col("price") === 150L)
      val (_, nDv) = jobsOf(refresh)
      graft.catalog.Layout.appendClusteredZoned(rows(101 to 101), base,
        "sym", "price", numBuckets = 2, filesPerBucket = 2)
      val (_, nAppend) = jobsOf(refresh)
      graft.catalog.Layout.compact(spark, base, "sym", "price",
        filesPerBucket = 2)
      graft.catalog.Layout.vacuum(spark, base, retainPrevious = false)
      val (_, nCompact) = jobsOf(refresh)
      val got = (nIdle, nDv, nAppend, nCompact, nBuild)
      info(s"jobs (idle, dv, append, compact, build) = $got")
      assert(nIdle == 0 && nDv == 0, got)
      assert(nAppend <= 4 && nCompact <= 6 && nBuild <= 3, got)
      assertFresh("mvspec_jobs")(build)
    } finally MvCatalog.unregister("mvspec_jobs")
  }
}
