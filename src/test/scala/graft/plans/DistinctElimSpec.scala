package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.catalog.Tables

/** Pins PK-based distinct elimination: DISTINCT/dropDuplicates over a
  * superset of a verified unique key loses its Aggregate/Deduplicate
  * (and therefore its shuffle); COUNT(DISTINCT pk) loses its distinct;
  * non-covering keys and post-join dedup keep the full plan. */
class DistinctElimSpec extends SparkSpec with BeforeAndAfterAll {

  private val root = scratchDir("graft_despec_")
  private val tp = root + "/t"

  private def t: DataFrame = spark.read.parquet(tp)

  override def beforeAll(): Unit = {
    super.beforeAll()
    Tables.load(spark, sf, "orders").select(
      col("o_orderkey").as("ok"), col("o_orderstatus").as("status"),
      col("o_totalprice").as("price"))
      .write.mode("overwrite").parquet(tp)
    DistinctElim.declareUniqueKey("despec_pk", t, Seq("ok"))
    DistinctElim.install(spark)
  }

  override def afterAll(): Unit = {
    PkCatalog.unregister("despec_pk")
    super.afterAll()
  }

  private def optimized(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("DISTINCT over a key superset loses the aggregate and its shuffle") {
    val df = t.select("ok", "status").distinct()
    assert(!optimized(df).contains("Aggregate"), optimized(df))
    assert(!physical(df).contains("Exchange"), physical(df))
    // equality against the un-eliminated result
    spark.conf.set("graft.distinctelim.enabled", "false")
    val off = try t.select("ok", "status").distinct().collect().toSet
    finally spark.conf.unset("graft.distinctelim.enabled")
    assert(df.collect().toSet == off && off.nonEmpty)
  }

  test("dropDuplicates over the key collapses first() groups to a Project") {
    // Spark rewrites Deduplicate into group-by + first(col); verified
    // uniqueness makes every group one row, so the whole aggregate
    // (and its shuffle) must vanish
    val df = t.dropDuplicates("ok")
    assert(!optimized(df).contains("Aggregate"), optimized(df))
    assert(!physical(df).contains("Exchange"), physical(df))
    spark.conf.set("graft.distinctelim.enabled", "false")
    val off = try t.dropDuplicates("ok").collect().toSet
    finally spark.conf.unset("graft.distinctelim.enabled")
    assert(df.collect().toSet == off && off.nonEmpty)
  }

  test("COUNT(DISTINCT pk) loses the distinct (no Expand)") {
    val df = t.agg(countDistinct("ok").as("n"))
    assert(!physical(df).contains("Expand"), physical(df))
    spark.conf.set("graft.distinctelim.enabled", "false")
    val off = try t.agg(countDistinct("ok").as("n")).collect()(0).getLong(0)
    finally spark.conf.unset("graft.distinctelim.enabled")
    assert(df.collect()(0).getLong(0) == off)
  }

  test("DISTINCT over non-covering columns keeps the aggregate") {
    val df = t.select("status").distinct()
    assert(optimized(df).contains("Aggregate"), optimized(df))
  }

  test("dedup above a join keeps its aggregate (uniqueness not provable)") {
    val df = t.as("a").join(t.as("b"), Seq("status")).dropDuplicates("ok")
    assert(optimized(df).contains("Aggregate"), optimized(df))
  }

  test("append after declaration refuses the elimination; re-declaration restores it") {
    import spark.implicits._
    val tp2 = root + "/t2"
    Tables.load(spark, sf, "orders").select(
      col("o_orderkey").as("ok"), col("o_orderstatus").as("status"))
      .write.mode("overwrite").parquet(tp2)
    def t2 = spark.read.parquet(tp2)
    def d = t2.select("ok", "status").distinct()
    try {
      DistinctElim.declareUniqueKey("despec_stale", t2, Seq("ok"))
      assert(!optimized(d).contains("Aggregate"), optimized(d))
      // a VALID append (fresh key) still moves the fingerprint: the
      // audit covered the pre-append state
      Seq((-1L, "V")).toDF("ok", "status").write.mode("append").parquet(tp2)
      assert(optimized(d).contains("Aggregate"), optimized(d))
      // re-auditing restores the elimination
      DistinctElim.declareUniqueKey("despec_stale", t2, Seq("ok"))
      assert(!optimized(d).contains("Aggregate"), optimized(d))
      // an EXACT-duplicate append is the wrong-answer hazard: a
      // Project-for-Aggregate substitution would emit the row twice —
      // the guard must keep the real distinct, which collapses it
      val dup = t2.select("ok", "status").head
      Seq((dup.getLong(0), dup.getString(1))).toDF("ok", "status")
        .write.mode("append").parquet(tp2)
      assert(optimized(d).contains("Aggregate"), optimized(d))
      val on = d.collect().length
      spark.conf.set("graft.distinctelim.enabled", "false")
      val off = try d.collect().length
      finally spark.conf.unset("graft.distinctelim.enabled")
      assert(on == off && on.toLong == t2.count() - 1,
        "the kept real DISTINCT must collapse the duplicate row")
      // and re-declaration on the violated state refuses loudly
      intercept[IllegalArgumentException] {
        DistinctElim.declareUniqueKey("despec_stale", t2, Seq("ok"))
      }
    } finally PkCatalog.unregister("despec_stale")
  }

  test("reverifyAppended: O(window) audit restores a suspended key; a duplicate append refuses") {
    import spark.implicits._
    val tp3 = root + "/t3"
    val o = Tables.load(spark, sf, "orders").select(
      col("o_orderstatus").as("status"),
      to_date(col("o_orderdate")).as("ship"),
      col("o_orderkey").as("ok"))
    val cut = lit("1997-01-01").cast("date")
    graft.catalog.Layout.writeClusteredZoned(o.filter(col("ship") < cut),
      tp3, "status", "ship", numBuckets = 4, filesPerBucket = 4)
    def d = spark.read.parquet(tp3).select("ok", "status").distinct()
    try {
      DistinctElim.declareUniqueKey("despec_rv",
        spark.read.parquet(tp3), Seq("ok"))
      assert(!optimized(d).contains("Aggregate"))
      // nightly append of FRESH keys → guard suspends until re-audited
      graft.catalog.Layout.appendClusteredZoned(
        o.filter(col("ship") >= cut), tp3, "status", "ship",
        numBuckets = 4, filesPerBucket = 4)
      assert(optimized(d).contains("Aggregate"))
      val d1 = DistinctElim.reverifyAppended(spark, "despec_rv")
      assert(!optimized(d).contains("Aggregate"), optimized(d))
      // idempotent when nothing moved
      assert(DistinctElim.reverifyAppended(spark, "despec_rv").fp == d1.fp)
      // appending an EXACT existing key must refuse re-verification
      // and keep the elimination suspended
      val dup = spark.read.parquet(tp3).select("status", "ship", "ok").head
      graft.catalog.Layout.appendClusteredZoned(
        Seq((dup.getString(0), dup.getDate(1), dup.getLong(2)))
          .toDF("status", "ship", "ok"),
        tp3, "status", "ship", numBuckets = 4, filesPerBucket = 4)
      intercept[IllegalArgumentException] {
        DistinctElim.reverifyAppended(spark, "despec_rv")
      }
      assert(optimized(d).contains("Aggregate"))
    } finally PkCatalog.unregister("despec_rv")
  }

  test("reverifyAppended: a NULL-keyed duplicate does not slip through the restriction") {
    import spark.implicits._
    val tp4 = root + "/t4"
    // one NULL-keyed row is unique (SQL grouping: one NULL group)
    graft.catalog.Layout.writeClusteredZoned(
      Seq(("A", 1L, Option(10L)), ("B", 2L, Option(20L)),
        ("C", 3L, Option.empty[Long]))
        .toDF("status", "ship", "ok"),
      tp4, "status", "ship", numBuckets = 2, filesPerBucket = 2)
    try {
      DistinctElim.declareUniqueKey("despec_null",
        spark.read.parquet(tp4), Seq("ok"))
      // append a SECOND NULL-keyed row: SQL grouping (and the real
      // DISTINCT) treats the two as equal — a plain equi-semi-join
      // restriction would never match NULL and silently re-verify;
      // the null-safe restriction must refuse
      graft.catalog.Layout.appendClusteredZoned(
        Seq(("D", 4L, Option.empty[Long])).toDF("status", "ship", "ok"),
        tp4, "status", "ship", numBuckets = 2, filesPerBucket = 2)
      intercept[IllegalArgumentException] {
        DistinctElim.reverifyAppended(spark, "despec_null")
      }
      // the real distinct over the violated key collapses the NULLs
      val d = spark.read.parquet(tp4).select("ok").distinct()
      assert(d.queryExecution.optimizedPlan.toString.contains("Aggregate"))
      assert(d.count() == 3L) // 10, 20, NULL
    } finally PkCatalog.unregister("despec_null")
  }

  test("reverify across compact: dv-only restamps; after the full vacuum the RewriteHop restamps (subset-safe)") {
    import spark.implicits._
    val tp5 = root + "/t5"
    graft.catalog.Layout.writeClusteredZoned(
      (1 to 300).map(i => (s"S${i % 3}", i.toLong, i.toLong))
        .toDF("status", "ship", "ok"),
      tp5, "status", "ship", numBuckets = 2, filesPerBucket = 2)
    def d = spark.read.parquet(tp5).select("ok").distinct()
    try {
      DistinctElim.declareUniqueKey("despec_cp",
        spark.read.parquet(tp5), Seq("ok"))
      assert(!optimized(d).contains("Aggregate"))
      // a dv delete moves the fingerprint but leaves the PLAIN read
      // (the audited identity) bit-identical → NoRowChangeHop restamp,
      // no audit scan
      graft.catalog.Layout.delete(spark, tp5, "ship", col("ok") <= 50)
      assert(optimized(d).contains("Aggregate"), "fp move must suspend")
      DistinctElim.reverifyAppended(spark, "despec_cp")
      assert(!optimized(d).contains("Aggregate"), optimized(d))
      // compact: the directory holds both file generations until the
      // full vacuum — refuse with guidance, stay suspended
      graft.catalog.Layout.compact(spark, tp5, "status", "ship",
        filesPerBucket = 2)
      intercept[IllegalArgumentException] {
        DistinctElim.reverifyAppended(spark, "despec_cp")
      }
      graft.catalog.Layout.vacuum(spark, tp5, retainPrevious = false)
      // the rewrite made the rows a SUBSET — uniqueness survives any
      // subset, so the RewriteHop restamps without an audit
      DistinctElim.reverifyAppended(spark, "despec_cp")
      assert(!optimized(d).contains("Aggregate"), optimized(d))
      assert(d.count() == 250L)
    } finally PkCatalog.unregister("despec_cp")
  }

  test("reverify across time-retention expiry: ShrinkHop restamps (subset-safe), no audit") {
    import spark.implicits._
    val tp6 = root + "/t6"
    graft.catalog.Layout.writeClusteredZoned(
      (1 to 400).map(i => (s"S${i % 2}", i.toLong, i.toLong))
        .toDF("status", "ship", "ok"),
      tp6, "status", "ship", numBuckets = 2, filesPerBucket = 4)
    def d = spark.read.parquet(tp6).select("ok").distinct()
    try {
      DistinctElim.declareUniqueKey("despec_exp",
        spark.read.parquet(tp6), Seq("ok"))
      assert(!optimized(d).contains("Aggregate"))
      // nightly retention drops the old slices; until the full vacuum
      // the plain read still shows them — refuse with guidance
      graft.catalog.Layout.expireBefore(spark, tp6, "ship", lit(201L))
      intercept[IllegalArgumentException] {
        DistinctElim.reverifyAppended(spark, "despec_exp")
      }
      graft.catalog.Layout.vacuum(spark, tp6, retainPrevious = false)
      // a shrunken table keeps its uniqueness — restamp, zero scans
      DistinctElim.reverifyAppended(spark, "despec_exp")
      assert(!optimized(d).contains("Aggregate"), optimized(d))
    } finally PkCatalog.unregister("despec_exp")
  }

  test("declareUniqueKey refuses a duplicate column") {
    intercept[IllegalArgumentException] {
      DistinctElim.declareUniqueKey("despec_bad", t, Seq("status"))
    }
  }

  test("GROUP BY a unique key eliminates the aggregate: every call becomes its single-row value") {
    import spark.implicits._
    val tp7 = root + "/t7"
    Seq((1L, "a", Option(10.0)), (2L, "b", Option.empty[Double]),
      (3L, "a", Option(30.0)))
      .toDF("ok", "status", "price").write.mode("overwrite").parquet(tp7)
    try {
      DistinctElim.declareUniqueKey("despec_agg",
        spark.read.parquet(tp7), Seq("ok"))
      def g0 = spark.read.parquet(tp7).groupBy("ok").agg(
        sum("price").as("s"), avg("price").as("a"),
        min("price").as("mn"), max("price").as("mx"),
        count(lit(1)).as("n"), count(col("price")).as("np"),
        first(col("status")).as("st"))
      def g = g0.orderBy("ok")
      assert(!optimized(g).contains("Aggregate"), optimized(g))
      // the unsorted frame has NO exchange at all (the sorted one
      // keeps only the ORDER BY's range partitioning)
      assert(!physical(g0).contains("Exchange"), physical(g0))
      val rows = g.collect().map(r => (r.getLong(0),
        Option(r.get(1)), r.getLong(5), r.getLong(6))).toSeq
      // NULL price: sum/avg stay NULL, count(price) = 0, count(*) = 1
      assert(rows == Seq((1L, Some(10.0), 1L, 1L),
        (2L, None, 1L, 0L), (3L, Some(30.0), 1L, 1L)), rows.toString)
      // rule-off parity, full row equality
      val on = g.collect().toSeq
      spark.conf.set("graft.distinctelim.enabled", "false")
      val off = try g.collect().toSeq
      finally spark.conf.unset("graft.distinctelim.enabled")
      assert(on == off)
      // grouping by a NON-key keeps the real aggregate
      val keep = spark.read.parquet(tp7).groupBy("status")
        .agg(sum("price").as("s"))
      assert(optimized(keep).contains("Aggregate"), optimized(keep))
      // guards: a computed aggregate child (bare attrs only) and an
      // explicit FILTER clause both keep the real aggregate
      val fil = spark.read.parquet(tp7).groupBy("ok")
        .agg(sum(when(col("status") === "a", col("price"))).as("s"))
      assert(optimized(fil).contains("Aggregate"), optimized(fil))
      spark.read.parquet(tp7).createOrReplaceTempView("despec_t7")
      val sqlFil = spark.sql(
        "SELECT ok, sum(price) FILTER (WHERE status = 'a') AS s " +
          "FROM despec_t7 GROUP BY ok")
      assert(optimized(sqlFil).contains("Aggregate"), optimized(sqlFil))
    } finally PkCatalog.unregister("despec_agg")
  }
}
