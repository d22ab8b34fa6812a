package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the query result cache: identical (plan, table-state) pairs
  * hit, any input commit re-keys, zero-row results round-trip via the
  * schema sidecar, vacuum reclaims. */
class ResultCacheSpec extends SparkSpec {

  private val root = scratchDir("graft_rcspec_")
  private val tableP = root + "/t"
  private val cacheP = root + "/cache"

  private def scanPaths(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Seq.empty
      }
    }.flatten.toSet

  test("hit serves the persisted entry; an input append re-keys and recomputes") {
    import spark.implicits._
    Seq(("a", 1L), ("a", 2L), ("b", 4L)).toDF("k", "v")
      .write.mode("overwrite").parquet(tableP)
    def q = spark.read.parquet(tableP).groupBy("k")
      .agg(sum("v").as("s")).orderBy("k")
    val m0 = ResultCache.misses.get()
    val r1 = ResultCache.through(q, cacheP)
    assert(ResultCache.misses.get() == m0 + 1)
    assert(r1.collect().map(x => (x.getString(0), x.getLong(1))).sorted
      .toSeq == Seq(("a", 3L), ("b", 4L)))
    // second identical call: no new miss, scans only the cache entry
    val r2 = ResultCache.through(q, cacheP)
    assert(ResultCache.misses.get() == m0 + 1, "expected a cache hit")
    assert(scanPaths(r2).forall(_.contains("/cache")), scanPaths(r2))
    // a DIFFERENT query misses (plan in the key)
    ResultCache.through(
      spark.read.parquet(tableP).groupBy("k").agg(count(lit(1)).as("n")),
      cacheP)
    assert(ResultCache.misses.get() == m0 + 2)
    // an input append changes the fingerprint → re-key → fresh result
    Seq(("b", 8L)).toDF("k", "v").write.mode("append").parquet(tableP)
    val r3 = ResultCache.through(q, cacheP)
    assert(ResultCache.misses.get() == m0 + 3,
      "a moved input must never hit the stale entry")
    assert(r3.collect().map(x => (x.getString(0), x.getLong(1))).sorted
      .toSeq == Seq(("a", 3L), ("b", 12L)))
  }

  test("zero-row results round-trip through the schema sidecar") {
    import spark.implicits._
    val t2 = root + "/t2"
    Seq(("a", 1L)).toDF("k", "v").write.mode("overwrite").parquet(t2)
    def q = spark.read.parquet(t2).filter(col("v") > 100L)
      .groupBy("k").agg(sum("v").as("s"))
    val r1 = ResultCache.through(q, cacheP)
    assert(r1.isEmpty && r1.schema.fieldNames.toSeq == Seq("k", "s"))
    val m = ResultCache.misses.get()
    val r2 = ResultCache.through(q, cacheP) // hit, schema from sidecar
    assert(ResultCache.misses.get() == m)
    assert(r2.isEmpty && r2.schema.fieldNames.toSeq == Seq("k", "s"))
  }

  test("planner-probed: the installed rule serves a repeat aggregate transparently, order preserved, non-deterministic never cached") {
    import spark.implicits._
    val t4 = root + "/t4"
    val cache2 = root + "/cache2"
    Seq(("a", 1L), ("b", 4L), ("c", 2L)).toDF("k", "v")
      .write.mode("overwrite").parquet(t4)
    ResultCache.install(spark)
    spark.conf.set("graft.resultcache.dir", cache2)
    try {
      def q = spark.read.parquet(t4).groupBy("k")
        .agg(sum("v").as("s")).orderBy(desc("k"))
      val m0 = ResultCache.misses.get()
      val h0 = ResultCache.hits.get()
      // first run: the rule populates the entry from inside the
      // optimizer — no explicit routing anywhere
      assert(q.collect().map(_.getString(0)).toSeq == Seq("c", "b", "a"))
      assert(ResultCache.misses.get() == m0 + 1)
      // second run: plan-asserted to scan ONLY the cache entry, with
      // the root Sort preserved ABOVE it (parquet loses order)
      val again = q
      assert(scanPaths(again).nonEmpty &&
        scanPaths(again).forall(_.contains("/cache2")), scanPaths(again))
      assert(again.collect().map(_.getString(0)).toSeq == Seq("c", "b", "a"))
      assert(ResultCache.hits.get() > h0)
      assert(ResultCache.misses.get() == m0 + 1, "the repeat must not recompute")
      // a non-deterministic query is never cached (rand() >= 0.0 would
      // not do here: the optimizer folds it away as always-true)
      val nd = spark.read.parquet(t4).filter(rand() >= 0.5)
        .groupBy("k").agg(sum("v").as("s"))
      assert(scanPaths(nd).exists(_.contains("/t4")), scanPaths(nd))
    } finally spark.conf.unset("graft.resultcache.dir")
  }

  test("order/limit variants share ONE un-limited entry (the strip trade, affirmed r19)") {
    import spark.implicits._
    val t5 = root + "/t5"
    val cache3 = root + "/cache3"
    (1 to 100).map(i => (s"k$i", i.toLong)).toDF("k", "v")
      .write.mode("overwrite").parquet(t5)
    ResultCache.install(spark)
    spark.conf.set("graft.resultcache.dir", cache3)
    try {
      def base = spark.read.parquet(t5).groupBy("k").agg(sum("v").as("s"))
      val m0 = ResultCache.misses.get()
      // a LIMITED first run materializes the un-limited aggregate once
      assert(base.orderBy(desc("s")).limit(5).collect().length == 5)
      assert(ResultCache.misses.get() == m0 + 1)
      // every ordering/limit variant — and the un-limited probe — then
      // serves from that one entry: the sharing that justifies keying
      // the un-limited plan (see strip's DECIDED note)
      val variants = Seq(
        base.orderBy(asc("s")).limit(3),
        base.orderBy(desc("k")).limit(10),
        base.orderBy("k"))
      variants.foreach { v =>
        val sp = scanPaths(v)
        assert(sp.nonEmpty && sp.forall(_.contains("/cache3")), sp)
      }
      assert(ResultCache.misses.get() == m0 + 1,
        "all order/limit variants must share the single entry")
      assert(variants.head.collect().map(_.getLong(1)).toSeq ==
        Seq(1L, 2L, 3L))
    } finally spark.conf.unset("graft.resultcache.dir")
  }

  test("wide plans differing past maxToStringFields key differently (lossless rendering)") {
    import spark.implicits._
    val t5 = root + "/t5"
    Seq(("a", 1L), ("b", 4L)).toDF("k", "v")
      .write.mode("overwrite").parquet(t5)
    // 30 aggregate expressions: the default treeString truncates the
    // list at spark.sql.debug.maxToStringFields (25) — two queries
    // differing only in the tail once rendered IDENTICALLY and shared
    // one entry (the second silently served the first's result)
    def wide(last: Long) = {
      val aggs = (0 until 29).map(i => sum(col("v") + lit(i)).as(s"s$i")) :+
        sum(col("v") + lit(last)).as("s29")
      spark.read.parquet(t5).groupBy("k").agg(aggs.head, aggs.tail: _*)
        .orderBy("k")
    }
    val ka = ResultCache.planKey(spark, wide(29L).queryExecution.optimizedPlan)
    val kb = ResultCache.planKey(spark, wide(999L).queryExecution.optimizedPlan)
    assert(ka != kb, "tail-differing wide plans must not collide")
    // end-to-end: each variant gets its own entry and its own values
    val ra = ResultCache.through(wide(29L), cacheP)
      .filter(col("k") === "a").select("s29").head().getLong(0)
    val rb = ResultCache.through(wide(999L), cacheP)
      .filter(col("k") === "a").select("s29").head().getLong(0)
    assert(ra == 30L && rb == 1000L, s"got $ra / $rb")
  }

  test("a lost publish race drops the staging dir and keeps the winner's entry") {
    import spark.implicits._
    val t6 = root + "/t6"
    Seq(("a", 7L)).toDF("k", "v").write.mode("overwrite").parquet(t6)
    def q = spark.read.parquet(t6).groupBy("k").agg(sum("v").as("s"))
    ResultCache.through(q, cacheP).collect()
    val k = ResultCache.key(q)
    val dir = ResultCache.entryDir(cacheP, k)
    val fs = graft.catalog.SnapshotManifest.fsOf(spark, cacheP)
    // simulate the loser: its fully-written staging arrives after the
    // winner published — publish must drop it, not nest it inside the
    // entry (Hadoop rename moves src INTO an existing dst)
    val tmp = new org.apache.hadoop.fs.Path(cacheP, ".tmp_res_loser")
    fs.mkdirs(tmp)
    val out = fs.create(new org.apache.hadoop.fs.Path(tmp, "part-0"), true)
    out.write(Array[Byte](1)); out.close()
    ResultCache.publish(fs, tmp, dir)
    assert(!fs.exists(tmp), "loser staging must be deleted")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, ".tmp_res_loser")),
      "loser staging must not nest inside the winner's entry")
    val m = ResultCache.misses.get()
    assert(ResultCache.through(q, cacheP).head().getLong(1) == 7L)
    assert(ResultCache.misses.get() == m, "winner's entry must still hit")
  }

  test("oversize results are declined once and never re-materialized (negative entry)") {
    import spark.implicits._
    val t7 = root + "/t7"
    val cache3 = root + "/cache3"
    spark.range(500).select((col("id") % 250).as("k"), col("id").as("v"))
      .write.mode("overwrite").parquet(t7)
    ResultCache.install(spark)
    spark.conf.set("graft.resultcache.dir", cache3)
    // a 1-byte cap: every materialized parquet result breaks it — the
    // stand-in for a GROUP BY on a near-unique column at 100 TB
    spark.conf.set("graft.resultcache.maxBytes", "1")
    try {
      def q = spark.read.parquet(t7).groupBy("k")
        .agg(sum("v").as("s")).orderBy("k")
      val m0 = ResultCache.misses.get()
      val o0 = ResultCache.oversized.get()
      // run 1: populate attempt, declined (collect, NOT count — count
      // wraps another Aggregate and would probe a different key)
      assert(q.collect().length == 250)
      assert(ResultCache.misses.get() == m0 + 1)
      assert(ResultCache.oversized.get() == o0 + 1)
      // run 2: the negative entry short-circuits — no re-write, no
      // cache scan, the query computes from the table
      assert(scanPaths(q).exists(_.contains("/t7")), scanPaths(q))
      assert(q.collect().length == 250)
      assert(ResultCache.misses.get() == m0 + 1,
        "the negative entry must stop per-run re-materialization")
      assert(ResultCache.oversized.get() == o0 + 1)
      // no staging leaked under the cache dir
      val fs = graft.catalog.SnapshotManifest.fsOf(spark, cache3)
      val leaked = fs.listStatus(new org.apache.hadoop.fs.Path(cache3))
        .map(_.getPath.getName).filter(_.startsWith(".tmp_res_"))
      assert(leaked.isEmpty, leaked.toSeq)
      // the caller-routed API must honor the rule's negative entry:
      // a sortless twin keys identically (strip peels q's Sort), and
      // through() once published blindly into the marker dir, lost
      // the rename, and crashed reading back a schema that was never
      // written — it must compute for real instead
      def q2 = spark.read.parquet(t7).groupBy("k").agg(sum("v").as("s"))
      val m1 = ResultCache.misses.get()
      assert(ResultCache.through(q2, cache3).collect().length == 250)
      assert(ResultCache.misses.get() == m1,
        "through() must not re-materialize a negative-entry key")
    } finally {
      spark.conf.unset("graft.resultcache.dir")
      spark.conf.unset("graft.resultcache.maxBytes")
    }
  }

  test("mirrored joins over type-identical tables key differently (per-leaf roots in tree order)") {
    import spark.implicits._
    // two tables with IDENTICAL schemas: the canonicalized treeString
    // erases names and renders both scans as bare 'parquet', and a
    // root SET is orientation-blind — only per-leaf roots in traversal
    // order can tell A JOIN B (sum left.n) from B JOIN A (sum left.n)
    val ta = root + "/mirA"
    val tb = root + "/mirB"
    Seq((1L, 10L), (2L, 20L)).toDF("id", "n").write.mode("overwrite").parquet(ta)
    Seq((1L, 1000L), (2L, 2000L)).toDF("id", "n")
      .write.mode("overwrite").parquet(tb)
    def mirror(left: String, right: String) = {
      val l = spark.read.parquet(left)
      val r = spark.read.parquet(right)
      l.join(r, l("id") === r("id")).agg(sum(l("n")).as("s"))
    }
    val ab = mirror(ta, tb)
    val ba = mirror(tb, ta)
    assert(ResultCache.planKey(spark, ab.queryExecution.optimizedPlan) !=
      ResultCache.planKey(spark, ba.queryExecution.optimizedPlan),
      "mirrored joins must not share a cache key")
    // end-to-end: each orientation gets its own entry and its own answer
    assert(ResultCache.through(ab, cacheP).head().getLong(0) == 30L)
    assert(ResultCache.through(ba, cacheP).head().getLong(0) == 3000L,
      "B JOIN A must not be served A JOIN B's cached result")
    // repeats hit their own entries
    val m = ResultCache.misses.get()
    assert(ResultCache.through(ab, cacheP).head().getLong(0) == 30L)
    assert(ResultCache.through(ba, cacheP).head().getLong(0) == 3000L)
    assert(ResultCache.misses.get() == m)
  }

  test("through() under the installed rule does not write a duplicate entry") {
    import spark.implicits._
    val t8 = root + "/t8"
    val cache4 = root + "/cache4"
    Seq(("a", 5L)).toDF("k", "v").write.mode("overwrite").parquet(t8)
    ResultCache.install(spark)
    spark.conf.set("graft.resultcache.dir", cache4)
    try {
      def q = spark.read.parquet(t8).groupBy("k").agg(sum("v").as("s"))
      q.collect() // rule populates the entry
      val fs = graft.catalog.SnapshotManifest.fsOf(spark, cache4)
      def entries = fs.listStatus(new org.apache.hadoop.fs.Path(cache4))
        .map(_.getPath.getName).count(_.startsWith("res_"))
      val n0 = entries
      assert(n0 == 1, s"rule should have written exactly one entry, got $n0")
      // through() sees the rule's rewrite (scans already in cacheDir)
      // and must short-circuit — same answer, no second entry
      val m = ResultCache.misses.get()
      assert(ResultCache.through(q, cache4).head().getLong(1) == 5L)
      assert(ResultCache.misses.get() == m,
        "through() must not recompute a rule-served plan")
      assert(entries == n0, "through() must not mint a duplicate entry")
    } finally spark.conf.unset("graft.resultcache.dir")
  }

  test("explain is side-effect-free with populateOnMiss=false; hits still serve") {
    import spark.implicits._
    val t9 = root + "/t9"
    val cache5 = root + "/cache5"
    Seq(("a", 2L)).toDF("k", "v").write.mode("overwrite").parquet(t9)
    ResultCache.install(spark)
    spark.conf.set("graft.resultcache.dir", cache5)
    spark.conf.set("graft.resultcache.populateOnMiss", "false")
    try {
      def q = spark.read.parquet(t9).groupBy("k").agg(sum("v").as("s"))
      val m0 = ResultCache.misses.get()
      // plan inspection on a MISS: no compute, no entry written
      assert(scanPaths(q).exists(_.contains("/t9")), scanPaths(q))
      assert(ResultCache.misses.get() == m0,
        "hit-only mode must not materialize from inside optimization")
      val fs = graft.catalog.SnapshotManifest.fsOf(spark, cache5)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(cache5)) ||
        fs.listStatus(new org.apache.hadoop.fs.Path(cache5)).isEmpty)
      // an entry born elsewhere (caller-routed) still serves hits
      ResultCache.through(q, cache5).collect()
      assert(scanPaths(q).forall(_.contains("/cache5")), scanPaths(q))
    } finally {
      spark.conf.unset("graft.resultcache.dir")
      spark.conf.unset("graft.resultcache.populateOnMiss")
    }
  }

  test("vacuumToSize keeps the newest entries under the byte budget and evicts the rest") {
    import spark.implicits._
    val t10 = root + "/t10"
    val cache6 = root + "/cache6"
    Seq(("a", 1L), ("b", 2L)).toDF("k", "v").write.mode("overwrite").parquet(t10)
    def q(i: Int) = spark.read.parquet(t10).groupBy("k")
      .agg(sum(col("v") + lit(i)).as("s"))
    // three entries, creation-ordered mtimes (coarse-mtime filesystems
    // still order because each populate is a fresh write)
    (1 to 3).foreach { i =>
      ResultCache.through(q(i), cache6).collect()
      Thread.sleep(1100) // entry-dir mtime granularity can be 1 s
    }
    val fs = graft.catalog.SnapshotManifest.fsOf(spark, cache6)
    val all = fs.listStatus(new org.apache.hadoop.fs.Path(cache6))
      .filter(_.getPath.getName.startsWith("res_"))
    assert(all.length == 3)
    val sizes = all.map(st => fs.getContentSummary(st.getPath).getLength)
    val newestTwo = all.sortBy(-_.getModificationTime).take(2)
    // budget = exactly the newest two entries' bytes → oldest evicted
    val budget = newestTwo
      .map(st => fs.getContentSummary(st.getPath).getLength).sum
    // a fresh staging dir (an in-flight populate) and the young
    // entries are all inside the default grace — nothing is touched
    // even at budget 0: the budget is enforced eventually, never
    // against in-flight work
    val tmp = new org.apache.hadoop.fs.Path(cache6, ".tmp_res_inflight")
    fs.mkdirs(tmp)
    assert(ResultCache.vacuumToSize(spark, cache6, 0L) == 0,
      "grace must protect young staging and entries")
    assert(fs.exists(tmp), "in-flight staging must survive the sweep")
    fs.delete(tmp, true)
    assert(ResultCache.vacuumToSize(spark, cache6, budget, graceMs = 0L) == 1,
      sizes.toSeq)
    val left = fs.listStatus(new org.apache.hadoop.fs.Path(cache6))
      .filter(_.getPath.getName.startsWith("res_")).map(_.getPath.getName)
    assert(left.toSet == newestTwo.map(_.getPath.getName).toSet)
    // survivors still hit; the evicted key recomputes
    val m = ResultCache.misses.get()
    ResultCache.through(q(3), cache6).collect()
    assert(ResultCache.misses.get() == m, "newest entry must still hit")
    ResultCache.through(q(1), cache6).collect()
    assert(ResultCache.misses.get() == m + 1, "evicted entry must recompute")
  }

  test("through() is not fooled by sibling paths that string-prefix the cache dir") {
    import spark.implicits._
    val cache7 = root + "/cache7"
    val sib = root + "/cache7_tables/t" // string-prefixes cache7, not inside it
    Seq(("a", 3L)).toDF("k", "v").write.mode("overwrite").parquet(sib)
    def q = spark.read.parquet(sib).groupBy("k").agg(sum("v").as("s"))
    val m = ResultCache.misses.get()
    assert(ResultCache.through(q, cache7).head().getLong(1) == 3L)
    assert(ResultCache.misses.get() == m + 1,
      "a sibling-prefixed table must be cached, not short-circuited")
    val again = ResultCache.through(q, cache7)
    assert(ResultCache.misses.get() == m + 1)
    assert(scanPaths(again).forall(_.contains("/cache7/")), scanPaths(again))
  }

  test("vacuum reclaims aged entries; the next call recomputes") {
    import spark.implicits._
    val t3 = root + "/t3"
    Seq(("x", 1L)).toDF("k", "v").write.mode("overwrite").parquet(t3)
    def q = spark.read.parquet(t3).agg(sum("v").as("s"))
    ResultCache.through(q, cacheP)
    assert(ResultCache.vacuum(spark, cacheP, olderThanMs = -1000) > 0)
    val m = ResultCache.misses.get()
    ResultCache.through(q, cacheP)
    assert(ResultCache.misses.get() == m + 1, "vacuumed entry must recompute")
  }
}
