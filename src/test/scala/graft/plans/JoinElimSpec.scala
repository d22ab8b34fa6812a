package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.catalog.Tables

/** Pins FK-based join elimination: a verified-FK inner join whose
  * parent side contributes no columns is reduced to the child scan
  * plus an IsNotNull(fk) filter; every guard (parent filter, parent
  * column use, wrong keys, outer join, FK violation at declare time)
  * keeps or refuses the rewrite. */
class JoinElimSpec extends SparkSpec with BeforeAndAfterAll {

  private val root = scratchDir("graft_jespec_")
  private val cp = root + "/child"
  private val pp = root + "/parent"

  private def child: DataFrame = spark.read.parquet(cp)
  private def parent: DataFrame = spark.read.parquet(pp)

  override def beforeAll(): Unit = {
    super.beforeAll()
    Tables.load(spark, sf, "orders").select(
      col("o_custkey").as("ck"), col("o_orderstatus").as("status"),
      col("o_totalprice").cast("decimal(18,2)").as("price"))
      .write.mode("overwrite").parquet(cp)
    Tables.load(spark, sf, "customer").select(
      col("c_custkey").as("ck2"), col("c_mktsegment").as("seg"))
      .write.mode("overwrite").parquet(pp)
    JoinElim.declareVerified("jespec_fk", child, Seq("ck"), parent, Seq("ck2"))
    JoinElim.install(spark)
  }

  override def afterAll(): Unit = {
    FkCatalog.unregister("jespec_fk")
    super.afterAll()
  }

  private def scanPaths(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Seq.empty
      }
    }.flatten.toSet

  private def joined: DataFrame =
    child.join(parent, col("ck") === col("ck2"), "inner")

  test("fact-only aggregate over the FK join drops the dim scan") {
    def g = joined.groupBy("status").agg(
      sum("price").cast("double").as("rev"), count(lit(1)).as("n"))
      .orderBy("status")
    val p = scanPaths(g)
    assert(!p.exists(_.endsWith("/parent")), p)
    assert(p.exists(_.endsWith("/child")), p)
    // results identical with the rule disabled
    val on = g.collect().toSeq
    spark.conf.set("graft.joinelim.enabled", "false")
    val off = try g.collect().toSeq
    finally spark.conf.unset("graft.joinelim.enabled")
    assert(on.nonEmpty && on == off)
  }

  test("fact-only projection over the FK join drops the dim scan") {
    val g = joined.select(col("status"), col("price"))
    assert(!scanPaths(g).exists(_.endsWith("/parent")), scanPaths(g))
  }

  test("consuming a dim column keeps the join") {
    val g = joined.groupBy("seg").agg(count(lit(1)).as("n"))
    assert(scanPaths(g).exists(_.endsWith("/parent")), scanPaths(g))
  }

  test("a real filter on the dim side keeps the join") {
    val g = child.join(parent.filter(col("seg") =!= "BUILDING"),
        col("ck") === col("ck2"), "inner")
      .groupBy("status").agg(count(lit(1)).as("n"))
    assert(scanPaths(g).exists(_.endsWith("/parent")), scanPaths(g))
  }

  test("an outer join keeps both sides") {
    val g = child.join(parent, col("ck") === col("ck2"), "left")
      .select(col("status"), col("price"))
    assert(scanPaths(g).exists(_.endsWith("/parent")), scanPaths(g))
  }

  test("append after declaration refuses the rewrite; re-declaration restores it") {
    import spark.implicits._
    val c2 = root + "/child2"
    val p2 = root + "/parent2"
    Tables.load(spark, sf, "orders").select(
      col("o_custkey").as("ck"), col("o_orderstatus").as("status"))
      .write.mode("overwrite").parquet(c2)
    Tables.load(spark, sf, "customer").select(
      col("c_custkey").as("ck2"), col("c_mktsegment").as("seg"))
      .write.mode("overwrite").parquet(p2)
    def child2 = spark.read.parquet(c2)
    def parent2 = spark.read.parquet(p2)
    def g = child2.join(parent2, col("ck") === col("ck2"), "inner")
      .groupBy("status").agg(count(lit(1)).as("n")).orderBy("status")
    try {
      JoinElim.declareVerified("jespec_stale", child2, Seq("ck"),
        parent2, Seq("ck2"))
      assert(!scanPaths(g).exists(_.endsWith("/parent2")), scanPaths(g))
      // even a VALID append moves the fingerprint: the audit covered
      // the pre-append state, so the edge is no longer VERIFIED
      val valid = child2.select("ck").head.getLong(0)
      Seq((valid, "V")).toDF("ck", "status").write.mode("append").parquet(c2)
      assert(scanPaths(g).exists(_.endsWith("/parent2")), scanPaths(g))
      // re-auditing (re-declaration) restores the rewrite
      JoinElim.declareVerified("jespec_stale", child2, Seq("ck"),
        parent2, Seq("ck2"))
      assert(!scanPaths(g).exists(_.endsWith("/parent2")), scanPaths(g))
      // an ORPHAN append is the wrong-answer hazard: the real join
      // drops it, the IsNotNull substitution would have KEPT it — the
      // guard must fall back AND the answer must exclude the orphan
      Seq((-424242L, "ZZ")).toDF("ck", "status")
        .write.mode("append").parquet(c2)
      assert(scanPaths(g).exists(_.endsWith("/parent2")), scanPaths(g))
      val on = g.collect().toSeq
      spark.conf.set("graft.joinelim.enabled", "false")
      val off = try g.collect().toSeq
      finally spark.conf.unset("graft.joinelim.enabled")
      assert(on == off && !on.exists(_.getString(0) == "ZZ"),
        "orphan row must be dropped by the (kept) real join")
      // and re-declaration on the violated state refuses loudly
      intercept[IllegalArgumentException] {
        JoinElim.declareVerified("jespec_stale", child2, Seq("ck"),
          parent2, Seq("ck2"))
      }
    } finally FkCatalog.unregister("jespec_stale")
  }

  test("one planning pass probes each table's state at most once (FpCache)") {
    // three candidate join sites over the same declared pair: the
    // per-pass memo must fingerprint child+parent once per rule
    // invocation, not once per candidate — bounded by invocations
    // (fixpoint iterations), never by candidate count
    val q = joined.select(col("status"))
      .union(joined.select(col("status")))
      .union(joined.select(col("status")))
    val before = TableState.probes.get()
    assert(!scanPaths(q).exists(_.endsWith("/parent")), scanPaths(q))
    val delta = TableState.probes.get() - before
    assert(delta <= 8, s"expected O(paths × passes) probes, got $delta " +
      "(unmemoized would probe per candidate per pass)")
  }

  test("reverifyAppended: O(window) audit restores a suspended edge; violations and deletes refuse") {
    import spark.implicits._
    val c3 = root + "/child3"
    val p3 = root + "/parent3"
    val o = Tables.load(spark, sf, "orders").select(
      col("o_orderstatus").as("symbol"),
      to_date(col("o_orderdate")).as("ship"),
      col("o_custkey").as("ck"), col("o_totalprice").as("price"))
    val cut = lit("1997-01-01").cast("date")
    graft.catalog.Layout.writeClusteredZoned(o.filter(col("ship") < cut),
      c3, "symbol", "ship", numBuckets = 4, filesPerBucket = 4)
    Tables.load(spark, sf, "customer").select(
      col("c_custkey").as("ck2"), col("c_mktsegment").as("seg"))
      .write.mode("overwrite").parquet(p3)
    def child3 = spark.read.parquet(c3)
    def g = child3.join(spark.read.parquet(p3),
        col("ck") === col("ck2"), "inner")
      .groupBy("symbol").agg(count(lit(1)).as("n"))
    try {
      JoinElim.declareVerified("jespec_rv", child3, Seq("ck"),
        spark.read.parquet(p3), Seq("ck2"))
      assert(!scanPaths(g).exists(_.endsWith("/parent3")))
      // nightly append → guard suspends
      graft.catalog.Layout.appendClusteredZoned(
        o.filter(col("ship") >= cut), c3, "symbol", "ship",
        numBuckets = 4, filesPerBucket = 4)
      assert(scanPaths(g).exists(_.endsWith("/parent3")))
      // window-only re-audit restores the rewrite; a second call with
      // nothing moved is a fast no-op returning the same stamp
      val d1 = JoinElim.reverifyAppended(spark, "jespec_rv")
      assert(!scanPaths(g).exists(_.endsWith("/parent3")), scanPaths(g))
      assert(JoinElim.reverifyAppended(spark, "jespec_rv").fp == d1.fp)
      // a NULL-FK append is legitimate (SQL MATCH SIMPLE): the inner
      // join and the IsNotNull substitution drop the row IDENTICALLY,
      // so re-verification must accept it
      graft.catalog.Layout.appendClusteredZoned(
        Seq(("N", java.sql.Date.valueOf("1999-02-01"),
          Option.empty[Long], 2.0))
          .toDF("symbol", "ship", "ck", "price"),
        c3, "symbol", "ship", numBuckets = 4, filesPerBucket = 4)
      JoinElim.reverifyAppended(spark, "jespec_rv")
      assert(!scanPaths(g).exists(_.endsWith("/parent3")), scanPaths(g))
      // an ORPHAN append must refuse re-verification AND stay suspended
      graft.catalog.Layout.appendClusteredZoned(
        Seq(("X", java.sql.Date.valueOf("1999-01-01"), -777L, 1.0))
          .toDF("symbol", "ship", "ck", "price"),
        c3, "symbol", "ship", numBuckets = 4, filesPerBucket = 4)
      intercept[IllegalArgumentException] {
        JoinElim.reverifyAppended(spark, "jespec_rv")
      }
      assert(scanPaths(g).exists(_.endsWith("/parent3")))
      // a window carrying a DELETE refuses too (plain-read identity
      // does not apply deletion vectors) — first clean up the orphan
      // so the delete is the only refusal cause
      graft.catalog.Layout.delete(spark, c3, "ship", col("ck") === -777L)
      intercept[IllegalArgumentException] {
        JoinElim.reverifyAppended(spark, "jespec_rv")
      }
    } finally FkCatalog.unregister("jespec_rv")
  }

  test("parent compact: childless removals restamp; removals with children refuse (orphan audit)") {
    import spark.implicits._
    val c5 = root + "/child5"
    val p5 = root + "/parent5"
    // parent keys 1..40; children reference only 1..20
    graft.catalog.Layout.writeClusteredZoned(
      (1 to 40).map(i => (s"P${i % 2}", i.toLong, s"seg$i"))
        .toDF("psym", "pk", "seg"),
      p5, "psym", "pk", numBuckets = 2, filesPerBucket = 2)
    graft.catalog.Layout.writeClusteredZoned(
      (1 to 200).map(i => (s"C${i % 2}", i.toLong, (i % 20 + 1).toLong))
        .toDF("csym", "ts", "fk"),
      c5, "csym", "ts", numBuckets = 2, filesPerBucket = 2)
    def g = spark.read.parquet(c5).join(spark.read.parquet(p5),
        col("fk") === col("pk"), "inner")
      .groupBy("ts").agg(count(lit(1)).as("n"))
    try {
      JoinElim.declareVerified("jespec_cp",
        spark.read.parquet(c5), Seq("fk"),
        spark.read.parquet(p5), Seq("pk"))
      assert(!scanPaths(g).exists(_.endsWith("/parent5")), scanPaths(g))
      // dv-delete a CHILDLESS parent key: plain read unchanged →
      // NoRowChangeHop restamp
      graft.catalog.Layout.delete(spark, p5, "pk", col("pk") === 30L)
      JoinElim.reverifyAppended(spark, "jespec_cp")
      assert(!scanPaths(g).exists(_.endsWith("/parent5")), scanPaths(g))
      // compact materializes the removal; between the flip and the
      // full vacuum the plain read is duplicated — refuse
      graft.catalog.Layout.compact(spark, p5, "psym", "pk",
        filesPerBucket = 2)
      intercept[IllegalArgumentException] {
        JoinElim.reverifyAppended(spark, "jespec_cp")
      }
      graft.catalog.Layout.vacuum(spark, p5, retainPrevious = false)
      // the removed key has no children: the RewriteHop orphan audit
      // (child ⋉ removed keys vs current parent) passes → restamp
      JoinElim.reverifyAppended(spark, "jespec_cp")
      assert(!scanPaths(g).exists(_.endsWith("/parent5")), scanPaths(g))
      // now remove a key that HAS children: a blanket restamp would
      // leave the rewrite silently wrong — the orphan audit refuses
      graft.catalog.Layout.delete(spark, p5, "pk", col("pk") === 10L)
      JoinElim.reverifyAppended(spark, "jespec_cp") // dv-only: restamp ok
      graft.catalog.Layout.compact(spark, p5, "psym", "pk",
        filesPerBucket = 2)
      graft.catalog.Layout.vacuum(spark, p5, retainPrevious = false)
      intercept[IllegalArgumentException] {
        JoinElim.reverifyAppended(spark, "jespec_cp")
      }
      assert(scanPaths(g).exists(_.endsWith("/parent5")),
        "a refused orphan audit must keep the rewrite suspended")
    } finally FkCatalog.unregister("jespec_cp")
  }

  test("time-retention expiry: child-side restamps (subset-safe), parent-side refuses (no removed keys)") {
    import spark.implicits._
    val c6 = root + "/child6"
    val p6 = root + "/parent6"
    graft.catalog.Layout.writeClusteredZoned(
      (1 to 40).map(i => (s"P${i % 2}", i.toLong, s"seg$i"))
        .toDF("psym", "pk", "seg"),
      p6, "psym", "pk", numBuckets = 2, filesPerBucket = 4)
    graft.catalog.Layout.writeClusteredZoned(
      (1 to 200).map(i => (s"C${i % 2}", i.toLong, (i % 20 + 1).toLong))
        .toDF("csym", "ts", "fk"),
      c6, "csym", "ts", numBuckets = 2, filesPerBucket = 4)
    def g = spark.read.parquet(c6).join(spark.read.parquet(p6),
        col("fk") === col("pk"), "inner")
      .groupBy("ts").agg(count(lit(1)).as("n"))
    try {
      JoinElim.declareVerified("jespec_exp",
        spark.read.parquet(c6), Seq("fk"),
        spark.read.parquet(p6), Seq("pk"))
      assert(!scanPaths(g).exists(_.endsWith("/parent6")), scanPaths(g))
      // CHILD retention: fewer children stay orphan-free — restamp
      graft.catalog.Layout.expireBefore(spark, c6, "ts", lit(101L))
      graft.catalog.Layout.vacuum(spark, c6, retainPrevious = false)
      JoinElim.reverifyAppended(spark, "jespec_exp")
      assert(!scanPaths(g).exists(_.endsWith("/parent6")), scanPaths(g))
      // PARENT retention: removed keys are unrecorded — children may
      // be orphaned and there is nothing to audit against; refuse
      graft.catalog.Layout.expireBefore(spark, p6, "pk", lit(21L))
      graft.catalog.Layout.vacuum(spark, p6, retainPrevious = false)
      val ex = intercept[IllegalArgumentException] {
        JoinElim.reverifyAppended(spark, "jespec_exp")
      }
      assert(ex.getMessage.contains("re-declare"), ex.getMessage)
      assert(scanPaths(g).exists(_.endsWith("/parent6")),
        "a refused parent expiry must keep the rewrite suspended")
    } finally FkCatalog.unregister("jespec_exp")
  }

  test("declareVerified accepts NULL child keys (SQL MATCH SIMPLE) and the rewrite stays exact") {
    import spark.implicits._
    val c4 = root + "/child4"
    val p4 = root + "/parent4"
    Seq((Option(1L), "a"), (Option(2L), "b"), (Option.empty[Long], "n"))
      .toDF("ck", "status").write.mode("overwrite").parquet(c4)
    Seq((1L, "X"), (2L, "Y")).toDF("ck2", "seg")
      .write.mode("overwrite").parquet(p4)
    try {
      // the NULL-ck row is exempt from the FK audit — it can never
      // make the rewrite wrong (join and IsNotNull both drop it)
      JoinElim.declareVerified("jespec_null",
        spark.read.parquet(c4), Seq("ck"),
        spark.read.parquet(p4), Seq("ck2"))
      def g = spark.read.parquet(c4)
        .join(spark.read.parquet(p4), col("ck") === col("ck2"), "inner")
        .select("status")
      assert(!scanPaths(g).exists(_.endsWith("/parent4")), scanPaths(g))
      assert(g.collect().map(_.getString(0)).sorted.toSeq == Seq("a", "b"))
    } finally FkCatalog.unregister("jespec_null")
  }

  test("declareVerified refuses a violated FK") {
    intercept[IllegalArgumentException] {
      // parent keyed on a non-unique column → PK audit fails
      JoinElim.declareVerified("jespec_bad", child, Seq("status"),
        parent.withColumnRenamed("seg", "status2"), Seq("status2"))
    }
  }

  // ---- FK semi/anti elimination (trySemiAnti) ----

  test("verified-FK semi and anti probes eliminate the parent: EXISTS → IsNotNull, NOT EXISTS → IsNull") {
    import spark.implicits._
    val c10 = root + "/child10"
    val p10 = root + "/parent10"
    Seq((Option(1L), "a"), (Option(2L), "b"), (Option.empty[Long], "n"))
      .toDF("ck", "status").write.mode("overwrite").parquet(c10)
    Seq((1L, "X"), (2L, "Y"), (3L, "Z")).toDF("ck2", "seg")
      .write.mode("overwrite").parquet(p10)
    try {
      JoinElim.declareVerified("jespec_sa",
        spark.read.parquet(c10), Seq("ck"),
        spark.read.parquet(p10), Seq("ck2"))
      def semi = spark.read.parquet(c10)
        .join(spark.read.parquet(p10), col("ck") === col("ck2"), "left_semi")
        .select("status")
      def anti = spark.read.parquet(c10)
        .join(spark.read.parquet(p10), col("ck") === col("ck2"), "left_anti")
        .select("status")
      assert(!scanPaths(semi).exists(_.endsWith("/parent10")), scanPaths(semi))
      assert(!scanPaths(anti).exists(_.endsWith("/parent10")), scanPaths(anti))
      // the NULL-keyed row: dropped by EXISTS, the ONLY one NOT EXISTS keeps
      assert(semi.collect().map(_.getString(0)).sorted.toSeq == Seq("a", "b"))
      assert(anti.collect().map(_.getString(0)).toSeq == Seq("n"))
      // rule-off parity
      spark.conf.set("graft.joinelim.enabled", "false")
      try {
        assert(semi.collect().map(_.getString(0)).sorted.toSeq == Seq("a", "b"))
        assert(anti.collect().map(_.getString(0)).toSeq == Seq("n"))
      } finally spark.conf.unset("graft.joinelim.enabled")
      // a filtered parent changes which keys exist — keep the probe
      val filtered = spark.read.parquet(c10)
        .join(spark.read.parquet(p10).filter(col("seg") === "X"),
          col("ck") === col("ck2"), "left_semi")
        .select("status")
      assert(scanPaths(filtered).exists(_.endsWith("/parent10")),
        scanPaths(filtered))
      // a child append (possible orphan) suspends both eliminations
      Seq((Option(-5L), "o")).toDF("ck", "status")
        .write.mode("append").parquet(c10)
      assert(scanPaths(semi).exists(_.endsWith("/parent10")), scanPaths(semi))
      assert(scanPaths(anti).exists(_.endsWith("/parent10")), scanPaths(anti))
      // and the kept real probe gives the orphan-correct answer
      assert(semi.collect().map(_.getString(0)).sorted.toSeq == Seq("a", "b"))
      assert(anti.collect().map(_.getString(0)).sorted.toSeq == Seq("n", "o"))
    } finally FkCatalog.unregister("jespec_sa")
  }

  test("a same-side equality that NAME-matches the registered keys must not eliminate the semi probe") {
    import spark.implicits._
    val c11 = root + "/child11"
    val p11 = root + "/parent11"
    // the child carries columns named like BOTH registered keys: a
    // condition child.ck = child.ck2 name-matches the FK pair but
    // references no parent column at all — rewriting it to
    // IsNotNull(ck) would wrongly keep the (1, 2) row
    Seq((Option(1L), 1L, "eq"), (Option(1L), 2L, "ne"),
      (Option.empty[Long], 1L, "n"))
      .toDF("ck", "ck2", "status").write.mode("overwrite").parquet(c11)
    Seq((1L, "X"), (2L, "Y")).toDF("ck2", "seg")
      .write.mode("overwrite").parquet(p11)
    try {
      JoinElim.declareVerified("jespec_sameside",
        spark.read.parquet(c11), Seq("ck"),
        spark.read.parquet(p11), Seq("ck2"))
      val c = spark.read.parquet(c11)
      def semi = c.join(spark.read.parquet(p11),
        c("ck") === c("ck2"), "left_semi").select("status")
      // both equality sides are child attributes → not the FK probe;
      // the parent scan must survive and the semantics stay Spark's
      assert(scanPaths(semi).exists(_.endsWith("/parent11")),
        scanPaths(semi))
      assert(semi.collect().map(_.getString(0)).sorted.toSeq == Seq("eq"))
      // the genuine cross-side probe on the same tables still eliminates
      val p = spark.read.parquet(p11)
      def real = c.join(p, c("ck") === p("ck2"), "left_semi")
        .select("status")
      assert(!scanPaths(real).exists(_.endsWith("/parent11")),
        scanPaths(real))
      assert(real.collect().map(_.getString(0)).sorted.toSeq ==
        Seq("eq", "ne"))
    } finally FkCatalog.unregister("jespec_sameside")
  }

  // ---- PK-only OUTER-join elimination (tryOuter) ----

  test("LEFT join to a verified-unique dim with unused columns drops the join; null/orphan fact rows preserved") {
    import spark.implicits._
    val c7 = root + "/child7"
    val p7 = root + "/pkdim"
    Seq((Option(1L), "a", 10L), (Option(2L), "b", 20L),
      (Option.empty[Long], "n", 30L), (Option(-9L), "o", 40L))
      .toDF("ck", "status", "v").write.mode("overwrite").parquet(c7)
    Seq((1L, "X"), (2L, "Y"), (3L, "Z")).toDF("ck2", "seg")
      .write.mode("overwrite").parquet(p7)
    try {
      DistinctElim.declareUniqueKey("jespec_pk",
        spark.read.parquet(p7), Seq("ck2"))
      def g = spark.read.parquet(c7)
        .join(spark.read.parquet(p7), col("ck") === col("ck2"), "left")
        .groupBy("status").agg(sum("v").as("s")).orderBy("status")
      assert(!scanPaths(g).exists(_.endsWith("/pkdim")), scanPaths(g))
      // identical results with the rule off — including the NULL-keyed
      // and orphan rows the left join null-pads but never drops
      val on = g.collect().toSeq
      spark.conf.set("graft.joinelim.enabled", "false")
      val off = try g.collect().toSeq
      finally spark.conf.unset("graft.joinelim.enabled")
      assert(on == off && on.map(_.getString(0)) == Seq("a", "b", "n", "o"))
      // RIGHT outer, dim on the left — mirrored elimination
      val r = spark.read.parquet(p7)
        .join(spark.read.parquet(c7), col("ck") === col("ck2"), "right")
        .select(col("status"), col("v"))
      assert(!scanPaths(r).exists(_.endsWith("/pkdim")), scanPaths(r))
      // a filtered dim still eliminates: uniqueness survives any row
      // subset, and unmatched fact rows only gain null-pads the query
      // never reads
      val f = spark.read.parquet(c7)
        .join(spark.read.parquet(p7).filter(col("seg") =!= "X"),
          col("ck") === col("ck2"), "left")
        .select(col("status"))
      assert(!scanPaths(f).exists(_.endsWith("/pkdim")), scanPaths(f))
      // an extra child↔parent equality narrows matches below the
      // unique key's one — still at most one row per fact row
      val e = spark.read.parquet(c7)
        .join(spark.read.parquet(p7),
          col("ck") === col("ck2") && col("status") === col("seg"), "left")
        .select(col("status"))
      assert(!scanPaths(e).exists(_.endsWith("/pkdim")), scanPaths(e))
    } finally PkCatalog.unregister("jespec_pk")
  }

  test("nested join trees eliminate every unused dim: fact LEFT pk-dim INNER fk-dim collapses to the fact") {
    import spark.implicits._
    val pA = root + "/pkdimN"
    Seq((1L, "meta1"), (2L, "meta2")).toDF("cka", "meta")
      .write.mode("overwrite").parquet(pA)
    try {
      DistinctElim.declareUniqueKey("jespec_pkN",
        spark.read.parquet(pA), Seq("cka"))
      // child LEFT dimA (unique key, unused) INNER parent (verified
      // FK, unused): the BI-generated shape — the outer elimination
      // must collapse the nested left join FIRST, which then exposes
      // the bare fact scan the FK elimination needs
      def g = child
        .join(spark.read.parquet(pA), col("ck") === col("cka"), "left")
        .join(parent, col("ck") === col("ck2"), "inner")
        .groupBy("status").agg(sum("price").cast("double").as("rev"))
        .orderBy("status")
      val paths = scanPaths(g)
      assert(!paths.exists(_.endsWith("/pkdimN")), paths)
      assert(!paths.exists(_.endsWith("/parent")), paths)
      assert(paths.exists(_.endsWith("/child")), paths)
      val on = g.collect().toSeq
      spark.conf.set("graft.joinelim.enabled", "false")
      val off = try g.collect().toSeq
      finally spark.conf.unset("graft.joinelim.enabled")
      assert(on.nonEmpty && on == off)
    } finally PkCatalog.unregister("jespec_pkN")
  }

  test("outer elimination composes with incremental PK re-verification over a snapshot-logged dim") {
    import spark.implicits._
    val c9 = root + "/child9"
    val p9 = root + "/pkdim9"
    Seq((1L, "a"), (2L, "b"), (9L, "o")).toDF("ck", "status")
      .write.mode("overwrite").parquet(c9)
    graft.catalog.Layout.writeClusteredZoned(
      (1 to 8).map(i => (s"G${i % 2}", i.toLong, s"seg$i"))
        .toDF("gsym", "ck2", "seg"),
      p9, "gsym", "ck2", numBuckets = 2, filesPerBucket = 2)
    def g = spark.read.parquet(c9)
      .join(spark.read.parquet(p9), col("ck") === col("ck2"), "left")
      .select(col("status"))
    try {
      DistinctElim.declareUniqueKey("jespec_pk9",
        spark.read.parquet(p9), Seq("ck2"))
      assert(!scanPaths(g).exists(_.endsWith("/pkdim9")), scanPaths(g))
      // a dim append suspends; the O(window) PK re-audit — not a full
      // re-declare — restores the outer elimination
      graft.catalog.Layout.appendClusteredZoned(
        Seq(("G1", 11L, "seg11")).toDF("gsym", "ck2", "seg"),
        p9, "gsym", "ck2", numBuckets = 2, filesPerBucket = 2)
      assert(scanPaths(g).exists(_.endsWith("/pkdim9")), scanPaths(g))
      DistinctElim.reverifyAppended(spark, "jespec_pk9")
      assert(!scanPaths(g).exists(_.endsWith("/pkdim9")), scanPaths(g))
      // a DUPLICATE-key dim append refuses the re-audit and the
      // elimination stays suspended — a fanned-out fact row would be
      // the wrong-answer hazard
      graft.catalog.Layout.appendClusteredZoned(
        Seq(("G1", 1L, "dup")).toDF("gsym", "ck2", "seg"),
        p9, "gsym", "ck2", numBuckets = 2, filesPerBucket = 2)
      intercept[IllegalArgumentException] {
        DistinctElim.reverifyAppended(spark, "jespec_pk9")
      }
      assert(scanPaths(g).exists(_.endsWith("/pkdim9")), scanPaths(g))
      // and the kept real join is the correct answer: the duplicate
      // key fans ck=1 out to two rows
      assert(g.collect().count(_.getString(0) == "a") == 2)
    } finally PkCatalog.unregister("jespec_pk9")
  }

  test("outer elimination guards: dim column use, full outer, no declaration, key not covered") {
    import spark.implicits._
    val c8 = root + "/child8"
    val p8 = root + "/pkdim8"
    Seq((1L, "a"), (2L, "b")).toDF("ck", "status")
      .write.mode("overwrite").parquet(c8)
    Seq((1L, "X", 7L), (2L, "Y", 8L)).toDF("ck2", "seg", "alt")
      .write.mode("overwrite").parquet(p8)
    try {
      DistinctElim.declareUniqueKey("jespec_pk8",
        spark.read.parquet(p8), Seq("ck2"))
      def dim = spark.read.parquet(p8)
      def fact = spark.read.parquet(c8)
      // consuming a dim column keeps the join
      val uses = fact.join(dim, col("ck") === col("ck2"), "left")
        .select(col("status"), col("seg"))
      assert(scanPaths(uses).exists(_.endsWith("/pkdim8")))
      // FULL OUTER adds unmatched-dim rows — never eliminable
      val full = fact.join(dim, col("ck") === col("ck2"), "full")
        .select(col("status"))
      assert(scanPaths(full).exists(_.endsWith("/pkdim8")))
      // joining on a NON-unique dim column (alt is unaudited): keep
      val alt = fact.join(dim, col("ck") === col("alt"), "left")
        .select(col("status"))
      assert(scanPaths(alt).exists(_.endsWith("/pkdim8")))
      // a dim append suspends (stamp moved) until re-declaration;
      // a FACT append must NOT suspend — only parent state matters
      Seq((9L, "z")).toDF("ck", "status").write.mode("append").parquet(c8)
      def g = fact.join(dim, col("ck") === col("ck2"), "left")
        .select(col("status"))
      assert(!scanPaths(g).exists(_.endsWith("/pkdim8")),
        "a fact append must not suspend the PK-only outer rewrite")
      Seq((3L, "W", 9L)).toDF("ck2", "seg", "alt")
        .write.mode("append").parquet(p8)
      assert(scanPaths(g).exists(_.endsWith("/pkdim8")),
        "a dim append must suspend until the key is re-audited")
      DistinctElim.declareUniqueKey("jespec_pk8", dim, Seq("ck2"))
      assert(!scanPaths(g).exists(_.endsWith("/pkdim8")))
    } finally PkCatalog.unregister("jespec_pk8")
  }
}
