package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.catalog.{SnapshotManifest, Tables}

/** Pins registry durability: with `graft.registry.path` set,
  * declarations write through to a versioned JSON + `_latest` pointer,
  * and a FRESH driver (simulated by clearing every in-memory catalog
  * and the load memo) transparently reloads them on its first planning
  * pass — the rewrites fire again, fp stamps intact. */
class RegistryStoreSpec extends SparkSpec with BeforeAndAfterAll {

  private val root = scratchDir("graft_regspec_")
  private val regDir = root + "/registry"
  private val factP = root + "/fact"
  private val childP = root + "/child"
  private val parentP = root + "/parent"

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set(RegistryStore.ConfKey, regDir)
  }

  override def afterAll(): Unit = {
    // the shared session outlives this suite: leaving the conf set
    // would write-through (and lazily reload) every later suite's
    // declarations
    spark.conf.unset(RegistryStore.ConfKey)
    Seq("regspec_mv").foreach(MvCatalog.unregister)
    Seq("regspec_fk").foreach(FkCatalog.unregister)
    Seq("regspec_pk", "regspec_pk2").foreach(PkCatalog.unregister)
    RegistryStore.resetForTest()
    super.afterAll()
  }

  private def scanPaths(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Seq.empty
      }
    }.flatten.toSet

  test("declarations survive a catalog wipe: a fresh driver reloads and rewrites") {
    Tables.load(spark, sf, "lineitem").limit(800).select(
      col("l_returnflag").as("rf"), col("l_quantity").cast("bigint").as("qty"))
      .write.mode("overwrite").parquet(factP)
    Tables.load(spark, sf, "orders").select(
      col("o_orderkey").as("ok"), col("o_custkey").as("ck"),
      col("o_orderstatus").as("status"))
      .write.mode("overwrite").parquet(childP)
    Tables.load(spark, sf, "customer").select(
      col("c_custkey").as("ck2"), col("c_mktsegment").as("seg"))
      .write.mode("overwrite").parquet(parentP)
    // declarations write through to the store
    Mv.build(spark.read.parquet(factP), "regspec_mv", Seq("rf"),
      measures = Seq("qty"), mvPath = root + "/mv",
      distincts = Seq("qty"))
    JoinElim.declareVerified("regspec_fk",
      spark.read.parquet(childP), Seq("ck"),
      spark.read.parquet(parentP), Seq("ck2"))
    DistinctElim.declareUniqueKey("regspec_pk",
      spark.read.parquet(childP), Seq("ok"))
    Mv.install(spark); JoinElim.install(spark); DistinctElim.install(spark)

    // simulate a fresh driver: every in-memory catalog gone, load memo
    // reset — ONLY the persisted store remains
    MvCatalog.clear(); FkCatalog.clear(); PkCatalog.clear()
    RegistryStore.resetForTest()
    assert(MvCatalog.isEmpty && FkCatalog.isEmpty && PkCatalog.isEmpty)

    // first planning pass reloads the store and the MV rewrite fires
    val g = spark.read.parquet(factP).groupBy("rf").agg(sum("qty").as("s"))
    assert(scanPaths(g).exists(_.endsWith("/mv")), scanPaths(g))
    // the reloaded fp stamp still matches (the base never moved)
    assert(MvCatalog.get("regspec_mv").exists(_.fp.nonEmpty))
    // the distinct-bitmap contract survives the round-trip: the
    // reloaded def still answers COUNT(DISTINCT qty) from the summary
    assert(MvCatalog.get("regspec_mv").exists(_.distincts == Set("qty")))
    val cd = spark.read.parquet(factP).groupBy("rf")
      .agg(countDistinct(col("qty")).as("nq"))
    assert(scanPaths(cd).exists(_.endsWith("/mv")), scanPaths(cd))
    // join elimination fires from the reloaded FK edge
    val j = spark.read.parquet(childP)
      .join(spark.read.parquet(parentP), col("ck") === col("ck2"), "inner")
      .groupBy("status").agg(count(lit(1)).as("n"))
    assert(!scanPaths(j).exists(_.endsWith("/parent")), scanPaths(j))
    // distinct elimination fires from the reloaded unique key
    val d = spark.read.parquet(childP).select("ok", "status").distinct()
    assert(!d.queryExecution.optimizedPlan.toString.contains("Aggregate"))
    // and the reloaded stamps still ENFORCE staleness: move the child,
    // both child-anchored rewrites must fall through again
    import spark.implicits._
    Seq((-1L, -1L, "Z")).toDF("ok", "ck", "status")
      .write.mode("append").parquet(childP)
    val j2 = spark.read.parquet(childP)
      .join(spark.read.parquet(parentP), col("ck") === col("ck2"), "inner")
      .groupBy("status").agg(count(lit(1)).as("n"))
    assert(scanPaths(j2).exists(_.endsWith("/parent")), scanPaths(j2))
    val d2 = spark.read.parquet(childP).select("ok", "status").distinct()
    assert(d2.queryExecution.optimizedPlan.toString.contains("Aggregate"))
  }

  test("fresh driver's first-action declaration merges with the store; refresh loads lazily") {
    // fresh driver again: only the persisted store remains
    MvCatalog.clear(); FkCatalog.clear(); PkCatalog.clear()
    RegistryStore.resetForTest()
    // first action is a NEW declaration — autoPersist must load the
    // store first, or the write-through would atomically replace the
    // registry with ONLY this def and destroy regspec_mv/fk/pk
    DistinctElim.declareUniqueKey("regspec_pk2",
      spark.read.parquet(parentP), Seq("ck2"))
    assert(MvCatalog.get("regspec_mv").isDefined,
      "persisted defs must merge in before the write-through")
    assert(FkCatalog.get("regspec_fk").isDefined)
    // and the store now holds the union — verify via a third fresh
    // driver whose FIRST action is a refresh (no query planned): the
    // refresh entry point must lazily load too
    MvCatalog.clear(); FkCatalog.clear(); PkCatalog.clear()
    RegistryStore.resetForTest()
    val d = Mv.refreshAppend(spark, "regspec_mv",
      spark.read.parquet(factP).limit(0))
    assert(d.name == "regspec_mv" && d.fp.nonEmpty)
    assert(PkCatalog.get("regspec_pk2").isDefined,
      "the union store must have survived the first-action declaration")
  }

  test("revoke is durable: a revoked declaration does not resurrect on the next driver") {
    // regspec_pk2 is in the store from the previous test
    DistinctElim.revoke(spark, "regspec_pk2")
    assert(PkCatalog.get("regspec_pk2").isEmpty)
    // fresh driver: reload everything — the revoked name must STAY
    // gone (an unpersisted unregister would resurrect here)
    MvCatalog.clear(); FkCatalog.clear(); PkCatalog.clear()
    RegistryStore.resetForTest()
    RegistryStore.ensureLoaded(spark)
    assert(PkCatalog.get("regspec_pk2").isEmpty,
      "revoked declaration resurrected from the persisted store")
    assert(MvCatalog.get("regspec_mv").isDefined,
      "revocation must not disturb sibling declarations")
    assert(FkCatalog.get("regspec_fk").isDefined)
  }

  test("CAS persist: a writer interleaved inside the stage→flip window loses no defs") {
    // driver A starts persisting a store that knows only regspec_cas_a;
    // inside its stage→flip window driver B (simulated by the
    // interleave thunk) declares AND persists regspec_cas_b. Blind
    // last-writer-wins would flip A's pre-B file over the store and
    // destroy B's def; the CAS must detect the moved pointer, re-merge,
    // and retry — BOTH defs end up persisted.
    MvCatalog.clear(); FkCatalog.clear(); PkCatalog.clear()
    RegistryStore.resetForTest()
    try {
      PkCatalog.register(UniqueKeyDef("regspec_cas_a", Set(childP), Seq("ok")))
      SnapshotManifest.testInterleave = Some(("registry-before-flip", () => {
        PkCatalog.register(
          UniqueKeyDef("regspec_cas_b", Set(parentP), Seq("ck2")))
        RegistryStore.persist(spark, regDir)
      }))
      RegistryStore.persist(spark, regDir)
      assert(SnapshotManifest.testInterleave.isEmpty, "thunk must have run")
      // a fresh driver sees BOTH declarations
      MvCatalog.clear(); FkCatalog.clear(); PkCatalog.clear()
      RegistryStore.resetForTest()
      RegistryStore.load(spark, regDir)
      assert(PkCatalog.get("regspec_cas_a").isDefined,
        "the CAS loser's def was dropped")
      assert(PkCatalog.get("regspec_cas_b").isDefined,
        "the interleaved winner's def was overwritten (lost update)")
    } finally {
      SnapshotManifest.testInterleave = None
      Seq("regspec_cas_a", "regspec_cas_b").foreach(DistinctElim.revoke(spark, _))
    }
  }

  test("persist prunes to the last two versions; load without a pointer is a no-op") {
    val count0 = {
      val fs = graft.catalog.SnapshotManifest.fsOf(spark, regDir)
      fs.listStatus(new org.apache.hadoop.fs.Path(regDir))
        .map(_.getPath.getName).count(_.startsWith("reg_"))
    }
    assert(count0 <= 2, s"keep-last-2 must bound the version files, got $count0")
    // loading an empty/uninitialized dir must not throw
    RegistryStore.load(spark, root + "/nonexistent_registry")
  }

  test("revoke is kind-keyed: revoking unique key k keeps a concurrently persisted FK k") {
    // driver A revokes unique key k; inside its stage→flip window
    // driver B (the interleave thunk) persists an FK also named k and
    // then leaves A's memory as it found it. A's CAS loses, re-merges
    // B's version and retries: the merge must skip only (unique key, k)
    MvCatalog.clear(); FkCatalog.clear(); PkCatalog.clear()
    RegistryStore.resetForTest()
    val k = "regspec_kind"
    val fk = FkDef(k, Set(childP), Seq("ck"), Set(parentP), Seq("ck2"))
    try {
      PkCatalog.register(UniqueKeyDef(k, Set(childP), Seq("ok")))
      RegistryStore.persist(spark, regDir)
      SnapshotManifest.testInterleave = Some(("registry-before-flip", () => {
        FkCatalog.register(fk)
        RegistryStore.persist(spark, regDir)
        // B's defs live in B's JVM, not in A's registries
        FkCatalog.unregister(k); PkCatalog.unregister(k)
      }))
      DistinctElim.revoke(spark, k)
      assert(SnapshotManifest.testInterleave.isEmpty, "thunk must have run")
      MvCatalog.clear(); FkCatalog.clear(); PkCatalog.clear()
      RegistryStore.resetForTest()
      RegistryStore.load(spark, regDir)
      assert(FkCatalog.get(k).contains(fk),
        "revoking unique key k dropped the concurrently persisted FK k")
      assert(PkCatalog.get(k).isEmpty, "the revoked unique key resurrected")
    } finally {
      SnapshotManifest.testInterleave = None
      JoinElim.revoke(spark, k); DistinctElim.revoke(spark, k)
    }
  }

  test("version-1 store format: hand-written files load exactly, re-persist byte for byte, bad files fail naming the file") {
    // the format persist() writes (Jackson default pretty printer);
    // fx_plain has no distincts/where/joins, so they are absent
    val v1 = """{
      |  "version" : 1,
      |  "mvs" : [ {
      |    "name" : "fx_plain",
      |    "mvPath" : "/fx/mv_plain_v1",
      |    "fp" : "",
      |    "basePaths" : [ "file:/fx/base" ],
      |    "dims" : [ "rf" ],
      |    "measures" : [ "qty" ],
      |    "mins" : [ ],
      |    "maxs" : [ "qty" ]
      |  }, {
      |    "name" : "fx_star",
      |    "mvPath" : "/fx/mv_star_v7",
      |    "fp" : "snap:snap_1;snap:snap_2",
      |    "basePaths" : [ "file:/fx/fact" ],
      |    "dims" : [ "seg", "status" ],
      |    "measures" : [ "price", "qty" ],
      |    "mins" : [ "price" ],
      |    "maxs" : [ ],
      |    "distincts" : [ "ok" ],
      |    "where" : "status <> 'X'",
      |    "joins" : [ {
      |      "dimPaths" : [ "file:/fx/dim" ],
      |      "factKeys" : [ "ck" ],
      |      "dimKeys" : [ "ck2" ],
      |      "preserving" : true
      |    } ]
      |  } ],
      |  "fks" : [ {
      |    "name" : "fx_fk",
      |    "fp" : "ls:1:2:3;snap:snap_9",
      |    "childPaths" : [ "file:/fx/fact" ],
      |    "childKeys" : [ "ck", "ck_b" ],
      |    "parentPaths" : [ "file:/fx/dim" ],
      |    "parentKeys" : [ "ck2", "ck2_b" ]
      |  } ],
      |  "pks" : [ {
      |    "name" : "fx_pk",
      |    "fp" : "snap:snap_9",
      |    "paths" : [ "file:/fx/dim" ],
      |    "keys" : [ "ck2" ]
      |  } ]
      |}""".stripMargin
    val plain = MvDef("fx_plain", Set("file:/fx/base"), "/fx/mv_plain_v1",
      Seq("rf"), Set("qty"), Set.empty, Set("qty"))
    val starDef = MvDef("fx_star", Set("file:/fx/fact"), "/fx/mv_star_v7",
      Seq("seg", "status"), Set("price", "qty"), Set("price"), Set.empty,
      Seq(MvJoin(Set("file:/fx/dim"), Seq("ck"), Seq("ck2"), preserving = true)),
      "snap:snap_1;snap:snap_2", Set("ok"), Some("status <> 'X'"))
    val fk = FkDef("fx_fk", Set("file:/fx/fact"), Seq("ck", "ck_b"),
      Set("file:/fx/dim"), Seq("ck2", "ck2_b"), "ls:1:2:3;snap:snap_9")
    val pk = UniqueKeyDef("fx_pk", Set("file:/fx/dim"), Seq("ck2"), "snap:snap_9")
    def store(json: String): String = {
      val dir = root + "/fx_" + java.util.UUID.randomUUID().toString.take(8)
      val p = java.nio.file.Paths.get(dir)
      java.nio.file.Files.createDirectories(p)
      java.nio.file.Files.write(p.resolve("reg_1.json"), json.getBytes("UTF-8"))
      java.nio.file.Files.write(p.resolve("_latest"), "reg_1.json".getBytes("UTF-8"))
      dir
    }
    def text(dir: String): String = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, SnapshotManifest.currentSnap(spark, dir).get)),
      "UTF-8")
    def fresh(): Unit = {
      MvCatalog.clear(); FkCatalog.clear(); PkCatalog.clear()
    }
    def loaded: (Seq[MvDef], Seq[FkDef], Seq[UniqueKeyDef]) =
      (MvCatalog.all, FkCatalog.all, PkCatalog.all)
    val want = (Seq(plain, starDef), Seq(fk), Seq(pk))
    try {
      fresh(); RegistryStore.load(spark, store(v1))
      assert(loaded == want)
      // persist → load round trip, and the written file is the input
      // byte for byte
      val out = root + "/fx_out"
      RegistryStore.persist(spark, out)
      assert(text(out) == v1)
      fresh(); RegistryStore.load(spark, out)
      assert(loaded == want)
      // the pre-star spelling: one `join` object instead of `joins`
      val legacy = v1.replace("\"joins\" : [ {", "\"join\" : {")
        .replace("      \"preserving\" : true\n    } ]",
          "      \"preserving\" : true\n    }")
      assert(legacy.contains("\"join\" : {") && !legacy.contains("joins"))
      fresh(); RegistryStore.load(spark, store(legacy))
      assert(loaded == want)
      // unsupported version and a missing array fail with guidance
      // naming the file, and register nothing: the MVs parsed before
      // the missing 'fks' array must not go live
      for ((bad, why) <- Seq(
          v1.replace("\"version\" : 1", "\"version\" : 2") ->
            "unsupported version 2",
          v1.replaceAll("(?s)  \"fks\" : \\[.*?\\} \\],\n", "") ->
            "missing or non-array 'fks' field")) {
        fresh()
        val dir = store(bad)
        val e = intercept[IllegalStateException](RegistryStore.load(spark, dir))
        assert(e.getMessage.contains(s"$dir/reg_1.json") &&
          e.getMessage.contains(why), e.getMessage)
        assert(loaded == ((Nil, Nil, Nil)), why)
      }
    } finally fresh()
  }
}
