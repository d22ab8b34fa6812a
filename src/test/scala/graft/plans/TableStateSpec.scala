package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.catalog.Tables

/** Pins the table-state fingerprint the constraint/MV registries stamp
  * at declaration: it moves on any append, holds on a no-op, an empty
  * stamp always matches (caller-owns-freshness legacy contract), and
  * the per-planning-pass [[FpCache]] probes each root at most once
  * however often it is consulted. */
class TableStateSpec extends SparkSpec {

  private val root = scratchDir("graft_tsspec_")

  test("fingerprint holds on a no-op, moves on an append, empty stamp always matches") {
    import spark.implicits._
    val p = root + "/t"
    Tables.load(spark, sf, "region").select(col("r_regionkey").as("k"))
      .write.mode("overwrite").parquet(p)
    val fp = TableState.fingerprint(spark, Set(p))
    assert(TableState.matches(spark, fp, Set(p)))
    assert(TableState.matches(spark, "", Set(p)), "empty stamp = caller owns freshness")
    Seq(99L).toDF("k").write.mode("append").parquet(p)
    assert(!TableState.matches(spark, fp, Set(p)),
      "an appended file must move the fingerprint")
    val fp2 = TableState.fingerprint(spark, Set(p))
    assert(TableState.matches(spark, fp2, Set(p)))
  }

  test("a declaration over a STALE frame refuses (pinned listing vs live files)") {
    import spark.implicits._
    val p = root + "/t_fresh"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.mode("overwrite").parquet(p)
    // this frame pins its file listing NOW…
    val frame = spark.read.parquet(p)
    // …and the table moves behind its back. The appended row would be
    // covered by the declaration's fingerprint but invisible to the
    // audit (which scans the pinned listing) — declare must refuse.
    Seq((2L, "dup")).toDF("k", "v").write.mode("append").parquet(p)
    val ex = intercept[IllegalArgumentException] {
      DistinctElim.declareUniqueKey("tsspec_stale", frame, Seq("k"))
    }
    assert(ex.getMessage.contains("re-read"), ex.getMessage)
    assert(PkCatalog.get("tsspec_stale").isEmpty)
    // a fresh read declares fine — wait, the duplicate k=2 now exists,
    // so the audit itself must refuse (proving the append was real)
    intercept[IllegalArgumentException] {
      DistinctElim.declareUniqueKey("tsspec_stale",
        spark.read.parquet(p), Seq("k"))
    }
  }

  test("declaring over a plain directory warns; a snapshot-logged table does not") {
    import spark.implicits._
    val plain = root + "/t_warn_plain"
    val zoned = root + "/t_warn_zoned"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.mode("overwrite").parquet(plain)
    graft.catalog.Layout.writeClusteredZoned(
      (1 to 100).map(i => (s"S${i % 2}", i.toLong, i.toLong))
        .toDF("symbol", "ts", "k"),
      zoned, "symbol", "ts", numBuckets = 2, filesPerBucket = 2)
    val before = TableState.plainDirWarnings.get()
    DistinctElim.declareUniqueKey("tsspec_warn_p",
      spark.read.parquet(plain), Seq("k"))
    try assert(TableState.plainDirWarnings.get() == before + 1,
      "plain-directory registration must warn")
    finally PkCatalog.unregister("tsspec_warn_p")
    DistinctElim.declareUniqueKey("tsspec_warn_z",
      spark.read.parquet(zoned), Seq("k"))
    try assert(TableState.plainDirWarnings.get() == before + 1,
      "a snapshot-logged registration must NOT warn")
    finally PkCatalog.unregister("tsspec_warn_z")
  }

  test("hop chain: append → AppendHop with the raw batch; dv delete → NoRowChangeHop") {
    import spark.implicits._
    val p = root + "/t_hops"
    val df = (1 to 400).map(i => (s"S${i % 4}", i.toLong, i * 1.0))
      .toDF("symbol", "ts", "v")
    graft.catalog.Layout.writeClusteredZoned(df.filter(col("ts") <= 200), p,
      "symbol", "ts", numBuckets = 2, filesPerBucket = 2)
    val fp0 = TableState.fingerprint(spark, Set(p))
    graft.catalog.Layout.appendClusteredZoned(df.filter(col("ts") > 200), p,
      "symbol", "ts", numBuckets = 2, filesPerBucket = 2)
    graft.catalog.Layout.delete(spark, p, "ts", col("ts") <= 50)
    val (newFp, moved) = TableState.movedHops(spark, fp0, Set(p), "spec").get
    assert(newFp == TableState.fingerprint(spark, Set(p)))
    val hops = moved(p).hops
    assert(hops.length == 2, hops.toString)
    val append = hops.head.asInstanceOf[TableState.AppendHop]
    assert(hops(1).isInstanceOf[TableState.NoRowChangeHop])
    val rows = TableState.hopRows(spark, p, append, "spec")
      .select($"ts").as[Long].collect().toSet
    assert(rows == (201L to 400L).toSet,
      "the raw fresh-file feed — same-window dv rows do NOT subtract")
    // nothing moved → fast None
    assert(TableState.movedHops(spark, newFp, Set(p), "spec").isEmpty)
  }

  test("hop chain: compact refuses until the full vacuum, then a provenance-backed RewriteHop") {
    import spark.implicits._
    val p = root + "/t_rw"
    val df = (1 to 400).map(i => (s"S${i % 4}", i.toLong, i * 1.0))
      .toDF("symbol", "ts", "v")
    graft.catalog.Layout.writeClusteredZoned(df, p, "symbol", "ts",
      numBuckets = 2, filesPerBucket = 2)
    graft.catalog.Layout.delete(spark, p, "ts", col("ts") <= 100)
    val fp1 = TableState.fingerprint(spark, Set(p)) // stamped at the dv snap
    graft.catalog.Layout.compact(spark, p, "symbol", "ts", filesPerBucket = 2)
    // between the compact's flip and the full vacuum the directory
    // holds BOTH file generations — refuse with guidance, never restamp
    val ex = intercept[IllegalArgumentException] {
      TableState.movedHops(spark, fp1, Set(p), "spec")
    }
    assert(ex.getMessage.contains("vacuum"), ex.getMessage)
    graft.catalog.Layout.vacuum(spark, p, retainPrevious = false)
    // the stamped snapshot is now VACUUMED AWAY — the hop is
    // reconstructed from the compact commit's own rw_* provenance
    val (_, moved) = TableState.movedHops(spark, fp1, Set(p), "spec").get
    val hops = moved(p).hops
    assert(hops.length == 1, hops.toString)
    val rw = hops.head.asInstanceOf[TableState.RewriteHop]
    val removed = TableState.removedRows(spark, p, rw).get
      .select($"ts").as[Long].collect().toSet
    assert(removed == (1L to 100L).toSet,
      "the rw part must hold exactly the rows the compact materialized out")
    // a later append extends the chain PAST the reconstructed rewrite
    graft.catalog.Layout.appendClusteredZoned(
      Seq(("S1", 500L, 5.0)).toDF("symbol", "ts", "v"), p,
      "symbol", "ts", numBuckets = 2, filesPerBucket = 2)
    val (_, moved2) = TableState.movedHops(spark, fp1, Set(p), "spec").get
    val kinds = moved2(p).hops.map(_.getClass.getSimpleName)
    assert(kinds == Seq("RewriteHop", "AppendHop"), kinds.toString)
  }

  test("hop chain: a pure-defrag compact carries EMPTY provenance (RewriteHop, no removals)") {
    import spark.implicits._
    val p = root + "/t_rw0"
    val df = (1 to 200).map(i => (s"S${i % 2}", i.toLong, i * 1.0))
      .toDF("symbol", "ts", "v")
    graft.catalog.Layout.writeClusteredZoned(df.filter(col("ts") <= 100), p,
      "symbol", "ts", numBuckets = 2, filesPerBucket = 1)
    graft.catalog.Layout.appendClusteredZoned(df.filter(col("ts") > 100), p,
      "symbol", "ts", numBuckets = 2, filesPerBucket = 1)
    val fp = TableState.fingerprint(spark, Set(p))
    graft.catalog.Layout.compact(spark, p, "symbol", "ts", filesPerBucket = 1)
    graft.catalog.Layout.vacuum(spark, p, retainPrevious = false)
    val (_, moved) = TableState.movedHops(spark, fp, Set(p), "spec").get
    val rw = moved(p).hops.head.asInstanceOf[TableState.RewriteHop]
    assert(TableState.removedRows(spark, p, rw).isEmpty,
      "no rows were materialized out — removedRows must be None")
  }

  test("hop chain: time-retention expiry classifies as ShrinkHop; straddle-only expiry as NoRowChange") {
    import spark.implicits._
    val p = root + "/t_shrink"
    // file zones are time slices: ts 1..400 over filesPerBucket=4 →
    // a cutoff at 201 drops whole old files and straddles at most one
    val df = (1 to 400).map(i => (s"S${i % 2}", i.toLong, i * 1.0))
      .toDF("symbol", "ts", "v")
    graft.catalog.Layout.writeClusteredZoned(df, p, "symbol", "ts",
      numBuckets = 2, filesPerBucket = 4)
    val fp0 = TableState.fingerprint(spark, Set(p))
    val (nDropped, _) = graft.catalog.Layout.expireBefore(
      spark, p, "ts", lit(201L))
    assert(nDropped > 0)
    // dropped files still on disk → plain read still shows them:
    // refuse with vacuum guidance, never restamp
    val ex = intercept[IllegalArgumentException] {
      TableState.movedHops(spark, fp0, Set(p), "spec")
    }
    assert(ex.getMessage.contains("vacuum"), ex.getMessage)
    graft.catalog.Layout.vacuum(spark, p, retainPrevious = false)
    val (_, moved) = TableState.movedHops(spark, fp0, Set(p), "spec").get
    val hops = moved(p).hops
    assert(hops.length == 1 && hops.head.isInstanceOf[TableState.ShrinkHop],
      hops.toString)
    // reconstruction also works once the stamped snap itself is
    // pruned: the rs_ part names the base (full vacuum above already
    // pruned it — keepLast2 ran inside no compact here, so force one
    // more hop and re-walk from the same stamp)
    graft.catalog.Layout.appendClusteredZoned(
      Seq(("S1", 500L, 5.0)).toDF("symbol", "ts", "v"), p,
      "symbol", "ts", numBuckets = 2, filesPerBucket = 4)
    val (_, moved2) = TableState.movedHops(spark, fp0, Set(p), "spec").get
    assert(moved2(p).hops.map(_.getClass.getSimpleName) ==
      Seq("ShrinkHop", "AppendHop"), moved2(p).hops.toString)
    // straddle-only expiry (cutoff inside the oldest remaining zone,
    // dropping no whole file) leaves the plain read bit-identical —
    // classified as a free NoRowChange restamp
    val fp1 = TableState.fingerprint(spark, Set(p))
    val (d2, straddle) = graft.catalog.Layout.expireBefore(
      spark, p, "ts", lit(203L))
    assert(d2 == 0 && straddle > 0, s"($d2, $straddle)")
    val (_, moved3) = TableState.movedHops(spark, fp1, Set(p), "spec").get
    assert(moved3(p).hops.map(_.getClass.getSimpleName) ==
      Seq("NoRowChangeHop"), moved3(p).hops.toString)
  }

  test("job pins: classifying hops and building the hop frames run no Spark job") {
    import spark.implicits._
    val p = root + "/t_jobs"
    val df = (1 to 400).map(i => (s"S${i % 2}", i.toLong, i * 1.0))
      .toDF("symbol", "ts", "v")
    def fp = TableState.fingerprint(spark, Set(p))
    def hops(from: String) = jobsOf(
      TableState.movedHops(spark, from, Set(p), "spec").get._2(p).hops)
    graft.catalog.Layout.writeClusteredZoned(df.filter(col("ts") <= 200), p,
      "symbol", "ts", numBuckets = 2, filesPerBucket = 2)
    val fp0 = fp
    graft.catalog.Layout.appendClusteredZoned(df.filter(col("ts") > 200), p,
      "symbol", "ts", numBuckets = 2, filesPerBucket = 2)
    val (appendHops, nAppend) = hops(fp0)
    val (_, nHopRows) = jobsOf(TableState.hopRows(spark, p,
      appendHops.head.asInstanceOf[TableState.AppendHop], "spec"))
    val fp1 = fp
    graft.catalog.Layout.delete(spark, p, "ts", col("ts") <= 50)
    val (dvHops, nDv) = hops(fp1)
    val fp2 = fp
    graft.catalog.Layout.compact(spark, p, "symbol", "ts", filesPerBucket = 2)
    graft.catalog.Layout.vacuum(spark, p, retainPrevious = false)
    val (rwHops, nCompact) = hops(fp2)
    val (removed, nRemoved) = jobsOf(TableState.removedRows(spark, p,
      rwHops.head.asInstanceOf[TableState.RewriteHop]))
    // the frames are the rows the jobs used to produce
    assert(removed.get.select($"ts").as[Long].collect().toSet ==
      (1L to 50L).toSet)
    val fp3 = fp
    val (nDropped, _) = graft.catalog.Layout.expireBefore(
      spark, p, "ts", lit(301L))
    assert(nDropped > 0, "the expiry must drop whole files")
    graft.catalog.Layout.vacuum(spark, p, retainPrevious = false)
    val (rsHops, nExpire) = hops(fp3)
    val (pinned, nPinned) = jobsOf(TableState.pinnedRead(spark, p,
      fp.stripPrefix("snap:"), "spec"))
    val kinds = Seq(appendHops, dvHops, rwHops, rsHops)
      .map(_.map(_.getClass.getSimpleName).mkString(","))
    assert(kinds == Seq("AppendHop", "NoRowChangeHop", "RewriteHop",
      "ShrinkHop"), kinds.toString)
    val got = (nAppend, nDv, nCompact, nExpire, nHopRows, nRemoved, nPinned)
    info(s"jobs (append, dv, compact, expire, hopRows, removedRows, " +
      s"pinnedRead) = $got")
    assert(got == (0, 0, 0, 0, 0, 0, 0), got)
    assert(pinned.select($"ts").as[Long].collect().toSet ==
      spark.read.parquet(p).select($"ts").as[Long].collect().toSet)
  }

  test("FpCache probes each root exactly once per pass, any number of consultations") {
    val p = root + "/t_memo"
    Tables.load(spark, sf, "region").select(col("r_regionkey").as("k"))
      .write.mode("overwrite").parquet(p)
    val fp = TableState.fingerprint(spark, Set(p))
    val before = TableState.probes.get()
    val c = new FpCache(spark)
    (1 to 5).foreach(_ => assert(c.matches(fp, Set(p))))
    assert(TableState.probes.get() - before == 1L,
      "five consultations of one root must cost one probe")
    // a fresh pass re-probes (no staleness window across passes)
    assert(new FpCache(spark).matches(fp, Set(p)))
    assert(TableState.probes.get() - before == 2L)
  }
}
