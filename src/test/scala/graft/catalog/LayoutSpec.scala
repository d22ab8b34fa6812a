package graft.catalog

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private def hfs = org.apache.hadoop.fs.FileSystem
    .get(spark.sparkContext.hadoopConfiguration)

  /** Live (manifest-referenced) file count per bucket. */
  private def liveFilesPerBucket(dir: String): Map[Long, Int] =
    Layout.manifest(spark, dir).get.collect()
      .groupBy(_.getLong(1)).map { case (b, rows) => b -> rows.length }

  /** Data files physically present per bucket directory. */
  private def diskFilesPerBucket(dir: String): Map[String, Int] = hfs
    .listStatus(new org.apache.hadoop.fs.Path(dir))
    .filter(s => s.isDirectory && s.getPath.getName.startsWith("sym_bucket="))
    .map(b => b.getPath.getName -> hfs.listStatus(b.getPath)
      .count(f => f.isFile && !f.getPath.getName.startsWith("_")
        && !f.getPath.getName.startsWith("."))).toMap

  test("clustered layout prunes partitions on symbol lookups (SURVEY §4)") {
    val dir = scratchDir("graft_layout") + "/stocks"
    val df = (1 to 1000).map(i => (s"SYM${i % 50}", i, i * 1.5))
      .toDF("symbol", "ts", "close")
    Layout.writeClustered(df, dir, "symbol", "ts", numBuckets = 8)

    val got = Layout.readSymbol(spark, dir, "SYM7", numBuckets = 8)
    assert(got.count() == 20)
    assert(got.select("symbol").distinct().as[String].head() == "SYM7")

    // the physical plan must contain a partition filter on sym_bucket
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("sym_bucket"))
    // and the scan must actually touch only the one matching bucket
    val scan = got.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    val nPart = scan.selectedPartitions.partitionCount
    assert(nPart == 1, s"expected 1 pruned partition, scanned $nPart")
  }

  test("zoned reads round-trip table paths containing % and spaces") {
    // '%' and spaces URI-escape in input_file_name(); feeding those
    // strings back to spark.read unescaped resolves the WRONG file set
    val dir = scratchDir("graft_pct") + "/t %25 table"
    val df = (1 to 1000).map(i => (s"SYM${i % 10}", i.toLong, i * 1.5))
      .toDF("symbol", "ts", "close")
    def readBack(path: String) = Layout.read(spark, path, "symbol", "ts",
        numBuckets = 4, symbolEq = Some("SYM7"),
        timeRange = Some((lit(100L), lit(499L))))
      .select($"ts").as[Long].collect().toSet
    val exp = df.filter($"symbol" === "SYM7" && $"ts".between(100L, 499L))
      .select($"ts").as[Long].collect().toSet
    // manifest path: relative entries are URI-decoded at write time
    Layout.writeClusteredZoned(df, dir, "symbol", "ts",
      numBuckets = 4, filesPerBucket = 4)
    assert(readBack(dir) == exp)
    // fallback path (no snapshot log): input_file_name() strings are
    // decoded + glob-escaped before the second read
    val dir2 = scratchDir("graft_pct2") + "/t %25 table"
    Layout.writeClustered(df, dir2, "symbol", "ts", numBuckets = 4)
    assert(readBack(dir2) == exp)
  }

  test("ORC and JSON source/sink roundtrips preserve values") {
    val dir = scratchDir("graft_fmt")
    val df = Seq(("AAA", 1, 10.5), ("BBB", 2, 20.25)).toDF("symbol", "ts", "close")
    df.write.mode("overwrite").orc(s"$dir/orc")
    df.write.mode("overwrite").json(s"$dir/json")
    val orc = spark.read.orc(s"$dir/orc").orderBy("ts")
      .as[(String, Int, Double)].collect().toSeq
    val json = spark.read
      .schema("symbol STRING, ts INT, close DOUBLE").json(s"$dir/json")
      .orderBy("ts").as[(String, Int, Double)].collect().toSeq
    val expect = Seq(("AAA", 1, 10.5), ("BBB", 2, 20.25))
    assert(orc == expect && json == expect)
  }

  test("compact bin-packs over-fragmented buckets, folds the manifest") {
    val dir = scratchDir("graft_compact") + "/t"
    val df = (1 to 2000).map(i => (s"SYM${i % 10}", i.toLong, i * 1.5))
      .toDF("symbol", "ts", "close")
    Layout.writeClusteredZoned(df, dir, "symbol", "ts",
      numBuckets = 4, filesPerBucket = 12)
    val before = liveFilesPerBucket(dir)
    assert(before.values.exists(_ > 2), before.toString)
    val rewritten = Layout.compact(spark, dir, "symbol", "ts", filesPerBucket = 2)
    assert(rewritten == before.count(_._2 > 2))
    val after = liveFilesPerBucket(dir)
    assert(after.values.forall(_ <= 2), after.toString)
    // content identical through the pruned read path
    val got = Layout.read(spark, dir, "symbol", "ts", numBuckets = 4,
        symbolEq = Some("SYM7"), timeRange = Some((lit(100L), lit(999L))))
      .select($"ts").as[Long].collect().toSet
    val exp = df.filter($"symbol" === "SYM7" && $"ts".between(100L, 999L))
      .select($"ts").as[Long].collect().toSet
    assert(got == exp)
    // every manifest entry resolves to a live file
    val manifest = Layout.manifest(spark, dir).get
      .select($"file").as[String].collect()
    assert(manifest.nonEmpty && manifest.forall(f =>
      hfs.exists(new org.apache.hadoop.fs.Path(dir, f))), manifest.mkString("\n"))
    // keep-last-2: superseded files survive ONE cycle for in-flight
    // readers; a full vacuum reclaims them so disk == manifest
    Layout.vacuum(spark, dir, retainPrevious = false)
    val disk = diskFilesPerBucket(dir)
    assert(disk.values.sum == manifest.length, disk.toString)
    assert(disk.values.forall(_ <= 2), disk.toString)
    // idempotent: already-compact buckets are not rewritten
    assert(Layout.compact(spark, dir, "symbol", "ts", filesPerBucket = 2) == 0)
  }

  test("appendClusteredZoned: O(batch) manifest delta, zoned reads span the boundary") {
    val dir = scratchDir("graft_appz") + "/t"
    val df = (1 to 1000).map(i => (s"SYM${i % 10}", i.toLong, i * 1.5))
      .toDF("symbol", "ts", "close")
    Layout.writeClusteredZoned(df.filter($"ts" <= 500), dir, "symbol", "ts",
      numBuckets = 4, filesPerBucket = 2)
    val baseParts = SnapshotManifest.currentParts(spark, dir).get
    val baseManifest = Layout.manifest(spark, dir).get
      .select($"file").as[String].collect().toSet
    Layout.appendClusteredZoned(df.filter($"ts" > 500), dir, "symbol", "ts",
      numBuckets = 4, filesPerBucket = 2)
    // O(batch): existing manifest parts are UNTOUCHED; the append adds
    // exactly one new part holding only the fresh files' rows
    val parts = SnapshotManifest.currentParts(spark, dir).get
    assert(parts.size == baseParts.size + 1 && parts.startsWith(baseParts))
    val freshPart = spark.read
      .parquet(SnapshotManifest.partPath(dir, parts.last))
      .select($"file").as[String].collect().toSet
    assert(freshPart.nonEmpty && freshPart.intersect(baseManifest).isEmpty)
    val merged = Layout.manifest(spark, dir).get
      .select($"file").as[String].collect().toSet
    assert(merged == baseManifest ++ freshPart)
    assert(merged.forall(f =>
      hfs.exists(new org.apache.hadoop.fs.Path(dir, f))))
    // a read spanning the append boundary is exact
    val got = Layout.read(spark, dir, "symbol", "ts", numBuckets = 4,
        symbolEq = Some("SYM7"), timeRange = Some((lit(400L), lit(700L))))
      .select($"ts").as[Long].collect().toSet
    val exp = df.filter($"symbol" === "SYM7" && $"ts".between(400L, 700L))
      .select($"ts").as[Long].collect().toSet
    assert(got == exp)
    // compact after many appends keeps content consistent and folds
    // the accumulated parts back to one
    Layout.appendClusteredZoned(df.filter($"ts" <= 500), dir, "symbol", "ts",
      numBuckets = 4, filesPerBucket = 2) // duplicate slice, more files
    Layout.compact(spark, dir, "symbol", "ts", filesPerBucket = 2)
    // folded to ONE zone manifest (+ the compact's rw_ provenance part)
    val foldedParts = SnapshotManifest.currentParts(spark, dir).get
    assert(foldedParts.count(_.startsWith("m_")) == 1 &&
      foldedParts.forall(p => p.startsWith("m_") || p.startsWith("rw_")))
    val afterCompact = Layout.read(spark, dir, "symbol", "ts", numBuckets = 4,
        symbolEq = Some("SYM7"), timeRange = Some((lit(400L), lit(700L))))
      .select($"ts").as[Long].collect().toSeq.sorted
    val expDup = (exp.toSeq ++ df.filter($"symbol" === "SYM7" &&
        $"ts".between(400L, 500L)).select($"ts").as[Long].collect()).sorted
    assert(afterCompact == expDup)
  }

  test("time travel: a prior snap reads the exact pre-append table; vacuum bounds history") {
    val dir = scratchDir("graft_travel") + "/t"
    val df = (1 to 1000).map(i => (s"SYM${i % 10}", i.toLong, i * 1.5))
      .toDF("symbol", "ts", "close")
    Layout.writeClusteredZoned(df.filter($"ts" <= 500), dir, "symbol", "ts",
      numBuckets = 4, filesPerBucket = 2)
    Layout.appendClusteredZoned(df.filter($"ts" > 500), dir, "symbol", "ts",
      numBuckets = 4, filesPerBucket = 2)
    val snaps = Layout.snapshots(spark, dir)
    assert(snaps.size == 2)
    // the previous snap is the pre-append table, bit-exact
    val past = Layout.read(spark, dir, "symbol", "ts", numBuckets = 4,
        asOfSnap = Some(snaps.head))
      .select($"symbol", $"ts", $"close")
      .as[(String, Long, Double)].collect().toSet
    val expPast = df.filter($"ts" <= 500)
      .as[(String, Long, Double)].collect().toSet
    assert(past == expPast)
    // asOfSnap of the CURRENT snap ≡ the plain read; prunings compose
    val cur = Layout.read(spark, dir, "symbol", "ts", numBuckets = 4,
        symbolEq = Some("SYM7"), timeRange = Some((lit(400L), lit(700L))),
        asOfSnap = Some(snaps.last))
      .select($"ts").as[Long].collect().toSet
    val exp = df.filter($"symbol" === "SYM7" && $"ts".between(400L, 700L))
      .select($"ts").as[Long].collect().toSet
    assert(cur == exp)
    // an unknown snap name throws instead of silently falling back
    intercept[java.io.FileNotFoundException] {
      Layout.read(spark, dir, "symbol", "ts", numBuckets = 4,
        asOfSnap = Some("snap_does_not_exist"))
    }
    // retention: after a compact (which vacuums, keep-last-2), only
    // the last two snaps remain on the time-travel axis
    Layout.appendClusteredZoned(df.filter($"ts" <= 100), dir, "symbol", "ts",
      numBuckets = 4, filesPerBucket = 2)
    Layout.compact(spark, dir, "symbol", "ts", filesPerBucket = 2)
    val retained = Layout.snapshots(spark, dir)
    assert(retained.size == 2 && !retained.contains(snaps.head))
  }

  test("a crashed append is invisible: readers stay on the previous snapshot") {
    val dir = scratchDir("graft_crash_ap") + "/t"
    val df = (1 to 1000).map(i => (s"SYM${i % 10}", i.toLong, i * 1.5))
      .toDF("symbol", "ts", "close")
    Layout.writeClusteredZoned(df.filter($"ts" <= 500), dir, "symbol", "ts",
      numBuckets = 4, filesPerBucket = 2)
    def full() = Layout.read(spark, dir, "symbol", "ts", numBuckets = 4)
      .select($"ts").as[Long].collect().toSet
    val base = full()
    assert(base == (1L to 500L).toSet)
    // crash AFTER the batch's files land in the bucket dirs, BEFORE
    // the snapshot flip — the worst window of the old delete/rename
    // scheme
    SnapshotManifest.testFailpoint = Some("append-before-flip")
    try intercept[java.io.IOException] {
      Layout.appendClusteredZoned(df.filter($"ts" > 500), dir, "symbol", "ts",
        numBuckets = 4, filesPerBucket = 2)
    } finally SnapshotManifest.testFailpoint = None
    // no partial data, no missing data: the exact pre-append table
    assert(full() == base)
    // the retry lands the batch exactly once (the orphaned first
    // attempt is unreferenced, not resurrected)
    Layout.appendClusteredZoned(df.filter($"ts" > 500), dir, "symbol", "ts",
      numBuckets = 4, filesPerBucket = 2)
    val want = df.select($"ts").as[Long].collect().toSet
    assert(full() == want)
    assert(Layout.read(spark, dir, "symbol", "ts", numBuckets = 4)
      .count() == 1000) // no duplicates from the crashed attempt
    // vacuum reclaims the orphans; the table still reads in full
    Layout.vacuum(spark, dir, retainPrevious = false)
    val live = Layout.manifest(spark, dir).get
      .select($"file").as[String].collect().toSet
    val disk = diskFilesPerBucket(dir)
    assert(disk.values.sum == live.size, s"$disk vs ${live.size}")
    assert(full() == want)
  }

  test("a crashed compact is invisible: full table until the manifest flips") {
    val dir = scratchDir("graft_crash_cp") + "/t"
    val df = (1 to 2000).map(i => (s"SYM${i % 10}", i.toLong, i * 1.5))
      .toDF("symbol", "ts", "close")
    Layout.writeClusteredZoned(df, dir, "symbol", "ts",
      numBuckets = 4, filesPerBucket = 12)
    def full() = Layout.read(spark, dir, "symbol", "ts", numBuckets = 4)
      .select($"ts").as[Long].collect().toSet
    val want = (1L to 2000L).toSet
    assert(full() == want)
    // crash AFTER replacement files are written, BEFORE the folded
    // manifest flips: the old delete-then-rename scheme would lose
    // whole buckets here
    SnapshotManifest.testFailpoint = Some("compact-before-flip")
    try intercept[java.io.IOException] {
      Layout.compact(spark, dir, "symbol", "ts", filesPerBucket = 2)
    } finally SnapshotManifest.testFailpoint = None
    assert(full() == want)
    // re-running compact completes the job
    val rewritten = Layout.compact(spark, dir, "symbol", "ts", filesPerBucket = 2)
    assert(rewritten > 0)
    assert(full() == want)
    assert(liveFilesPerBucket(dir).values.forall(_ <= 2))
    Layout.vacuum(spark, dir, retainPrevious = false)
    assert(full() == want)
    assert(diskFilesPerBucket(dir).values.forall(_ <= 2))
  }

  test("recluster: re-keys atomically, materializes DVs, prunes on the new key") {
    val dir = scratchDir("graft_reclus") + "/t"
    val df = (1 to 2000).map(i =>
      (s"SYM${i % 10}", s"EX${i % 3}", i.toLong, i * 1.5))
      .toDF("symbol", "exch", "ts", "close")
    Layout.writeClusteredZoned(df, dir, "symbol", "ts",
      numBuckets = 4, filesPerBucket = 4)
    Layout.delete(spark, dir, "ts", $"ts" % 7 === 0)
    val want = (1L to 2000L).filter(_ % 7 != 0).toSet
    def full() = Layout.read(spark, dir, "symbol", "ts", numBuckets = 4)
      .select($"ts").as[Long].collect().toSet
    assert(full() == want)
    // crash AFTER the re-keyed files land, BEFORE the flip: readers
    // stay on the OLD clustering, nothing lost
    SnapshotManifest.testFailpoint = Some("recluster-before-flip")
    try intercept[java.io.IOException] {
      Layout.recluster(spark, dir, "exch", "ts", numBuckets = 4,
        filesPerBucket = 2)
    } finally SnapshotManifest.testFailpoint = None
    assert(full() == want)
    // the real run: row parity under the NEW key...
    Layout.recluster(spark, dir, "exch", "ts", numBuckets = 4,
      filesPerBucket = 2)
    val after = Layout.read(spark, dir, "exch", "ts", numBuckets = 4)
      .select($"ts").as[Long].collect().toSet
    assert(after == want)
    // ...with the deletion vectors MATERIALIZED (no dv_* parts left)
    assert(SnapshotManifest.currentParts(spark, dir).get
      .forall(p => !p.startsWith("dv_")), "replace-all must fold DVs")
    // new-key point reads prune to one bucket's files
    val pruned = Layout.read(spark, dir, "exch", "ts", numBuckets = 4,
      symbolEq = Some("EX1"))
    assert(pruned.select($"ts").as[Long].collect().toSet ==
      want.filter(_ % 3 == 1))
    val openedAll = Layout.manifest(spark, dir).get.count()
    val ex1Bucket = spark.range(1)
      .select(Layout.bucketOf(lit("EX1"), 4)).head.getLong(0)
    val openedOne = liveFilesPerBucket(dir)(ex1Bucket)
    assert(openedOne < openedAll, "bucket pruning must reduce the file set")
    // vacuum reclaims the old clustering's files
    Layout.vacuum(spark, dir, retainPrevious = false)
    assert(full() == want)
  }

  test("readForJoin: manifest row count drives the broadcast hint, DV-aware") {
    val dir = scratchDir("graft_rfj") + "/t"
    val df = (1 to 500).map(i => (s"SYM${i % 5}", i.toLong, i * 1.5))
      .toDF("symbol", "ts", "close")
    Layout.writeClusteredZoned(df, dir, "symbol", "ts",
      numBuckets = 2, filesPerBucket = 1)
    val fact = (1 to 5000).map(i => (s"SYM${i % 5}", i.toLong))
      .toDF("fsym", "v")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // row width from defaultSize: string 20 + long 8 + double 8 = 36
      def planOf(maxBytes: Long) = fact.join(
          Layout.readForJoin(spark, dir, "symbol", "ts", numBuckets = 2,
            broadcastMaxBytes = maxBytes),
          $"fsym" === $"symbol")
        .queryExecution.executedPlan.toString
      // under the ceiling (500 rows × 36 B = 18 000): hinted broadcast
      // despite auto off
      assert(planOf(20000L).contains("BroadcastHashJoin"))
      // over the ceiling: falls through to the planner's default
      assert(!planOf(10000L).contains("BroadcastHashJoin"))
      // DV deletes shrink the metadata count back under the ceiling
      Layout.delete(spark, dir, "ts", $"ts" > 100)
      assert(Layout.countFast(spark, dir) == 100L)
      assert(planOf(10000L).contains("BroadcastHashJoin"))
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("deletion vectors: crash-atomic, idempotent, folded by compact") {
    val dir = scratchDir("graft_dv") + "/t"
    val df = (1 to 1000).map(i => (s"SYM${i % 10}", i.toLong, i * 1.5))
      .toDF("symbol", "ts", "close")
    Layout.writeClusteredZoned(df, dir, "symbol", "ts",
      numBuckets = 4, filesPerBucket = 2)
    def full() = Layout.read(spark, dir, "symbol", "ts", numBuckets = 4)
      .select($"ts").as[Long].collect().toSet
    // a crashed delete is invisible: dv part staged but never flipped
    SnapshotManifest.testFailpoint = Some("delete-before-flip")
    try intercept[java.io.IOException] {
      Layout.delete(spark, dir, "ts", $"ts" <= 100)
    } finally SnapshotManifest.testFailpoint = None
    assert(full() == (1L to 1000L).toSet)
    // the real delete lands; re-deleting the same predicate is a no-op
    assert(Layout.delete(spark, dir, "ts", $"ts" <= 100) == 100L)
    assert(full() == (101L to 1000L).toSet)
    assert(Layout.delete(spark, dir, "ts", $"ts" <= 100) == 0L)
    // a second DV accumulates; key-pruned reads apply DVs too
    assert(Layout.delete(spark, dir, "ts", $"ts" > 900) == 100L)
    val sym1 = Layout.read(spark, dir, "symbol", "ts", numBuckets = 4,
        symbolEq = Some("SYM1"))
      .select($"ts").as[Long].collect().toSet
    assert(sym1 == (101L to 900L).filter(_ % 10 == 1).toSet)
    // compact folds the deletes into clean files and purges dv parts
    // (keeping only the folded manifest + its rw_ change-data part)
    assert(Layout.compact(spark, dir, "symbol", "ts", filesPerBucket = 2) > 0)
    assert(SnapshotManifest.currentParts(spark, dir).get
      .forall(p => p.startsWith("m_") || p.startsWith("rw_")))
    assert(full() == (101L to 900L).toSet)
    // time travel to the pre-fold snapshot still applies its DVs
    val preFold = Layout.snapshots(spark, dir).takeRight(2).head
    assert(Layout.read(spark, dir, "symbol", "ts", numBuckets = 4,
        asOfSnap = Some(preFold))
      .select($"ts").as[Long].collect().toSet == (101L to 900L).toSet)
  }

  test("optimistic concurrency: a racing commit fails the loser, loses no parts") {
    val dir = scratchDir("graft_cas") + "/t"
    val df = (1 to 1000).map(i => (s"SYM${i % 10}", i.toLong, i * 1.5))
      .toDF("symbol", "ts", "close")
    Layout.writeClusteredZoned(df, dir, "symbol", "ts",
      numBuckets = 4, filesPerBucket = 1) // fragmented → compact has work
    Layout.delete(spark, dir, "ts", $"ts" > 900) // a DV part to lose
    def full() = Layout.read(spark, dir, "symbol", "ts", numBuckets = 4)
      .select($"ts").as[Long].collect().toSet
    // interleave a DELETE inside compact's pre-flip window: compact
    // based its fold on the pre-delete snapshot, so last-writer-wins
    // would silently drop the delete's dv part (resurrecting ts<=100)
    SnapshotManifest.testInterleave = Some(("compact-before-flip", () => {
      assert(Layout.delete(spark, dir, "ts", $"ts" <= 100) == 100L)
    }))
    try intercept[SnapshotManifest.ConcurrentCommitException] {
      Layout.compact(spark, dir, "symbol", "ts", filesPerBucket = 2)
    } finally SnapshotManifest.testInterleave = None
    // loser lost: table = winner's snapshot (both deletes live)
    assert(full() == (101L to 900L).toSet)
    // retried loser succeeds against the new snapshot and folds BOTH
    assert(Layout.compact(spark, dir, "symbol", "ts", filesPerBucket = 2) > 0)
    assert(full() == (101L to 900L).toSet)
    assert(SnapshotManifest.currentParts(spark, dir).get
      .forall(p => p.startsWith("m_") || p.startsWith("rw_")))
    // the commit lock is released — the next mutation proceeds
    assert(Layout.delete(spark, dir, "ts", $"ts" <= 200) == 100L)
    assert(full() == (201L to 900L).toSet)
  }

  test("two appenders racing one table both land: the CAS loser retries and drops no parts") {
    val dir = scratchDir("graft_app_race") + "/t"
    val base = (1 to 400).map(i => (s"SYM${i % 4}", i.toLong, i * 1.0))
      .toDF("symbol", "ts", "close")
    Layout.writeClusteredZoned(base, dir, "symbol", "ts",
      numBuckets = 4, filesPerBucket = 2)
    def full() = Layout.read(spark, dir, "symbol", "ts", numBuckets = 4)
      .select($"ts").as[Long].collect().toSet
    // a second appender commits INSIDE the first one's window between
    // snapshot read and flip: the first must lose the CAS, re-read the
    // winner's part list, and re-commit — unlike the maintenance ops,
    // an append retries internally because its part is pure addition
    SnapshotManifest.testInterleave = Some(("append-before-flip", () => {
      Layout.appendClusteredZoned(
        (1001 to 1100).map(i => (s"SYM${i % 4}", i.toLong, i * 1.0))
          .toDF("symbol", "ts", "close"),
        dir, "symbol", "ts", numBuckets = 4, filesPerBucket = 2)
    }))
    try Layout.appendClusteredZoned(
      (2001 to 2100).map(i => (s"SYM${i % 4}", i.toLong, i * 1.0))
        .toDF("symbol", "ts", "close"),
      dir, "symbol", "ts", numBuckets = 4, filesPerBucket = 2)
    finally SnapshotManifest.testInterleave = None
    // both batches visible after both commits — neither dropped
    assert(full() ==
      ((1 to 400) ++ (1001 to 1100) ++ (2001 to 2100)).map(_.toLong).toSet)
    // the lock is released and the table stays mutable
    assert(Layout.delete(spark, dir, "ts", $"ts" > 2000) == 100L)
    assert(full() ==
      ((1 to 400) ++ (1001 to 1100)).map(_.toLong).toSet)
  }

  test("planMaintenance flags exactly the dv-touched buckets; compact clears them") {
    val dir = scratchDir("graft_dv_plan_maint") + "/t"
    // one symbol per bucket (numBuckets ≥ distinct symbols ⇒ buckets
    // don't collide only by luck — derive the expectation from bucketOf)
    val df = (1 to 800).map(i => (s"SYM${i % 4}", i.toLong, i * 1.0))
      .toDF("symbol", "ts", "close")
    Layout.writeClusteredZoned(df, dir, "symbol", "ts",
      numBuckets = 8, filesPerBucket = 2)
    // threshold = the freshly-written layout's own max files/bucket
    // (the write fans its global slice budget over POPULATED buckets,
    // so the per-bucket count depends on symbol→bucket collisions)
    val fpb = liveFilesPerBucket(dir).values.max
    assert(Layout.planMaintenance(spark, dir, fpb).isEmpty)
    // delete rows of ONE symbol → dv rows land only in its bucket
    assert(Layout.delete(spark, dir, "ts",
      $"symbol" === "SYM2" && $"ts" <= 400) > 0)
    val expBucket = spark.range(1)
      .select(Layout.bucketOf(lit("SYM2"), 8)).as[Long].head()
    val plan = Layout.planMaintenance(spark, dir, fpb)
    assert(plan.map(_.bucket) == Seq(expBucket), plan.toString)
    val p = plan.head
    assert(p.dvPressure && !p.overFragmented && p.dvRows > 0 && p.dvFiles > 0)
    // physical rows come from the manifest stat: the bucket holds 200
    // rows per symbol hashing into it; dvRows subtract to live rows
    val symsHere = Seq("SYM0", "SYM1", "SYM2", "SYM3").count(sym =>
      spark.range(1).select(Layout.bucketOf(lit(sym), 8))
        .as[Long].head() == expBucket)
    assert(p.physRows == symsHere * 200L && p.dvRows == 100L, p.toString)
    // compact consumes the plan: rewrites exactly the flagged bucket,
    // after which the planner reports a clean table
    assert(Layout.compact(spark, dir, "symbol", "ts", fpb) == 1)
    assert(Layout.planMaintenance(spark, dir, fpb).isEmpty)
    // fragmentation axis: a small append fans fresh files into buckets
    val extra = (801 to 1000).map(i => (s"SYM${i % 4}", i.toLong, i * 1.0))
      .toDF("symbol", "ts", "close")
    Layout.appendClusteredZoned(extra, dir, "symbol", "ts",
      numBuckets = 8, filesPerBucket = 2)
    val plan2 = Layout.planMaintenance(spark, dir, fpb)
    assert(plan2.nonEmpty && plan2.forall(b =>
      b.overFragmented && !b.dvPressure && b.files > fpb))
  }

  test("DV reads plan a hash anti-join on position keys, never a nested loop") {
    val dir = scratchDir("graft_dv_plan") + "/t"
    val df = (1 to 500).map(i => (s"SYM${i % 5}", i.toLong, i * 1.0))
      .toDF("symbol", "ts", "close")
    Layout.writeClusteredZoned(df, dir, "symbol", "ts",
      numBuckets = 4, filesPerBucket = 2)
    Layout.delete(spark, dir, "ts", $"ts" <= 50)
    val scan = Layout.read(spark, dir, "symbol", "ts", numBuckets = 4)
    scan.collect() // materialize so AQE settles the final plan
    val plan = scan.queryExecution.executedPlan.toString
    // the merge-on-read apply must stay an equi-keyed hash join (the
    // DV side is tiny → broadcast); a nested-loop plan here would make
    // every deleted table O(rows·dv) to scan
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("DV outgrowing broadcast degrades to a shuffled hash anti-join") {
    // at 100 TB a mass delete's DV can exceed the broadcast threshold;
    // the apply must fall back to a SHUFFLED hash join on the position
    // keys — never a sort-merge (pointless double sort) or nested loop
    val dir = scratchDir("graft_dv_shj") + "/t"
    val df = (1 to 500).map(i => (s"SYM${i % 5}", i.toLong, i * 1.0))
      .toDF("symbol", "ts", "close")
    Layout.writeClusteredZoned(df, dir, "symbol", "ts",
      numBuckets = 4, filesPerBucket = 2)
    Layout.delete(spark, dir, "ts", $"ts" <= 50)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val scan = Layout.read(spark, dir, "symbol", "ts", numBuckets = 4)
      assert(scan.select($"ts").as[Long].collect().toSet ==
        (51L to 500L).toSet) // fallback plan is still the same table
      val plan = scan.queryExecution.executedPlan.toString
      assert(plan.contains("ShuffledHashJoin") && plan.contains("LeftAnti"),
        plan.take(2000))
      assert(!plan.contains("SortMergeJoin") &&
        !plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), plan.take(2000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("deletion vectors: a fully-deleted bucket folds to nothing") {
    val dir = scratchDir("graft_dv_full") + "/t"
    val df = (1 to 400).map(i => (s"SYM${i % 4}", i.toLong, i * 1.0))
      .toDF("symbol", "ts", "close")
    Layout.writeClusteredZoned(df, dir, "symbol", "ts",
      numBuckets = 4, filesPerBucket = 2)
    // wipe one symbol entirely — its bucket may hold only that symbol
    assert(Layout.delete(spark, dir, "ts", $"symbol" === "SYM2") == 100L)
    Layout.compact(spark, dir, "symbol", "ts", filesPerBucket = 2)
    val got = Layout.read(spark, dir, "symbol", "ts", numBuckets = 4)
      .select($"ts").as[Long].collect().toSet
    assert(got == (1 to 400).filter(_ % 4 != 2).map(_.toLong).toSet)
  }

  test("change feed: net inserts+deletes; rewrite windows throw") {
    val dir = scratchDir("graft_cdf") + "/t"
    val df = (1 to 600).map(i => (s"SYM${i % 5}", i.toLong, i * 1.0))
      .toDF("symbol", "ts", "close")
    Layout.writeClusteredZoned(df.filter($"ts" <= 300), dir, "symbol", "ts",
      numBuckets = 4, filesPerBucket = 2)
    val snap1 = Layout.snapshots(spark, dir).last
    Layout.appendClusteredZoned(df.filter($"ts" > 300), dir, "symbol", "ts",
      numBuckets = 4, filesPerBucket = 2)
    // deletes straddle the window: ts<=20 existed at snap1 (delete),
    // 300<ts<=320 was appended inside the window (net: nothing)
    Layout.delete(spark, dir, "ts", $"ts" <= 20 || ($"ts" > 300 && $"ts" <= 320))
    val snap3 = Layout.snapshots(spark, dir).last
    val feed = Layout.changes(spark, dir, snap1, snap3)
      .select($"_change_type", $"ts").as[(String, Long)].collect()
    val ins = feed.filter(_._1 == "insert").map(_._2).toSet
    val del = feed.filter(_._1 == "delete").map(_._2).toSet
    assert(ins == (321L to 600L).toSet) // appended-then-deleted net out
    assert(del == (1L to 20L).toSet)
    // an empty window emits nothing but keeps the schema
    val none = Layout.changes(spark, dir, snap3, snap3)
    assert(none.count() == 0 && none.columns.contains("_change_type"))
    // compaction inside the window is a physical rewrite — refuse
    Layout.compact(spark, dir, "symbol", "ts", filesPerBucket = 2)
    val snap4 = Layout.snapshots(spark, dir).last
    intercept[IllegalStateException] {
      Layout.changes(spark, dir, snap1, snap4)
    }
  }

  test("applyChanges replicates a window onto a same-snapshot target") {
    val base = scratchDir("graft_repl")
    val (sp, tp) = (base + "/s", base + "/t")
    val df = (1 to 600).map(i => (s"SYM${i % 5}", i.toLong, i * 1.0))
      .toDF("symbol", "ts", "close")
    val initial = df.filter($"ts" <= 300)
    Layout.writeClusteredZoned(initial, sp, "symbol", "ts", 4, 2)
    Layout.writeClusteredZoned(initial, tp, "symbol", "ts", 4, 2)
    val snap1 = Layout.snapshots(spark, sp).last
    Layout.appendClusteredZoned(df.filter($"ts" > 300), sp, "symbol", "ts", 4, 2)
    Layout.delete(spark, sp, "ts", $"ts" <= 20 || ($"ts" > 300 && $"ts" <= 320))
    val snap3 = Layout.snapshots(spark, sp).last
    def live(p: String) = Layout.read(spark, p, "symbol", "ts", numBuckets = 4)
      .select($"ts").as[Long].collect().toSet
    // crash BEFORE the single batch flip: the target stays exactly on
    // its previous snapshot — there is no longer an inter-commit
    // window where only the delete half landed
    val preCrash = live(tp)
    SnapshotManifest.testFailpoint = Some("applychanges-before-flip")
    try intercept[java.io.IOException] {
      Layout.applyChanges(Layout.changes(spark, sp, snap1, snap3),
        tp, "symbol", "ts", keys = Seq("ts"), numBuckets = 4, filesPerBucket = 2)
    } finally SnapshotManifest.testFailpoint = None
    assert(live(tp) == preCrash, "pre-flip crash must be invisible")
    // the real run: deletes + inserts land as ONE snapshot commit —
    // half the fixed snapshot cost of every CDC batch
    val snapsBefore = Layout.snapshots(spark, tp).size
    Layout.applyChanges(Layout.changes(spark, sp, snap1, snap3),
      tp, "symbol", "ts", keys = Seq("ts"), numBuckets = 4, filesPerBucket = 2)
    assert(Layout.snapshots(spark, tp).size == snapsBefore + 1,
      "a delete+insert batch must commit exactly one snapshot")
    assert(live(tp) == live(sp))
    assert(live(tp) == ((21L to 300L) ++ (321L to 600L)).toSet)
    // an empty feed window is a no-op on the target (no new snapshot)
    val snapsApplied = Layout.snapshots(spark, tp).size
    Layout.applyChanges(Layout.changes(spark, sp, snap3, snap3),
      tp, "symbol", "ts", keys = Seq("ts"), numBuckets = 4, filesPerBucket = 2)
    assert(live(tp) == live(sp))
    assert(Layout.snapshots(spark, tp).size == snapsApplied,
      "an empty window must not commit a snapshot")
  }

  test("readForJoin: bytes-aware ceiling — narrow dim broadcasts, wide dim of equal rows does not") {
    val base = scratchDir("graft_rfj")
    val (np, wp) = (base + "/narrow", base + "/wide")
    val rows = (1 to 20000).map(i => (s"S${i % 7}", i.toLong))
      .toDF("symbol", "ts")
    // same 20k rows — far under any row ceiling — but ~1.9 KB/row wide
    // (228 doubles): the BYTES estimate must refuse the broadcast
    val wide = rows.select(col("symbol") +: col("ts") +:
      (1 to 228).map(i => lit(i.toDouble).as(s"c$i")): _*)
    Layout.writeClusteredZoned(rows, np, "symbol", "ts", 4, 2)
    Layout.writeClusteredZoned(wide, wp, "symbol", "ts", 4, 2)
    val fact = (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("ts", "v")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def planOf(dimPath: String): String = {
        val dim = Layout.readForJoin(spark, dimPath, "symbol", "ts",
          numBuckets = 4)
        fact.join(dim, Seq("ts")).groupBy("symbol")
          .agg(count(lit(1))).queryExecution.executedPlan.toString
      }
      assert(planOf(np).contains("BroadcastHashJoin"),
        "narrow dim under the byte ceiling must carry the hint")
      assert(!planOf(wp).contains("BroadcastHashJoin"),
        "wide dim over the byte ceiling must NOT broadcast " +
          "(a row-count ceiling would have)")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("readForJoin: wide-STRING dim refuses the broadcast despite defaultSize blindness") {
    val dir = scratchDir("graft_rfj_str") + "/t"
    // ~2 KB of hash noise per row: schema defaultSize says ~36 B/row
    // (strings count a flat 20 B however long), the on-disk footprint
    // cross-check says kilobytes — only the latter refuses in time
    def noise(i: Int): String = (1 to 64).map { j =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"${i}_$j".getBytes).map("%02x".format(_)).mkString
    }.mkString
    val rows = (1 to 4000).map(i => (s"S${i % 5}", i.toLong, noise(i)))
      .toDF("symbol", "ts", "payload")
    Layout.writeClusteredZoned(rows, dir, "symbol", "ts", 4, 2)
    val fact = (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("ts", "v")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def plan(ceiling: Long): String = {
        val dim = Layout.readForJoin(spark, dir, "symbol", "ts",
          numBuckets = 4, broadcastMaxBytes = ceiling)
        fact.join(dim, Seq("ts")).groupBy("symbol")
          .agg(count(lit(1))).queryExecution.executedPlan.toString
      }
      // schema estimate: 4000 × ~36 B ≈ 144 KB — well under 1 MB; a
      // defaultSize-only ceiling would broadcast the 2 KB/row dim
      assert(!plan(1L << 20).contains("BroadcastHashJoin"),
        "the on-disk footprint must veto the string-blind estimate")
      // a ceiling that covers the real footprint still broadcasts
      assert(plan(64L << 20).contains("BroadcastHashJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("applyChanges epoch: crash-retry converges, done replays are metadata no-ops") {
    val base = scratchDir("graft_repl_e")
    val (sp, tp) = (base + "/s", base + "/t")
    val df = (1 to 600).map(i => (s"SYM${i % 5}", i.toLong, i * 1.0))
      .toDF("symbol", "ts", "close")
    val initial = df.filter($"ts" <= 300)
    Layout.writeClusteredZoned(initial, sp, "symbol", "ts", 4, 2)
    Layout.writeClusteredZoned(initial, tp, "symbol", "ts", 4, 2)
    val snap1 = Layout.snapshots(spark, sp).last
    Layout.appendClusteredZoned(df.filter($"ts" > 300), sp, "symbol", "ts", 4, 2)
    Layout.delete(spark, sp, "ts", $"ts" <= 20)
    val snap3 = Layout.snapshots(spark, sp).last
    def feed = Layout.changes(spark, sp, snap1, snap3)
    def live(p: String) = Layout.read(spark, p, "symbol", "ts", numBuckets = 4)
      .select($"ts").as[Long].collect()
    // crash AFTER both halves committed, BEFORE the done marker — the
    // worst retry window: the whole batch already landed on the target
    SnapshotManifest.testFailpoint = Some("applychanges-before-done")
    try intercept[java.io.IOException] {
      Layout.applyChanges(feed, tp, "symbol", "ts", keys = Seq("ts"),
        numBuckets = 4, filesPerBucket = 2, epoch = Some("w1"))
    } finally SnapshotManifest.testFailpoint = None
    // retrying the SAME epoch finds intent-without-done and sweeps the
    // insert keys too — the re-appended batch must not duplicate
    Layout.applyChanges(feed, tp, "symbol", "ts", keys = Seq("ts"),
      numBuckets = 4, filesPerBucket = 2, epoch = Some("w1"))
    val got = live(tp)
    assert(got.toSet == live(sp).toSet)
    assert(got.length == got.toSet.size, "retry must not duplicate rows")
    assert(got.toSet == (21L to 600L).toSet)
    // a done epoch replays as a metadata-only no-op: no new snapshot
    val snapsAfter = Layout.snapshots(spark, tp).size
    Layout.applyChanges(feed, tp, "symbol", "ts", keys = Seq("ts"),
      numBuckets = 4, filesPerBucket = 2, epoch = Some("w1"))
    assert(Layout.snapshots(spark, tp).size == snapsAfter)
    assert(live(tp).toSet == (21L to 600L).toSet)
    // distinct epoch ids that sanitize to the same readable prefix
    // must stay distinct markers (md5 suffix): the second window is
    // applied, not skipped as already-done
    val empty = Layout.changes(spark, sp, snap3, snap3)
    Layout.applyChanges(empty, tp, "symbol", "ts", keys = Seq("ts"),
      numBuckets = 4, filesPerBucket = 2, epoch = Some("e/p"))
    Layout.applyChanges(empty, tp, "symbol", "ts", keys = Seq("ts"),
      numBuckets = 4, filesPerBucket = 2, epoch = Some("e:p"))
    val fs2 = new org.apache.hadoop.fs.Path(tp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dones = fs2.listStatus(new org.apache.hadoop.fs.Path(tp, "_repl"))
      .map(_.getPath.getName).filter(n => n.startsWith("e_p_") &&
        n.endsWith(".done"))
    assert(dones.length == 2, s"expected two distinct markers, got ${dones.toSeq}")
    // marker retention: seed the dir past the 128-file cap with OLD
    // markers; the next epoch's cleanup keeps only the newest 128 —
    // the fresh epoch's own pair must survive
    val replDir = new org.apache.hadoop.fs.Path(tp, "_repl")
    (1 to 140).foreach { i =>
      val f = new org.apache.hadoop.fs.Path(replDir, s"old_$i.done")
      fs2.create(f, true).close()
      fs2.setTimes(f, 1000000L + i, -1)
    }
    Layout.applyChanges(empty, tp, "symbol", "ts", keys = Seq("ts"),
      numBuckets = 4, filesPerBucket = 2, epoch = Some("retained"))
    val after = fs2.listStatus(replDir).map(_.getPath.getName)
    assert(after.length <= 128, s"marker retention failed: ${after.length}")
    assert(after.exists(_.startsWith("retained_")),
      "the fresh epoch's markers must survive the prune")
  }

  test("expireBefore: whole files drop metadata-only, straddlers get DVs") {
    val dir = scratchDir("graft_retain") + "/t"
    val df = (1 to 1200).map(i => (s"SYM${i % 4}", i.toLong, i * 1.0))
      .toDF("symbol", "ts", "close")
    Layout.writeClusteredZoned(df, dir, "symbol", "ts",
      numBuckets = 4, filesPerBucket = 6)
    val before = Layout.manifest(spark, dir).get.count()
    // crash before the flip: the full table stays readable
    SnapshotManifest.testFailpoint = Some("expire-before-flip")
    try intercept[java.io.IOException] {
      Layout.expireBefore(spark, dir, "ts", lit(601L))
    } finally SnapshotManifest.testFailpoint = None
    assert(Layout.read(spark, dir, "symbol", "ts", numBuckets = 4)
      .count() == 1200)
    val (nDropped, nStraddle) = Layout.expireBefore(spark, dir, "ts", lit(601L))
    // ~half the time range ages out: most of it as whole-file manifest
    // drops, only the cutoff-straddling files contribute DV rows
    assert(nDropped > 0 && nDropped < before)
    assert(Layout.manifest(spark, dir).get.count() == before - nDropped)
    val live = Layout.read(spark, dir, "symbol", "ts", numBuckets = 4)
      .select($"ts").as[Long].collect().toSet
    assert(live == (601L to 1200L).toSet)
    assert(nStraddle < 600, s"straddle DV covered $nStraddle rows — " +
      "whole-file expiry should dominate")
    // idempotent: nothing left below the cutoff
    assert(Layout.expireBefore(spark, dir, "ts", lit(601L)) == ((0, 0L)))
    // compact folds the straddle DVs away; content unchanged
    Layout.compact(spark, dir, "symbol", "ts", filesPerBucket = 6)
    assert(Layout.read(spark, dir, "symbol", "ts", numBuckets = 4)
      .select($"ts").as[Long].collect().toSet == live)
    assert(SnapshotManifest.currentParts(spark, dir).get
      .forall(p => p.startsWith("m_") || p.startsWith("rw_")))
  }

  test("bloom index: a point probe opens ≈1 file, stays exact, degrades conservatively") {
    val dir = scratchDir("graft_bloom") + "/t"
    // key is unique and UNCORRELATED with the (symbol, ts) clustering,
    // so zone maps can never prune a key-equality probe — each key's
    // single home file is findable only through the bloom index
    val df = (1 to 4000).map(i => (s"SYM${i % 8}", i.toLong, i.toLong, i * 1.5))
      .toDF("symbol", "ts", "key", "close")
    Layout.writeClusteredZoned(df, dir, "symbol", "ts",
      numBuckets = 4, filesPerBucket = 4)
    val totalFiles = Layout.manifest(spark, dir).get.count()
    assert(totalFiles >= 8)
    def probe(k: Long) = Layout.read(spark, dir, "symbol", "ts",
      numBuckets = 4, pointEq = Some(("key", lit(k))))
    // without an index the probe is exact but scans everything
    assert(probe(2718L).select($"ts").as[Long].collect().toSeq == Seq(2718L))
    assert(probe(2718L).inputFiles.length == totalFiles)
    Layout.buildBloomIndex(spark, dir, "key", "ts",
      expectedItemsPerFile = 10000L)
    // indexed: only might-contain files make the task list — the true
    // home file plus at most a couple of 1%-fpp false positives
    val hit = probe(2718L)
    assert(hit.select($"ts").as[Long].collect().toSeq == Seq(2718L))
    val opened = hit.inputFiles.length
    assert(opened >= 1 && opened <= 3,
      s"point probe opened $opened of $totalFiles files")
    // an absent key usually opens nothing (never returns rows)
    assert(probe(999999L).count() == 0)
    // lit(42) Int probes the long column correctly (cast-before-hash)
    assert(Layout.read(spark, dir, "symbol", "ts", numBuckets = 4,
        pointEq = Some(("key", lit(42))))
      .select($"ts").as[Long].collect().toSeq == Seq(42L))
    // composes with bucket pruning: symbol + key probe opens ≤ the
    // bloom-pruned set restricted to one bucket
    val both = Layout.read(spark, dir, "symbol", "ts", numBuckets = 4,
      symbolEq = Some("SYM6"), pointEq = Some(("key", lit(2718L))))
    assert(both.select($"ts").as[Long].collect().toSeq == Seq(2718L))
    assert(both.inputFiles.length <= opened)
    // appended files carry no bloom entry → conservatively scanned:
    // probes for NEW keys are correct without a rebuild
    val preAppend = Layout.manifest(spark, dir).get.collect()
      .map(_.getString(0)).toSet
    Layout.appendClusteredZoned(
      Seq(("SYM1", 5001L, 5001L, 1.0)).toDF("symbol", "ts", "key", "close"),
      dir, "symbol", "ts", numBuckets = 4, filesPerBucket = 4)
    assert(probe(5001L).select($"ts").as[Long].collect().toSeq == Seq(5001L))
    assert(probe(2718L).select($"ts").as[Long].collect().toSeq == Seq(2718L))
    // re-running the build is INCREMENTAL: a second bf part covering
    // exactly the appended files, prior parts kept, skipping restored
    Layout.buildBloomIndex(spark, dir, "key", "ts",
      expectedItemsPerFile = 10000L)
    val bfParts = SnapshotManifest.currentParts(spark, dir).get
      .filter(_.startsWith("bf_")).sorted
    assert(bfParts.size == 2, s"expected 2 bf parts, got $bfParts")
    val deltaFiles = spark.read
      .parquet(SnapshotManifest.partPath(dir, bfParts.last))
      .select($"file").as[String].collect().toSet
    val appended = Layout.manifest(spark, dir).get.collect()
      .map(_.getString(0)).toSet -- preAppend
    assert(deltaFiles == appended,
      s"delta part covers $deltaFiles, appended were $appended")
    assert(probe(5001L).inputFiles.length <= 3)
    // fully covered → a further re-run is a no-op (no new snapshot)
    val snapBefore = SnapshotManifest.currentSnap(spark, dir)
    Layout.buildBloomIndex(spark, dir, "key", "ts",
      expectedItemsPerFile = 10000L)
    assert(SnapshotManifest.currentSnap(spark, dir) == snapBefore)
    // compact folds the snapshot and DROPS the stale index (files were
    // rewritten); probes stay exact, skipping returns after a rebuild
    Layout.compact(spark, dir, "symbol", "ts", filesPerBucket = 4)
    assert(SnapshotManifest.currentParts(spark, dir).get
      .forall(p => p.startsWith("m_") || p.startsWith("rw_")))
    assert(probe(2718L).select($"ts").as[Long].collect().toSeq == Seq(2718L))
    Layout.buildBloomIndex(spark, dir, "key", "ts",
      expectedItemsPerFile = 10000L)
    val re = probe(5001L)
    assert(re.select($"ts").as[Long].collect().toSeq == Seq(5001L))
    assert(re.inputFiles.length <= 3)
  }

  test("buildBloomIndexes: k columns in one pass; per-column incremental delta") {
    val dir = scratchDir("graft_bloom_k") + "/t"
    val df = (1 to 4000).map(i =>
        (s"SYM${i % 8}", i.toLong, i.toLong, (i + 100000).toLong, i * 1.5))
      .toDF("symbol", "ts", "key", "key2", "close")
    Layout.writeClusteredZoned(df, dir, "symbol", "ts",
      numBuckets = 4, filesPerBucket = 4)
    val total = Layout.manifest(spark, dir).get.count()
    // the manifest carries per-file physical row counts (the stat
    // that auto-sizes the filters below)
    val man = Layout.manifest(spark, dir).get
    assert(man.columns.contains("n_rows"))
    assert(man.agg(sum($"n_rows")).head.getLong(0) == 4000L)
    // index key first alone, then BOTH — the second call must only add
    // key2 entries (key is already fully covered); default sizing =
    // auto from the manifest's n_rows stat
    Layout.buildBloomIndex(spark, dir, "key", "ts")
    Layout.buildBloomIndexes(spark, dir, Seq("key", "key2"), "ts")
    val bfParts = SnapshotManifest.currentParts(spark, dir).get
      .filter(_.startsWith("bf_")).sorted
    assert(bfParts.size == 2)
    val delta = spark.read
      .parquet(SnapshotManifest.partPath(dir, bfParts.last))
      .select($"column").distinct().as[String].collect().toSet
    assert(delta == Set("key2"), s"delta part columns: $delta")
    // both columns now skip
    def probe(c: String, v: Long) = Layout.read(spark, dir, "symbol", "ts",
      numBuckets = 4, pointEq = Some((c, lit(v))))
    val p1 = probe("key", 2718L)
    assert(p1.select($"ts").as[Long].collect().toSeq == Seq(2718L))
    assert(p1.inputFiles.length <= 3 && total >= 8)
    val p2 = probe("key2", 102718L)
    assert(p2.select($"ts").as[Long].collect().toSeq == Seq(2718L))
    assert(p2.inputFiles.length <= 3)
  }

  test("expireBefore carries the bloom index forward; probes stay exact across expiry") {
    val dir = scratchDir("graft_bloom_exp") + "/t"
    val df = (1 to 1200).map(i => (s"SYM${i % 4}", i.toLong, i * 1.0))
      .toDF("symbol", "ts", "close")
    Layout.writeClusteredZoned(df, dir, "symbol", "ts",
      numBuckets = 4, filesPerBucket = 6)
    Layout.buildBloomIndex(spark, dir, "ts", "ts",
      expectedItemsPerFile = 10000L)
    val total = Layout.manifest(spark, dir).get.count()
    Layout.expireBefore(spark, dir, "ts", lit(601L))
    // expiry only narrowed the file list — bf_* parts survive it
    assert(SnapshotManifest.currentParts(spark, dir).get
      .exists(_.startsWith("bf_")))
    def probe(k: Long) = Layout.read(spark, dir, "symbol", "ts",
      numBuckets = 4, pointEq = Some(("ts", lit(k))))
    // a live key still skips: far fewer opens than the surviving files
    val hit = probe(900L)
    assert(hit.select($"close").as[Double].collect().toSeq == Seq(900.0))
    assert(hit.inputFiles.length <= 3 &&
      hit.inputFiles.length < Layout.manifest(spark, dir).get.count())
    // an expired key returns nothing (DV/manifest-drop wins over the
    // index's stale might-contain)
    assert(probe(100L).count() == 0)
    // vacuum reclaims the dropped files despite dangling bf entries
    Layout.vacuum(spark, dir, retainPrevious = false)
    assert(probe(900L).select($"close").as[Double].collect().toSeq ==
      Seq(900.0))
    assert(total >= Layout.manifest(spark, dir).get.count())
  }

  test("countFast: metadata count tracks appends, DV deletes, and time travel") {
    val dir = scratchDir("graft_cfast") + "/t"
    val df = (1 to 500).map(i => (s"S${i % 4}", i, i * 1.0))
      .toDF("symbol", "ts", "v")
    Layout.writeClusteredZoned(df, dir, "symbol", "ts", numBuckets = 4)
    assert(Layout.countFast(spark, dir) == 500)
    Layout.appendClusteredZoned(
      (501 to 600).map(i => (s"S${i % 4}", i, i * 1.0))
        .toDF("symbol", "ts", "v"), dir, "symbol", "ts", numBuckets = 4)
    assert(Layout.countFast(spark, dir) == 600)
    val preDelete = Layout.snapshots(spark, dir).last
    val n = Layout.deleteWhere(spark, dir, "ts", _.filter(col("ts") <= 100))
    assert(n == 100)
    assert(Layout.countFast(spark, dir) == 500)
    // physical files unchanged by the DV delete, yet the count is
    // logical; the pre-delete snapshot still counts 600 (time travel)
    assert(Layout.countFast(spark, dir, Some(preDelete)) == 600)
    // compaction materializes the deletes; count is unchanged
    Layout.compact(spark, dir, "symbol", "ts")
    assert(Layout.countFast(spark, dir) == 500)
    assert(Layout.countFast(spark, dir) ==
      Layout.read(spark, dir, "symbol", "ts", numBuckets = 4).count())
  }

  test("a compact committing right after a read resolves its snapshot leaves that read on the snapshot") {
    val dir = scratchDir("graft_resolve") + "/t"
    val df = (1 to 1000).map(i => (s"SYM${i % 10}", i.toLong, i * 1.5))
      .toDF("symbol", "ts", "close")
    Layout.writeClusteredZoned(df, dir, "symbol", "ts",
      numBuckets = 4, filesPerBucket = 2)
    Layout.delete(spark, dir, "ts", $"ts" <= 100)
    Layout.delete(spark, dir, "ts", $"ts" > 900)
    // the compact folds both deletion vectors into new files and
    // commits a snapshot without dv parts; a read that took its files
    // from the old snapshot and its deletion vector from the new one
    // would bring the deleted rows back
    SnapshotManifest.testInterleave = Some(("read-after-resolve", () => {
      assert(Layout.compact(spark, dir, "symbol", "ts", filesPerBucket = 2) > 0)
    }))
    val got = try Layout.read(spark, dir, "symbol", "ts", numBuckets = 4)
        .select($"ts").as[Long].collect().toSet
      finally SnapshotManifest.testInterleave = None
    assert(got == (101L to 900L).toSet)
    assert(SnapshotManifest.currentParts(spark, dir).get
      .forall(p => p.startsWith("m_") || p.startsWith("rw_")))
    assert(Layout.read(spark, dir, "symbol", "ts", numBuckets = 4)
      .select($"ts").as[Long].collect().toSet == (101L to 900L).toSet)
  }

  test("job counts: building a read and countFast run no job on a table with two DV parts") {
    val dir = scratchDir("graft_jobs") + "/t"
    val df = (1 to 1000).map(i => (s"SYM${i % 10}", i.toLong, i * 1.5))
      .toDF("symbol", "ts", "close")
    Layout.writeClusteredZoned(df, dir, "symbol", "ts",
      numBuckets = 4, filesPerBucket = 2)
    Layout.delete(spark, dir, "ts", $"ts" <= 100)
    Layout.delete(spark, dir, "ts", $"ts" > 900)
    assert(SnapshotManifest.currentParts(spark, dir).get
      .count(_.startsWith("dv_")) == 2)
    val (read, buildJobs) = jobsOf(Layout.read(spark, dir, "symbol", "ts",
      numBuckets = 4, symbolEq = Some("SYM1")))
    assert(buildJobs == 0, s"$buildJobs jobs to build the read")
    val (n, countJobs) = jobsOf(Layout.countFast(spark, dir))
    assert(countJobs == 0, s"$countJobs jobs in countFast")
    assert(n == 800L)
    val (rows, collectJobs) = jobsOf(read.select($"ts").as[Long].collect())
    assert(collectJobs <= 2, s"$collectJobs jobs in the read's collect")
    assert(rows.toSet == (101L to 900L).filter(_ % 10 == 1).toSet)
  }

  test("an append of a small batch runs ≤ 3 jobs: its zone rows come from the footers") {
    val dir = scratchDir("graft_appendjobs") + "/t"
    def batch(lo: Int) = (lo until lo + 100).map(i => (s"SYM${i % 10}", i.toLong, i * 1.5))
      .toDF("symbol", "ts", "close")
    Layout.writeClusteredZoned(batch(0), dir, "symbol", "ts",
      numBuckets = 4, filesPerBucket = 2)
    val (_, jobs) = jobsOf(Layout.appendClusteredZoned(batch(100), dir,
      "symbol", "ts", numBuckets = 4, filesPerBucket = 2))
    assert(jobs <= 3, s"$jobs jobs for one appendClusteredZoned")
    assert(Layout.countFast(spark, dir) == 200L)
    assert(Layout.read(spark, dir, "symbol", "ts", numBuckets = 4)
      .select($"ts").as[Long].collect().toSet == (0L until 200L).toSet)
  }

  test("footer zone rows carry the aggregation's schema and rows (long and timestamp zones)") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val tables = Seq(
      (1 to 300).map(i => (s"SYM${i % 7}", i.toLong)).toDF("symbol", "ts"),
      (1 to 300).map(i => (s"SYM${i % 7}", new java.sql.Timestamp(base + i * 60000L)))
        .toDF("symbol", "ts"))
    // timestamps footer-zone only as INT64 micros, not Spark's INT96
    val tsType = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(tsType)
    spark.conf.set(tsType, "TIMESTAMP_MICROS")
    try tables.foreach { df =>
      val dir = scratchDir("graft_zoneschema") + "/t"
      Layout.writeClustered(df, dir, "symbol", "ts", numBuckets = 4)
      val agg = Layout.zoneAgg(spark, dir, "ts")
      // names, types AND nullability: a footer-path part must be
      // interchangeable with an aggregation-path one
      assert(Layout.zoneSchema(df.schema("ts").dataType) == agg.schema)
      val (_, jobs) = jobsOf(Layout.writeZoneManifest(spark, dir, "ts"))
      assert(jobs == 0, s"$jobs jobs: the footer path was not taken for ${df.schema("ts")}")
      val qroot = hfs.makeQualified(new org.apache.hadoop.fs.Path(dir)).toString
      val want = agg.collect().map(r => (hfs.makeQualified(
          new org.apache.hadoop.fs.Path(new java.net.URI(r.getString(0))))
          .toString.stripPrefix(qroot).stripPrefix("/"),
        r.get(1), r.get(2), r.get(3), r.get(4))).toSet
      val got = Layout.manifest(spark, dir).get.collect()
        .map(r => (r.getString(0), r.get(1), r.get(2), r.get(3), r.get(4))).toSet
      assert(got == want)
    } finally prev.fold(spark.conf.unset(tsType))(spark.conf.set(tsType, _))
  }

  test("expireBefore drops the deletion-vector rows of the files it drops") {
    val dir = scratchDir("graft_expiredv") + "/t"
    val df = (1 to 1000).map(i => (s"SYM${i % 10}", i.toLong, i * 1.5))
      .toDF("symbol", "ts", "close")
    Layout.writeClusteredZoned(df, dir, "symbol", "ts", numBuckets = 4)
    Layout.delete(spark, dir, "ts", $"ts" <= 10)
    Layout.delete(spark, dir, "ts", $"ts" === 500L)
    val (dropped, _) = Layout.expireBefore(spark, dir, "ts", lit(300L))
    assert(dropped > 0)
    val read = Layout.read(spark, dir, "symbol", "ts", numBuckets = 4)
    assert(read.count() == 700L)
    assert(Layout.countFast(spark, dir) == read.count())
    Layout.planMaintenance(spark, dir).foreach { b =>
      assert(b.dvFiles <= b.files, s"more dv files than live files: $b")
    }
  }

  test("read takes Spark's inferred schema from the footer, also after an append added a column") {
    val dir = scratchDir("graft_evolve") + "/t"
    // 16 base files (part-00000..00015, four per bucket), then a
    // 4-file append (part-00000..00003, one per bucket) WITH a new
    // column: in buckets 1-3 the appended file comes first in path
    // order although the manifest lists it last
    val base = (1 to 800).map(i => (s"SYM${i % 40}", i.toLong, i * 1.5))
      .toDF("symbol", "ts", "close")
    Layout.writeClusteredZoned(base, dir, "symbol", "ts",
      numBuckets = 4, filesPerBucket = 4)
    Layout.appendClusteredZoned(
      (801 to 1000).map(i => (s"SYM${i % 40}", i.toLong, i * 1.5, s"n$i"))
        .toDF("symbol", "ts", "close", "note"),
      dir, "symbol", "ts", numBuckets = 4, filesPerBucket = 1)
    def inferred(files: Seq[String]) = spark.read.option("basePath", dir)
      .parquet(files.map(f =>
        Layout.globEscape(new org.apache.hadoop.fs.Path(dir, f).toString)): _*)
      .schema
    val m = Layout.manifest(spark, dir).get
    assert(Layout.read(spark, dir, "symbol", "ts", numBuckets = 4).schema ==
      inferred(m.select($"file").as[String].collect().toSeq))
    val symbolOf = (0 until 40).map(i => s"SYM$i").toDF("s")
      .select(Layout.bucketOf($"s", 4), $"s").as[(Long, String)].collect()
      .toMap
    assert(symbolOf.size == 4)
    symbolOf.foreach { case (b, s) =>
      val files = m.filter($"sym_bucket" === b)
        .select($"file").as[String].collect().toSeq
      val got = Layout.read(spark, dir, "symbol", "ts", numBuckets = 4,
        symbolEq = Some(s)).schema
      assert(got == inferred(files), s"bucket $b")
      if (b > 0) assert(got.fieldNames.contains("note"), s"bucket $b")
    }
    assert(Layout.read(spark, dir, "symbol", "ts", numBuckets = 4,
      mergeSchema = true).schema.fieldNames.contains("note"))
  }

  test("deleteWhere returns exactly the rows that vanished; an applyChanges sweep is counted from footers") {
    val dir = scratchDir("graft_delcount") + "/t"
    val df = (1 to 1000).map(i => (s"SYM${i % 10}", i.toLong, i * 1.5))
      .toDF("symbol", "ts", "close")
    Layout.writeClusteredZoned(df, dir, "symbol", "ts",
      numBuckets = 4, filesPerBucket = 2)
    def live() = Layout.read(spark, dir, "symbol", "ts", numBuckets = 4).count()
    val before = live()
    val n = Layout.deleteWhere(spark, dir, "ts", _.filter($"ts" % 7 === 0))
    assert(n == 142L && n == before - live())
    // an upsert of 61 keys, 9 of them already deleted: the sweep's dv
    // part holds the 52 live old versions, and the batch re-adds all 61
    val parts = SnapshotManifest.currentParts(spark, dir).get.toSet
    Layout.applyChanges(
      (200 to 260).map(i => (s"SYM${i % 10}", i.toLong, -1.0, "insert"))
        .toDF("symbol", "ts", "close", "_change_type"),
      dir, "symbol", "ts", Seq("symbol", "ts"), numBuckets = 4)
    val sweep = SnapshotManifest.currentParts(spark, dir).get
      .filterNot(parts).filter(_.startsWith("dv_"))
    assert(sweep.size == 1)
    assert(spark.read.parquet(SnapshotManifest.partPath(dir, sweep.head))
      .count() == 52L)
    assert(live() == before - n - 52L + 61L)
    assert(Layout.countFast(spark, dir) == live())
  }

  test("double zone columns take the exact aggregation: NaN and -0.0 bounds equal min/max") {
    val dir = scratchDir("graft_dzone") + "/t"
    // footer statistics widen a -0.0 maximum to +0.0 and drop NaN
    Layout.writeClusteredZoned(Seq(("S", -2.0), ("S", -0.0)).toDF("symbol", "t"),
      dir, "symbol", "t", numBuckets = 1, filesPerBucket = 1)
    Layout.appendClusteredZoned(
      Seq(("S", Double.NaN), ("S", 1.0)).toDF("symbol", "t"),
      dir, "symbol", "t", numBuckets = 1, filesPerBucket = 1)
    val m = Layout.manifest(spark, dir).get.collect()
    assert(m.length == 2)
    m.foreach { r =>
      val want = spark.read
        .parquet(new org.apache.hadoop.fs.Path(dir, r.getString(0)).toString)
        .agg(min($"t"), max($"t")).head()
      // Double.compare tells -0.0 from 0.0 and equates NaN with NaN
      assert(java.lang.Double.compare(r.getDouble(2), want.getDouble(0)) == 0 &&
        java.lang.Double.compare(r.getDouble(3), want.getDouble(1)) == 0,
        s"manifest ${r.get(2)}..${r.get(3)} vs data ${want.get(0)}..${want.get(1)}")
    }
  }

  test("writeZoneManifest over an empty or mistyped root never commits an empty manifest") {
    val empty = scratchDir("graft_emptyroot") + "/t"
    hfs.mkdirs(new org.apache.hadoop.fs.Path(empty))
    intercept[Exception](Layout.writeZoneManifest(spark, empty, "ts"))
    assert(SnapshotManifest.currentSnap(spark, empty).isEmpty)
    // the table's parent directory: no bucket directory directly below
    val parent = scratchDir("graft_mistyped")
    val df = (1 to 100).map(i => (s"SYM${i % 4}", i.toLong))
      .toDF("symbol", "ts")
    Layout.writeClustered(df, parent + "/t", "symbol", "ts", numBuckets = 4)
    scala.util.Try(Layout.writeZoneManifest(spark, parent, "ts"))
    assert(SnapshotManifest.currentSnap(spark, parent).isEmpty ||
      Layout.countFast(spark, parent) == 100L)
  }

  test("append write + read-back echo (S3/U1)") {
    val dir = scratchDir("graft_append") + "/t"
    Seq(("AAA", 1, 10.0)).toDF("symbol", "ts", "close")
      .write.mode("append").parquet(dir)
    Seq(("BBB", 2, 20.0)).toDF("symbol", "ts", "close")
      .write.mode("append").parquet(dir)
    val got = spark.read.parquet(dir).orderBy("ts")
      .as[(String, Int, Double)].collect().toSeq
    assert(got == Seq(("AAA", 1, 10.0), ("BBB", 2, 20.0)))
  }
}
