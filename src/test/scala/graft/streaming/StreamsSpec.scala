package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")

  test("windowedEventAgg over a MemoryStream: counts + exact sums per window") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val agg = Streams.windowedEventAgg(df, "5 minutes", watermark = "1 minute")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("winagg").start()
    mem.addData((ts(1), "view", 1.5), (ts(2), "view", 2.5),
      (ts(3), "click", 1.0), (ts(7), "view", 4.0))
    q.processAllAvailable()
    val got = spark.sql(
      "SELECT event_type, n, CAST(total AS DOUBLE) FROM winagg ORDER BY window_start, event_type")
      .as[(String, Long, Double)].collect().toSeq
    q.stop()
    assert(got == Seq(("click", 1L, 1.0), ("view", 2L, 4.0), ("view", 1L, 4.0)))
  }

  test("windowedEventAgg is source-agnostic: batch frame gives same shape") {
    val batch = Seq((ts(1), "view", 1.5), (ts(7), "view", 4.0))
      .toDF("ts", "event_type", "value")
    val got = Streams.windowedEventAgg(batch, "5 minutes")
      .orderBy("window_start").collect()
    assert(got.length == 2 && got(0).getAs[Long]("n") == 1)
  }

  test("balanceStream maintains per-account balances incrementally") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val df = mem.toDF().toDF("user_id", "value")
    val q = Streams.balanceStream(df, "user_id").writeStream
      .outputMode("complete").format("memory").queryName("bal").start()
    mem.addData((1L, 100.0), (1L, -30.0), (2L, 7.0))
    q.processAllAvailable()
    mem.addData((1L, 5.0))
    q.processAllAvailable()
    val got = spark.sql("SELECT user_id, CAST(balance AS DOUBLE), n_tx FROM bal ORDER BY user_id")
      .as[(Long, Double, Long)].collect().toSeq
    q.stop()
    assert(got == Seq((1L, 75.0, 3L), (2L, 7.0, 1L)))
  }

  test("holdingsStream: incremental fold across batches == batch replay") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.StreamTrade]
    val q = Streams.holdingsStream(mem.toDS()).writeStream
      .outputMode("append").format("memory").queryName("hold").start()
    // batch 1: open positions
    mem.addData(
      Streams.StreamTrade(1L, "A", 1, 1, "BUY", 10, 5.0),
      Streams.StreamTrade(1L, "A", 2, 2, "BUY", 10, 8.0))
    q.processAllAvailable()
    // batch 2: partial sell + a rejected oversell on another key
    mem.addData(
      Streams.StreamTrade(1L, "A", 3, 3, "SELL", 4, 9.0),
      Streams.StreamTrade(2L, "B", 1, 1, "SELL", 5, 9.0))
    q.processAllAvailable()
    // n_trades is the monotone version stamp: latest update per key
    val last = spark.sql(
      """SELECT portfolio, symbol, shares, avg_cost, n_rejected FROM (
           SELECT *, row_number() OVER (PARTITION BY portfolio, symbol
             ORDER BY n_trades DESC) AS rn FROM hold) WHERE rn = 1""")
    // final state must equal the batch fold of the full log
    val batch = graft.domain.Trading.replay(Seq(
      graft.domain.Trade(1L, "A", 1, 1, "BUY", 10, 5.0),
      graft.domain.Trade(1L, "A", 2, 2, "BUY", 10, 8.0),
      graft.domain.Trade(1L, "A", 3, 3, "SELL", 4, 9.0)).toDS()).collect().head
    val streamed = spark.sql(
      "SELECT shares, avg_cost FROM hold WHERE portfolio = 1 AND shares = 16")
      .as[(Double, Double)].collect().head
    q.stop()
    assert(streamed == ((batch.shares, batch.avg_cost)))
    assert(last.count() >= 2)
  }

  test("upsertSink: streaming aggregation merges into a keyed snapshot table") {
    implicit val sqlCtx = spark.sqlContext
    val dir = scratchDir("graft_sink") + "/bal"
    val mem = MemoryStream[(Long, Double)]
    val agg = Streams.balanceStream(mem.toDF().toDF("user_id", "value"), "user_id")
    val q = Streams.upsertSink(agg, dir, Seq("user_id"))
    mem.addData((1L, 100.0), (2L, 7.0))
    q.processAllAvailable()
    mem.addData((1L, -30.0))
    q.processAllAvailable()
    q.stop()
    val cache = new graft.analytics.StatsCache(spark, dir, Seq("user_id"))
    val got = cache.probe(Seq(1L, 2L).toDF("user_id"))
      .select($"user_id", $"balance".cast("double"))
      .as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 70.0, 2L -> 7.0)) // batch-2 upsert replaced user 1
  }

  test("mvRefreshSink maintains a FILTERED bitmap-distinct MV: epochs fold only the slice, re-inserted ids count once") {
    implicit val sqlCtx = spark.sqlContext
    val dir = scratchDir("graft_fmv")
    val base = dir + "/base"
    val name = "streamspec_fmv"
    Seq(("a", "K", 10L), ("a", "J", 20L), ("b", "K", 30L))
      .toDF("d", "st", "v").write.mode("overwrite").parquet(base)
    graft.plans.Mv.build(spark.read.parquet(base), name, Seq("d"),
      measures = Seq("v"), mvPath = dir + "/mv",
      distincts = Seq("v"), where = Some("st = 'K'"))
    graft.plans.Mv.install(spark)
    try {
      val mem = MemoryStream[(String, String, Long)]
      val q = Streams.mvRefreshSink(mem.toDF().toDF("d", "st", "v"), name)
      // epoch 1: one in-slice re-insert of v=10 (must not double-count)
      // and one out-of-slice row (must not fold at all)
      mem.addData(("a", "K", 10L), ("a", "J", 999L))
      q.processAllAvailable()
      // epoch 2: a genuinely new in-slice value
      mem.addData(("b", "K", 40L))
      q.processAllAvailable()
      q.stop()
      // mirror the stream into the base so the rewrite's answer can be
      // checked against a from-scratch slice aggregation
      Seq(("a", "K", 10L), ("a", "J", 999L), ("b", "K", 40L))
        .toDF("d", "st", "v").write.mode("append").parquet(base)
      // the MV was stamped per-epoch BEFORE this mirror append, so the
      // fingerprint is stale by construction of the test — query the
      // summary directly: the partials must reflect exactly the slice
      val d = graft.plans.MvCatalog.get(name).get
      val mv = spark.read.parquet(d.mvPath)
      val got = mv.select(col("d"), col("cnt"),
        graft.functions.BitmapAgg.bitmap_card(col("bm_v")).as("nv"))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      // a: rows {10, 10-reinsert} → cnt 2, distinct 1; b: {30, 40}
      assert(got == Map("a" -> (2L, 1L), "b" -> (2L, 2L)), got.toString)
    } finally graft.plans.MvCatalog.unregister(name)
  }

  test("viewSink maintains a retractable view across epochs; deletes retract; GC keeps last 2") {
    implicit val sqlCtx = spark.sqlContext
    val root = scratchDir("graft_view") + "/v"
    val mem = MemoryStream[(String, Double, String)]
    val q = Streams.viewSink(
      mem.toDF().toDF("k", "v", "_change_type"), root, Seq("k"), Seq("v"))
    def state: Map[String, (Long, Double)] =
      Streams.viewState(spark, root).get
        .select($"k", $"__cnt", $"sum_v".cast("double"))
        .as[(String, Long, Double)].collect().map(t => t._1 -> (t._2, t._3))
        .toMap
    try {
      mem.addData(("a", 10.0, "insert"), ("a", 20.0, "insert"),
        ("b", 5.0, "insert"))
      q.processAllAvailable()
      assert(state == Map("a" -> ((2L, 30.0)), "b" -> ((1L, 5.0))))
      // epoch 2: retract one of a's rows, b entirely; add c
      mem.addData(("a", 10.0, "delete"), ("b", 5.0, "delete"),
        ("c", 7.0, "insert"))
      q.processAllAvailable()
      assert(state == Map("a" -> ((1L, 20.0)), "c" -> ((1L, 7.0))))
      // epoch 3: pure insert — then only the last 2 state snaps remain
      mem.addData(("c", 3.0, "insert"))
      q.processAllAvailable()
      assert(state == Map("a" -> ((1L, 20.0)), "c" -> ((2L, 10.0))))
      val snaps = org.apache.hadoop.fs.FileSystem
        .get(spark.sparkContext.hadoopConfiguration)
        .listStatus(new org.apache.hadoop.fs.Path(root))
        .map(_.getPath.getName).filter(_.startsWith("state_e"))
      assert(snaps.length == 2, snaps.mkString(","))
    } finally q.stop()
  }

  test("viewSink high-water guard skips re-delivered epochs after a lost checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    val root = scratchDir("graft_view_hw") + "/v"
    val mem = MemoryStream[(String, Double, String)]
    val q = Streams.viewSink(
      mem.toDF().toDF("k", "v", "_change_type"), root, Seq("k"), Seq("v"))
    try { mem.addData(("a", 1.0, "insert")); q.processAllAvailable() }
    finally q.stop()
    // a fresh query (new checkpoint) restarts epochs at 0 — its
    // re-delivered batch must be SKIPPED, not double-counted
    val mem2 = MemoryStream[(String, Double, String)]
    val q2 = Streams.viewSink(
      mem2.toDF().toDF("k", "v", "_change_type"), root, Seq("k"), Seq("v"))
    try { mem2.addData(("a", 1.0, "insert")); q2.processAllAvailable() }
    finally q2.stop()
    val got = Streams.viewState(spark, root).get
      .select($"k", $"__cnt").as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 1L))
  }

  test("dedupStream drops repeated content within the watermark, state evicted after") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val docs = mem.toDF().toDF("doc_id", "ts", "text")
    val q = Streams.dedupStream(docs, "ts", "text", watermark = "5 minutes")
      .writeStream.outputMode("append").format("memory").queryName("dedup").start()
    // batch 1: two distinct docs + one duplicate (case/whitespace variant)
    mem.addData((1L, ts(0), "the quick fox"), (2L, ts(1), "other words"),
      (3L, ts(1), "THE  QUICK   fox"))
    q.processAllAvailable()
    // batch 2: duplicate of doc 1 arrives within the watermark → dropped
    mem.addData((4L, ts(2), "the quick fox"))
    q.processAllAvailable()
    val got = spark.sql("SELECT doc_id FROM dedup").as[Long].collect().toSet
    q.stop()
    assert(got.size == 2 && got.contains(2L))
    assert((got - 2L).subsetOf(Set(1L, 3L))) // one survivor of the dup cluster
    // batch twin is deterministic: earliest-ts row per fingerprint
    val batch = Seq((1L, ts(5), "same text"), (2L, ts(1), "same text"),
        (3L, ts(1), "same text"), (4L, ts(0), "other"))
      .toDF("doc_id", "ts", "text")
    val kept = Streams.dedupStream(batch, "ts", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L)) // ts(1) earliest; doc 2 < doc 3 on the tie
  }

  test("mediaDedupStream: resampled copies drop, undecodables pass, state evicts at the watermark") {
    implicit val sqlCtx = spark.sqlContext
    // hi=true renders the SAME clip at 16 kHz (a resampled re-encode)
    def wav(g: Long, hi: Boolean) =
      graft.pipeline.Multimodal.stepWavAt(g, highRate = hi)
    val mem = MemoryStream[(Long, String, Array[Byte], Timestamp)]
    val media = mem.toDF().toDF("media_id", "media_type", "payload", "ts")
    val q = Streams.mediaDedupStream(media, "ts", watermark = "5 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("mediadedup").start()
    // batch 1: two distinct clips + one broken payload
    mem.addData((1L, "audio/wav", wav(0, hi = false), ts(0)),
      (2L, "audio/wav", wav(1, hi = false), ts(1)),
      (3L, "audio/wav", Array[Byte](9), ts(1)))
    q.processAllAvailable()
    // batch 2: a 16 kHz re-encode of clip 0 (same fingerprint →
    // dropped) + a second broken payload (must pass — undecodable
    // rows are keyed by their own id, never each other's)
    mem.addData((4L, "audio/wav", wav(0, hi = true), ts(2)),
      (5L, "audio/wav", Array[Byte](8), ts(2)))
    q.processAllAvailable()
    // batch 3 advances the watermark past clip 0's state horizon (the
    // watermark a batch computes applies to the NEXT batch); batch 4
    // then re-sends the SAME clip → re-admitted, proving state was
    // evicted (eviction is what bounds dedup state at 100 TB)
    mem.addData((7L, "audio/wav", wav(2, hi = false), ts(30)))
    q.processAllAvailable()
    mem.addData((6L, "audio/wav", wav(0, hi = false), ts(31)))
    q.processAllAvailable()
    val got = spark.sql("SELECT media_id FROM mediadedup").as[Long].collect().toSet
    q.stop()
    assert(got == Set(1L, 2L, 3L, 5L, 6L, 7L), got)
    // batch twin is deterministic: earliest-ts survivor per fingerprint
    val batch = Seq((1L, "audio/wav", wav(0, hi = false), ts(5)),
      (2L, "audio/wav", wav(0, hi = true), ts(1)),
      (3L, "audio/wav", Array[Byte](9), ts(0)),
      (4L, "audio/wav", Array[Byte](7), ts(0)))
      .toDF("media_id", "media_type", "payload", "ts")
    val kept = Streams.mediaDedupStream(batch, "ts")
      .select("media_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L, 4L), kept) // ts(1) beats ts(5); both broken kept
  }

  test("scd2Sink maintains type-2 history incrementally across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val root = scratchDir("graft_scd2") + "/dim"
    val mem = MemoryStream[(Int, Long, Long, String)]
    val changes = mem.toDF().toDF("k", "ts", "ord", "attr")
    val q = Streams.scd2Sink(changes, root, Seq("k"), "ts", "ord", Seq("attr"))
    mem.addData((1, 10L, 1L, "a"), (2, 5L, 2L, "x"))
    q.processAllAvailable()
    mem.addData((1, 20L, 3L, "b"), (1, 30L, 4L, "b"))  // second is a no-op change
    q.processAllAvailable()
    q.stop()
    val got = Streams.scd2History(spark, root)
      .select($"k", $"attr", $"valid_from", $"valid_to", $"is_current")
      .as[(Int, String, Long, Option[Long], Boolean)].collect().toSet
    // equals the one-shot historize over the full changelog
    val full = graft.ops.Scd.historize(
        Seq((1, 10L, 1L, "a"), (2, 5L, 2L, "x"), (1, 20L, 3L, "b"),
          (1, 30L, 4L, "b")).toDF("k", "ts", "ord", "attr"),
        Seq("k"), "ts", "ord", Seq("attr"))
      .select($"k", $"attr", $"valid_from", $"valid_to", $"is_current")
      .as[(Int, String, Long, Option[Long], Boolean)].collect().toSet
    assert(got == full)
    assert(got == Set((1, "a", 10L, Some(20L), false),
      (1, "b", 20L, None, true), (2, "x", 5L, None, true)))
  }

  test("scd2Sink write is incremental: a 1-key epoch rewrites exactly 1 bucket") {
    implicit val sqlCtx = spark.sqlContext
    val root = scratchDir("graft_scd2i") + "/dim"
    val mem = MemoryStream[(Int, Long, Long, String)]
    val changes = mem.toDF().toDF("k", "ts", "ord", "attr")
    val q = Streams.scd2Sink(changes, root, Seq("k"), "ts", "ord", Seq("attr"),
      nBuckets = 8)
    // epoch 0: 40 keys spread over (almost surely) all 8 buckets
    mem.addData((1 to 40).map(k => (k, 10L, k.toLong, "a")): _*)
    q.processAllAvailable()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bucketDirs(epoch: Long): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(root, s"epoch_$epoch")
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).map(_.getPath.getName)
        .filter(_.startsWith("__kb=")).toSeq.sorted
    }
    val epoch0Buckets = bucketDirs(0)
    assert(epoch0Buckets.size >= 2) // data really spread over buckets
    // epoch 1: ONE key changes → exactly one bucket dir copy-on-written
    mem.addData((7, 20L, 100L, "b"))
    q.processAllAvailable()
    assert(bucketDirs(1).size == 1)
    // keep-last-2: the superseded epoch-0 copy of key 7's bucket is
    // still readable (one-flip grace for in-flight readers)...
    assert(bucketDirs(0) == epoch0Buckets)
    // epoch 2: the SAME key again → the epoch-0 copy, superseded two
    // flips ago, is GC'd; the epoch-1 copy survives one more flip
    mem.addData((7, 30L, 101L, "c"))
    q.processAllAvailable()
    q.stop()
    assert(bucketDirs(2).size == 1)
    assert(bucketDirs(1) == Seq(bucketDirs(2).head))
    assert(bucketDirs(0).size == epoch0Buckets.size - 1)
    assert(!bucketDirs(0).contains(bucketDirs(2).head))
    // and the merged history still equals the one-shot historize
    val got = Streams.scd2History(spark, root)
      .select($"k", $"attr", $"valid_from", $"valid_to", $"is_current")
      .as[(Int, String, Long, Option[Long], Boolean)].collect().toSet
    val full = graft.ops.Scd.historize(
        ((1 to 40).map(k => (k, 10L, k.toLong, "a")) ++
          Seq((7, 20L, 100L, "b"), (7, 30L, 101L, "c"))).toDF("k", "ts", "ord", "attr"),
        Seq("k"), "ts", "ord", Seq("attr"))
      .select($"k", $"attr", $"valid_from", $"valid_to", $"is_current")
      .as[(Int, String, Long, Option[Long], Boolean)].collect().toSet
    assert(got == full)
  }

  test("scd2Sink restart from checkpoint resumes mid-stream without re-merging") {
    implicit val sqlCtx = spark.sqlContext
    val base = scratchDir("graft_scd2r")
    val root = base + "/dim"
    val ckpt = base + "/ckpt"
    val mem = MemoryStream[(Int, Long, Long, String)]
    val changes = mem.toDF().toDF("k", "ts", "ord", "attr")
    def start() = Streams.scd2Sink(changes, root, Seq("k"), "ts", "ord",
      Seq("attr"), checkpointLocation = Some(ckpt))
    // first incarnation applies two epochs, then the driver "dies"
    val q1 = start()
    mem.addData((1, 10L, 1L, "a"), (2, 5L, 2L, "x"))
    q1.processAllAvailable()
    mem.addData((1, 20L, 3L, "b"))
    q1.processAllAvailable()
    q1.stop()
    // restart from the SAME checkpoint: committed offsets are honored,
    // epoch ids continue past the manifest's high-water mark, and only
    // the post-restart data is merged
    val q2 = start()
    mem.addData((2, 30L, 4L, "y"))
    q2.processAllAvailable()
    q2.stop()
    val cols = Seq($"k", $"attr", $"valid_from", $"valid_to", $"is_current")
    val got = Streams.scd2History(spark, root).select(cols: _*)
      .as[(Int, String, Long, Option[Long], Boolean)].collect().toSet
    val full = graft.ops.Scd.historize(
        Seq((1, 10L, 1L, "a"), (2, 5L, 2L, "x"), (1, 20L, 3L, "b"),
          (2, 30L, 4L, "y")).toDF("k", "ts", "ord", "attr"),
        Seq("k"), "ts", "ord", Seq("attr"))
      .select(cols: _*)
      .as[(Int, String, Long, Option[Long], Boolean)].collect().toSet
    assert(got == full)
    assert(got.count(_._1 == 1) == 2 && got.count(_._1 == 2) == 2)
  }

  test("scd2Sink high-water guard ignores re-delivered epochs after a lost checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    val root = scratchDir("graft_scd2hw") + "/dim"
    val mem = MemoryStream[(Int, Long, Long, String)]
    val changes = mem.toDF().toDF("k", "ts", "ord", "attr")
    // no checkpoint: each incarnation gets a temp checkpoint and epoch
    // ids restart at 0
    val q1 = Streams.scd2Sink(changes, root, Seq("k"), "ts", "ord", Seq("attr"))
    mem.addData((1, 10L, 1L, "a"))
    q1.processAllAvailable()
    mem.addData((1, 20L, 2L, "b"))
    q1.processAllAvailable()
    q1.stop()
    val cols = Seq($"k", $"attr", $"valid_from", $"valid_to", $"is_current")
    val before = Streams.scd2History(spark, root).select(cols: _*)
      .as[(Int, String, Long, Option[Long], Boolean)].collect().toSet
    assert(before.size == 2) // manifest high-water mark is now epoch 1
    // a fresh query over the same source re-delivers ALL the data as
    // epoch 0 ≤ high-water 1: under the old equality guard this
    // re-merged applied rows; now it must be a no-op
    val q2 = Streams.scd2Sink(changes, root, Seq("k"), "ts", "ord", Seq("attr"))
    q2.processAllAvailable()
    q2.stop()
    val after = Streams.scd2History(spark, root).select(cols: _*)
      .as[(Int, String, Long, Option[Long], Boolean)].collect().toSet
    assert(after == before)
  }

  test("scd2Sink zone rows let scd2History prune reads by key and valid_from range") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    val root = scratchDir("graft_scd2z") + "/dim"
    val nB = 8
    // two keys in DIFFERENT buckets, with disjoint valid_from ranges —
    // the setup where both prunings have something to skip
    def bucketOf(k: Int): Int = spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(nB)).cast("int")).head.getInt(0)
    val k1 = 1
    val k2 = (2 to 50).find(bucketOf(_) != bucketOf(k1)).get
    val mem = MemoryStream[(Int, Long, Long, String)]
    val changes = mem.toDF().toDF("k", "ts", "ord", "attr")
    val q = Streams.scd2Sink(changes, root, Seq("k"), "ts", "ord", Seq("attr"),
      nBuckets = nB)
    mem.addData((k1, 10L, 1L, "a"), (k1, 20L, 2L, "b"),
      (k2, 1000L, 3L, "x"), (k2, 2000L, 4L, "y"))
    q.processAllAvailable()
    q.stop()
    val cols = Seq($"k", $"attr", $"valid_from", $"valid_to", $"is_current")
    def rows(df: org.apache.spark.sql.DataFrame) = df.select(cols: _*)
      .as[(Int, String, Long, Option[Long], Boolean)].collect().toSet
    val full = Streams.scd2History(spark, root)
    assert(rows(full).size == 4)
    // key-equality read prunes to ONE bucket directory at the metadata
    // level: the other key's files never enter the scan's file list
    val byKey = Streams.scd2History(spark, root, keyEq = Seq("k" -> lit(k1)))
    assert(rows(byKey) == rows(full.filter($"k" === k1)))
    assert(byKey.inputFiles.length < full.inputFiles.length)
    assert(byKey.inputFiles.forall(f => !f.contains(s"__kb=${bucketOf(k2)}")))
    // valid_from range read skips buckets whose zones don't overlap
    val byRange = Streams.scd2History(spark, root,
      validFromRange = Some((lit(1000L), lit(3000L))))
    assert(rows(byRange) ==
      rows(full.filter($"valid_from" >= 1000L && $"valid_from" <= 3000L)))
    assert(byRange.inputFiles.length < full.inputFiles.length)
    assert(byRange.inputFiles.forall(f => !f.contains(s"__kb=${bucketOf(k1)}")))
    // a range overlapping nothing reads NO data files but keeps schema
    val empty = Streams.scd2History(spark, root,
      validFromRange = Some((lit(90000L), lit(99999L))))
    assert(empty.count() == 0 && empty.columns.contains("valid_from"))
  }

  test("quotedTrades: watermarked interval join picks up in-window quotes only") {
    implicit val sqlCtx = spark.sqlContext
    val qmem = MemoryStream[Streams.Quote]
    val tmem = MemoryStream[Streams.StampedTrade]
    val joined = Streams.quotedTrades(tmem.toDF(), qmem.toDF(),
      lookback = "15 minutes", watermark = "5 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("qt").start()
    qmem.addData(Streams.Quote("AAA", ts(0), 10.0),   // 20 min before: outside
      Streams.Quote("AAA", ts(10), 11.0),             // in window
      Streams.Quote("AAA", ts(18), 12.0),             // in window
      Streams.Quote("BBB", ts(15), 99.0),             // other symbol
      Streams.Quote("AAA", ts(25), 13.0))             // after the trade
    tmem.addData(Streams.StampedTrade("AAA", ts(20), 5.0))
    q.processAllAvailable()
    val got = spark.sql("SELECT price FROM qt").as[Double].collect().toSet
    q.stop()
    assert(got == Set(11.0, 12.0))
  }

  test("quotedTradesOuter: unmatched trades emit null-padded after the watermark closes") {
    implicit val sqlCtx = spark.sqlContext
    val qmem = MemoryStream[Streams.Quote]
    val tmem = MemoryStream[Streams.StampedTrade]
    val joined = Streams.quotedTradesOuter(tmem.toDF(), qmem.toDF(),
      lookback = "15 minutes", watermark = "5 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("qto").start()
    try {
      qmem.addData(Streams.Quote("AAA", ts(10), 11.0))
      tmem.addData(Streams.StampedTrade("AAA", ts(20), 5.0), // matched
        Streams.StampedTrade("CCC", ts(20), 7.0))            // no quote ever
      q.processAllAvailable()
      // CCC can't emit yet: a 15-min-lookback quote could still arrive
      val early = spark.sql("SELECT symbol FROM qto").as[String].collect()
      assert(!early.contains("CCC"))
      // advance the watermark well past CCC's window on BOTH streams
      qmem.addData(Streams.Quote("ZZZ", ts(120), 1.0))
      tmem.addData(Streams.StampedTrade("ZZZ", ts(120), 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql("SELECT symbol, qty, price FROM qto")
      .as[(String, Double, Option[Double])].collect().toSet
    // AAA matched its quote; CCC emitted null-padded — not dropped
    assert(got.contains(("AAA", 5.0, Some(11.0))))
    assert(got.contains(("CCC", 7.0, None)), got.toString)
  }

  test("quotedTradesFull: BOTH unmatched sides null-pad once the watermark closes their windows") {
    implicit val sqlCtx = spark.sqlContext
    val qmem = MemoryStream[Streams.Quote]
    val tmem = MemoryStream[Streams.StampedTrade]
    val joined = Streams.quotedTradesFull(tmem.toDF(), qmem.toDF(),
      lookback = "15 minutes", watermark = "5 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("qtf").start()
    try {
      qmem.addData(Streams.Quote("AAA", ts(10), 11.0), // matched below
        Streams.Quote("DDD", ts(10), 44.0))            // no trade ever
      tmem.addData(Streams.StampedTrade("AAA", ts(20), 5.0), // matched
        Streams.StampedTrade("CCC", ts(20), 7.0))            // no quote ever
      q.processAllAvailable()
      // neither orphan can emit yet: CCC's lookback window could still
      // receive a quote, and a future trade could still look back at
      // DDD's quote — watermark eviction is what releases them
      val early = spark.sql("SELECT symbol FROM qtf").as[String].collect()
      assert(!early.contains("CCC") && !early.contains("DDD"), early.toSeq)
      // advance the watermark well past both windows on BOTH streams
      qmem.addData(Streams.Quote("ZZZ", ts(120), 1.0))
      tmem.addData(Streams.StampedTrade("ZZZ", ts(120), 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql("SELECT symbol, qty, price FROM qtf")
      .as[(String, Option[Double], Option[Double])].collect().toSet
    // AAA matched; trade-only CCC null-pads the quote side; quote-only
    // DDD null-pads the trade side — neither row is dropped
    assert(got.contains(("AAA", Some(5.0), Some(11.0))))
    assert(got.contains(("CCC", Some(7.0), None)), got.toString)
    assert(got.contains(("DDD", None, Some(44.0))), got.toString)
  }

  test("enrichStream keeps dim-miss rows with nulls — never drops an event") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("uid", "tier")
    val mem = MemoryStream[(Long, Long)]
    val enriched = Streams.enrichStream(
      mem.toDF().toDF("event_id", "uid"), dim, "uid")
    val q = enriched.writeStream.format("memory")
      .queryName("st_enrich_spec").outputMode("append").start()
    try {
      mem.addData((10L, 1L), (11L, 9L)) // uid 9 has no dim row
      q.processAllAvailable()
      mem.addData((12L, 2L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("st_enrich_spec")
      .select("event_id", "uid", "tier")
      .as[(Long, Long, Option[String])].collect().toSet
    assert(got == Set((10L, 1L, Some("gold")), (11L, 9L, None),
      (12L, 2L, Some("silver"))), got.toString)
  }

  test("sessionize closes sessions after the inactivity gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Event]
    val q = Streams.sessionize(mem.toDS(), gapMs = 5 * 60 * 1000).writeStream
      .outputMode("append").format("memory").queryName("sess").start()
    // user 1: two events close together, then a 20-minute gap, then one more
    mem.addData(Streams.Event(1L, ts(0), 1.0), Streams.Event(1L, ts(2), 2.0),
      Streams.Event(1L, ts(25), 10.0))
    q.processAllAvailable()
    val got = spark.sql("SELECT user_id, n_events, total FROM sess")
      .as[(Long, Long, Double)].collect().toSeq
    q.stop()
    assert(got == Seq((1L, 2L, 3.0))) // first session emitted; second still open
  }

  test("sessionize flushes the trailing session via event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Event]
    val q = Streams.sessionize(mem.toDS(), gapMs = 5 * 60 * 1000).writeStream
      .outputMode("append").format("memory").queryName("sess_to").start()
    mem.addData(Streams.Event(1L, ts(0), 4.0))
    q.processAllAvailable()
    // a much later event from ANOTHER user advances the watermark past
    // user 1's gap; the event-time timeout flushes user 1's open session
    mem.addData(Streams.Event(2L, ts(30), 1.0))
    q.processAllAvailable()
    val got = spark.sql(
        "SELECT user_id, n_events, total, closed_by_timeout FROM sess_to")
      .as[(Long, Long, Double, Boolean)].collect().toSet
    q.stop()
    assert(got.contains((1L, 1L, 4.0, true)), s"trailing session not flushed: $got")
  }

  test("ingestSink lands epochs in the Layout; high-water guard stops replays") {
    implicit val sqlCtx = spark.sqlContext
    val root = scratchDir("graft_ingest_spec") + "/tbl"
    def row(i: Long) =
      (i, java.sql.Timestamp.valueOf(f"2024-01-${i % 27 + 1}%02d 00:00:00"),
        s"s${i % 3}", i.toDouble)
    val all = (1L to 30L).map(row)
    val mem = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val q = Streams.ingestSink(
      mem.toDF().toDF("id", "ts", "sym", "v"), root,
      symbol = "sym", time = "ts", nBuckets = 2, filesPerBucket = 2)
    try {
      all.grouped(10).foreach { b => mem.addData(b); q.processAllAvailable() }
    } finally q.stop()
    def tableIds = graft.catalog.Layout
      .read(spark, root, "sym", "ts", numBuckets = 2)
      .select("id").as[Long].collect().toSeq.sorted
    assert(tableIds == (1L to 30L), s"lossless ingest broken: $tableIds")
    // epoch-tagged parts committed: one per non-empty batch
    val parts = graft.catalog.SnapshotManifest
      .currentParts(spark, root).getOrElse(Seq.empty)
    assert(parts.count(_.matches(".*_e\\d+$")) == 3, parts.toString)
    // a query restarted WITHOUT its checkpoint re-delivers the same
    // data under restarted epoch ids → guard must skip, not duplicate
    val mem2 = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val q2 = Streams.ingestSink(
      mem2.toDF().toDF("id", "ts", "sym", "v"), root,
      symbol = "sym", time = "ts", nBuckets = 2, filesPerBucket = 2)
    try {
      mem2.addData(all.take(10)); q2.processAllAvailable()
    } finally q2.stop()
    assert(tableIds == (1L to 30L), "replayed epoch was re-applied")
  }

  test("mvLogRefreshSink: exactly-once ingest + log-driven star heal, idempotent after stop") {
    implicit val sqlCtx = spark.sqlContext
    val root = scratchDir("graft_mvlog")
    val factP = root + "/fact"
    val dimP = root + "/dim"
    val name = "spec_mvlog"
    graft.catalog.Layout.writeClusteredZoned(
      (1 to 100).map(i => (i.toLong % 10 + 1, s"S${i % 2}", i.toLong, i.toLong))
        .toDF("ck", "status", "price", "ts"),
      factP, "status", "ts", numBuckets = 2, filesPerBucket = 2)
    graft.catalog.Layout.writeClusteredZoned(
      (1 to 10).map(i => (i.toLong, s"G${i % 3}")).toDF("ck2", "seg"),
      dimP, "seg", "ck2", numBuckets = 2, filesPerBucket = 2)
    try {
      graft.plans.Mv.buildJoin(
        spark.read.parquet(factP).select("ck", "status", "price"),
        spark.read.parquet(dimP).select("ck2", "seg"),
        name, on = Seq("ck" -> "ck2"), dims = Seq("seg"),
        measures = Seq("price"), mvPath = root + "/mv")
      val mem = MemoryStream[(Long, String, Long, Long)]
      val q = Streams.mvLogRefreshSink(
        mem.toDF().toDF("ck", "status", "price", "ts"),
        factP, symbol = "status", time = "ts", mvName = name,
        nBuckets = 2, filesPerBucket = 2,
        checkpointLocation = Some(root + "/_cp"))
      try {
        mem.addData((101 to 150).map(i =>
          (i.toLong % 10 + 1, s"S${i % 2}", i.toLong, i.toLong)))
        q.processAllAvailable()
        mem.addData((151 to 200).map(i =>
          (i.toLong % 10 + 1, s"S${i % 2}", i.toLong, i.toLong)))
        q.processAllAvailable()
      } finally q.stop()
      // the summary equals the from-scratch join over ALL 200 rows
      val d = graft.plans.MvCatalog.get(name).get
      val got = spark.read.parquet(d.mvPath)
        .groupBy("seg").agg(sum("sum_price").as("rev"), sum("cnt").as("n"))
        .orderBy("seg").collect().toSeq
      val exp = spark.read.parquet(factP)
        .join(spark.read.parquet(dimP), col("ck") === col("ck2"), "inner")
        .groupBy("seg").agg(sum("price").as("rev"), count(lit(1)).as("n"))
        .orderBy("seg").collect().toSeq
      assert(got == exp, s"$got vs $exp")
      // the log already covers everything — another refresh no-ops
      assert(graft.plans.Mv.refreshFromLog(spark, name).mvPath == d.mvPath)
    } finally graft.plans.MvCatalog.unregister(name)
  }

  test("corpusDedupSink self-compacts the index once parts exceed the threshold") {
    implicit val sqlCtx = spark.sqlContext
    val root = scratchDir("graft_cds")
    val idx = root + "/idx"
    val outP = root + "/admitted"
    graft.pipeline.LshIndex.build(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), idx,
      "doc_id", "text", n = 3, k = 32, bands = 16)
    val mem = MemoryStream[(Long, String)]
    // threshold 4: epoch 2's append (2 build + 2×2 appended = 6
    // parts) must trigger an inline compactIndex back to one
    // lb_/lf_ pair
    val q = Streams.corpusDedupSink(mem.toDF().toDF("doc_id", "text"),
      idx, outP, checkpointLocation = Some(root + "/_cp"),
      compactAtParts = 4)
    def doc(i: Long) = (i, s"unique words number $i alpha beta gamma delta")
    try {
      mem.addData(doc(1), doc(2)); q.processAllAvailable()
      mem.addData(doc(3), (103L, doc(3)._2)); q.processAllAvailable()
      val parts = graft.catalog.SnapshotManifest.currentParts(spark, idx).get
      assert(parts.size == 2 && parts.exists(_.startsWith("lb_")),
        s"sink must have self-compacted: $parts")
      // dedup state survives the compaction: a replay of doc 2 is
      // dropped, novel docs admitted
      mem.addData((202L, doc(2)._2), doc(4)); q.processAllAvailable()
      mem.addData(doc(5)); q.processAllAvailable()
    } finally q.stop()
    val ids = spark.read.parquet(outP)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L, 4L, 5L),
      s"compaction must not lose or re-admit corpus content: $ids")
  }
}
