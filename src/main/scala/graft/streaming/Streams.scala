package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming surface — the natural streaming extension of
  * the reference's batch/OLTP model (SURVEY §1.3): the `Transaction`
  * ledger and trade flow become streams; balances/holdings stay the
  * same event-sourced folds, now incrementally maintained.
  *
  * Everything here works identically on `readStream` sources and on
  * batch frames (used by the batch-equivalence oracle queries):
  * transformations are source-agnostic.
  */
object Streams {

  /** Watermarked tumbling-window aggregation over an event stream —
    * counts + exact DECIMAL sums per (window, event_type). Late rows
    * beyond the watermark are dropped; state is bounded by
    * (#windows in watermark) × (#types). */
  def windowedEventAgg(events: DataFrame, windowLen: String,
                       watermark: String = "10 minutes"): DataFrame = {
    val base = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    base
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("total"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("total"))
  }

  /** Streaming deposit/withdraw ledger → running balances per account
    * (U5 as a stream): aggregation state is one (sum, count) pair per
    * account, updated incrementally in Complete/Update mode. */
  def balanceStream(ledger: DataFrame, account: String): DataFrame =
    ledger.groupBy(col(account))
      .agg(sum(col("value").cast("decimal(18,2)")).as("balance"),
        count(lit(1)).as("n_tx"))

  case class StreamTrade(portfolio: Long, symbol: String, ts: Long, seq: Long,
                         side: String, qty: Double, price: Double)
  case class PositionState(shares: Double, avg: Double, rejected: Long,
                           n: Long)
  case class HoldingUpdate(portfolio: Long, symbol: String,
                           shares: Double, avg_cost: Double, n_rejected: Long,
                           n_trades: Long)

  /** Streaming holdings maintenance: the avg-cost fold (U6/U7,
    * graft.domain.Trading semantics) applied incrementally — state is
    * one Position per (portfolio, symbol); each micro-batch folds its
    * (time-ordered) trades into the running state and emits the
    * updated holding. The streaming form of event-sourced Holdings:
    * replaying the whole log through this yields exactly
    * Trading.replay of the log. `n_trades` counts every trade folded
    * into the position — a monotone per-key version stamp, so
    * downstream consumers (and the st6 gate) can pick the latest
    * update per key without relying on arrival order. */
  def holdingsStream(trades: Dataset[StreamTrade]): Dataset[HoldingUpdate] = {
    import trades.sparkSession.implicits._
    trades.groupByKey(t => (t.portfolio, t.symbol))
      .flatMapGroupsWithState[PositionState, HoldingUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: (Long, String), rows: Iterator[StreamTrade],
         state: GroupState[PositionState]) =>
          var st = state.getOption.getOrElse(PositionState(0.0, 0.0, 0L, 0L))
          rows.toSeq.sortBy(t => (t.ts, t.seq)).foreach { t =>
            if (t.side == "BUY") {
              if (st.shares == 0.0)
                st = PositionState(t.qty, t.price, st.rejected, st.n + 1)
              else st = PositionState(st.shares + t.qty,
                (st.avg * st.shares + t.price * t.qty) / (st.shares + t.qty),
                st.rejected, st.n + 1)
            } else {
              if (t.qty > st.shares)
                st = st.copy(rejected = st.rejected + 1, n = st.n + 1)
              else {
                val s2 = st.shares - t.qty
                st = PositionState(s2, if (s2 == 0.0) 0.0 else st.avg,
                  st.rejected, st.n + 1)
              }
            }
          }
          state.update(st)
          Iterator.single(HoldingUpdate(key._1, key._2, st.shares, st.avg,
            st.rejected, st.n))
      }
  }

  /** Streaming MERGE sink: each micro-batch upserts into a
    * snapshot-versioned keyed table (graft.analytics.StatsCache) —
    * the streaming write-back path for incrementally maintained
    * aggregates (outputMode Update + foreachBatch upsert ≡ MERGE
    * into a table format at production scale). Returns the started
    * query. */
  def upsertSink(updates: DataFrame, path: String, keys: Seq[String]): StreamingQuery =
    updates.writeStream.outputMode("update")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        new graft.analytics.StatsCache(batch.sparkSession, path, keys)
          .writeBack(batch)
      }
      .start()

  /** Parsed `_latest` manifest of an [[scd2Sink]] table: the epoch
    * that wrote it, the sink's bucket count (enables key→bucket
    * pruning at read time; None on manifests written before it was
    * recorded), and the current data directory of every key bucket
    * (paths relative to the table root). */
  private[streaming] case class Scd2Manifest(epoch: Long,
                                             buckets: Map[Int, String],
                                             nBuckets: Option[Int] = None) {
    def serialize: String =
      (Seq(s"epoch $epoch") ++ nBuckets.map(n => s"nbuckets $n") ++
        buckets.toSeq.sortBy(_._1)
          .map { case (b, p) => s"$b $p" }).mkString("\n")
  }

  private[streaming] def readScd2Manifest(
      fs: org.apache.hadoop.fs.FileSystem,
      pointer: org.apache.hadoop.fs.Path): Option[Scd2Manifest] =
    if (!fs.exists(pointer)) None
    else {
      val in = fs.open(pointer)
      val text = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      val lines = text.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
      val epoch = lines.head.stripPrefix("epoch ").trim.toLong
      val nb = lines.tail.headOption.filter(_.startsWith("nbuckets "))
        .map(_.stripPrefix("nbuckets ").trim.toInt)
      val buckets = lines.tail.filterNot(_.startsWith("nbuckets ")).map { l =>
        val Array(b, p) = l.split(" ", 2)
        b.toInt -> p
      }.toMap
      Some(Scd2Manifest(epoch, buckets, nb))
    }

  /** Key-hash bucket of a history row — the COW granule of
    * [[scd2Sink]]'s storage. */
  private def scd2Bucket(keys: Seq[String], nBuckets: Int) =
    pmod(xxhash64(keys.map(col): _*), lit(nBuckets)).cast("int")

  /** Streaming type-2 SCD maintenance: each micro-batch of dimension
    * changes merges into a persisted history table via
    * [[graft.ops.Scd.merge]] — only batch-affected keys are
    * re-historized; everything else passes through untouched.
    *
    * Storage is INCREMENTAL, not a full-table snapshot: the history is
    * partitioned into `nBuckets` key-hash buckets, each epoch
    * copy-on-writes ONLY the buckets containing batch-affected keys
    * (into `epoch_<e>/__kb=<b>/`), and a `_latest` manifest mapping
    * bucket → current directory is atomically flipped. Write cost per
    * epoch is O(affected buckets), never O(full history) — the merge
    * plan is already pruned to the same keys. Pick `nBuckets` so one
    * bucket's history fits a comfortable write job (e.g. 1024 buckets
    * for a 1 TB dimension → ~1 GB COW per touched bucket).
    *
    * Single WRITER; readers resolve the manifest per read. Superseded
    * bucket directories are kept for ONE extra flip (a directory is
    * deleted only once no longer referenced by the current NOR the
    * previous manifest), so a reader that resolved `_latest` just
    * before a flip can still open its files on object stores with no
    * delete-on-last-close semantics; a reader older than two flips
    * must re-resolve and retry on FileNotFound.
    *
    * RESTART DURABILITY: pass `checkpointLocation` (a durable path)
    * with a replayable source and a restarted query resumes at the
    * next uncommitted epoch — already-applied batches are never
    * re-delivered. The manifest's epoch is additionally a HIGH-WATER
    * mark: any epoch ≤ the manifest's is skipped as already durable,
    * which makes the crash-between-flip-and-commit retry idempotent
    * AND protects history from a mis-restarted query (no/lost
    * checkpoint ⇒ epoch ids restart at 0 ⇒ re-delivered data is
    * ignored rather than re-merged as duplicates — recover by
    * restarting WITH the original checkpoint). */
  def scd2Sink(changes: DataFrame, root: String, keys: Seq[String],
               ts: String, ord: String, attrs: Seq[String],
               nBuckets: Int = 16,
               checkpointLocation: Option[String] = None): StreamingQuery = {
    // derive the FS from the root path, not fs.defaultFS: a root on
    // another scheme (s3a:// under an HDFS default) must not resolve
    // against the wrong filesystem
    def manifest(s: SparkSession) = {
      val fs = graft.catalog.SnapshotManifest.fsOf(s, root)
      (fs, readScd2Manifest(fs, new org.apache.hadoop.fs.Path(root, "_latest")))
    }
    epochSink(changes, s"scd2Sink($root)", checkpointLocation,
        manifest(_)._2.fold(-1L)(_.epoch)) { (batch, epoch) =>
      val s = batch.sparkSession
      val (fs, current) = manifest(s)
      val bucketed = batch.toDF()
        .withColumn("__kb", scd2Bucket(keys, nBuckets))
      // affected buckets: bounded by nBuckets, not by batch rows
      val affected = bucketed.select(col("__kb")).distinct()
        .collect().map(_.getInt(0)).sorted
      val priorDirs = current.toSeq.flatMap(m =>
        affected.flatMap(m.buckets.get)).distinct
      val merged = if (priorDirs.isEmpty)
        graft.ops.Scd.historize(batch.toDF(), keys, ts, ord, attrs)
      else {
        // only the affected buckets' history is read — the rest of
        // the table is untouched on disk AND unread by the plan
        val history = s.read.parquet(priorDirs.map(root + "/" + _): _*)
        graft.ops.Scd.merge(history, batch.toDF(), keys, ts, ord, attrs)
      }
      val epochDir = s"epoch_$epoch"
      merged.withColumn("__kb", scd2Bucket(keys, nBuckets))
        .repartition(col("__kb"))
        .sortWithinPartitions(keys.map(col) :+ col("valid_from"): _*)
        .write.mode("overwrite").partitionBy("__kb")
        .parquet(root + "/" + epochDir)
      // zone rows for the rewritten buckets — per-bucket min/max
      // valid_from (the Layout `_zonemap` shape, natively typed),
      // aggregated from the just-written files (column-pruned,
      // affected buckets only) and landed INSIDE the epoch dir
      // BEFORE the flip: they share the epoch's crash-atomicity
      // and GC lifetime, and [[scd2History]] range reads skip
      // whole buckets by them without opening any data footer
      val epochPath = root + "/" + epochDir
      if (affected.nonEmpty) // an empty batch writes no bucket dirs
        s.read.option("basePath", epochPath)
          .parquet(affected.map(b => s"$epochPath/__kb=$b").toIndexedSeq: _*)
          .groupBy(col("__kb").cast("int").as("__kb"))
          .agg(min(col("valid_from")).as("zmin"),
            max(col("valid_from")).as("zmax"))
          .coalesce(1).write.mode("overwrite")
          .parquet(epochPath + "/_zones")
      val next = Scd2Manifest(epoch,
        current.map(_.buckets).getOrElse(Map.empty) ++
          affected.map(b => b -> s"$epochDir/__kb=$b"),
        Some(nBuckets))
      // atomic manifest flip: the bucket map IS the pointer text
      graft.catalog.SnapshotManifest.flip(s, root, next.serialize)
      // keep-last-2 GC: a bucket dir is live while the NEW or the
      // PREVIOUS manifest references it; anything older was
      // superseded two flips ago and no well-behaved reader can
      // still hold it (store-agnostic — no reliance on HDFS
      // delete-on-last-close)
      val live = next.buckets.values.toSet ++
        current.toSeq.flatMap(_.buckets.values)
      val epochDirs = fs.globStatus(
        new org.apache.hadoop.fs.Path(root, "epoch_*"))
      epochDirs.foreach { ed =>
        val kept = fs.listStatus(ed.getPath).filter { kb =>
          val rel = ed.getPath.getName + "/" + kb.getPath.getName
          if (kb.getPath.getName.startsWith("__kb=") && !live(rel)) {
            fs.delete(kb.getPath, true); false
          } else true
        }
        if (!kept.exists(_.getPath.getName.startsWith("__kb=")))
          fs.delete(ed.getPath, true) // only _SUCCESS markers left
      }
    }
  }

  /** Read the current SCD2 history maintained by [[scd2Sink]]: resolve
    * the manifest, read the union of every bucket's current directory.
    * Lazy like any DataFrame — re-resolve on FileNotFound if more than
    * one flip elapsed between planning and execution.
    *
    * PRUNED READS (both prunings happen on manifest/zone METADATA —
    * non-matching bucket directories never reach the scan's file list,
    * the [[graft.catalog.Layout.read]] discipline):
    *   - `keyEq`: (column → literal) pairs for the sink's key columns
    *     IN THE SINK'S KEY ORDER, with literal types matching the
    *     columns' — the key's bucket is computed from the manifest's
    *     recorded bucket count and only that directory is read;
    *   - `validFromRange`: inclusive (lo, hi) literal bounds on
    *     `valid_from` — buckets whose zone rows ([[scd2Sink]]'s
    *     `_zones`) don't overlap are skipped; epochs written before
    *     zone emission are read unpruned (never dropped).
    * Exact predicates are re-applied on the pruned scan, so the result
    * always equals the plain filter over the full history. */
  def scd2History(spark: org.apache.spark.sql.SparkSession,
                  root: String,
                  validFromRange: Option[(Column, Column)] = None,
                  keyEq: Seq[(String, Column)] = Nil): DataFrame = {
    val pointer = new org.apache.hadoop.fs.Path(root, "_latest")
    val fs = pointer.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = readScd2Manifest(fs, pointer).getOrElse(
      throw new java.io.FileNotFoundException(s"$root/_latest"))
    val afterKey: Map[Int, String] =
      if (keyEq.isEmpty) m.buckets
      else {
        val n = m.nBuckets.getOrElse(throw new IllegalStateException(
          s"$root/_latest predates bucket-count tracking — re-run the " +
            "sink once (any epoch) to upgrade before key-pruned reads"))
        val b = spark.range(1)
          .select(pmod(xxhash64(keyEq.map(_._2): _*), lit(n)).cast("int"))
          .head.getInt(0)
        m.buckets.filter(_._1 == b)
      }
    val live: Map[Int, String] = validFromRange.fold(afterKey) {
      case (lo, hi) =>
        afterKey.groupBy(_._2.takeWhile(_ != '/')).flatMap {
          case (epochDir, bs) =>
            val zp = new org.apache.hadoop.fs.Path(root, epochDir + "/_zones")
            if (!fs.exists(zp)) bs // pre-zone epoch: never skip
            else {
              val keep = spark.read.parquet(zp.toString)
                .filter(col("zmax") >= lo && col("zmin") <= hi)
                .select(col("__kb")).collect().map(_.getInt(0)).toSet
              bs.filter(kv => keep(kv._1))
            }
        }
    }
    val dirs = live.values.toSeq.distinct.map(root + "/" + _)
    val base =
      if (dirs.nonEmpty) spark.read.parquet(dirs: _*)
      else // nothing overlaps — empty frame, schema from any live file
        spark.read.parquet(m.buckets.values.headOption
          .map(root + "/" + _).getOrElse(
            throw new java.io.FileNotFoundException(s"$root: empty manifest")))
          .limit(0)
    val keyed = keyEq.foldLeft(base) { case (df, (k, v)) =>
      df.filter(col(k) === v)
    }
    validFromRange.fold(keyed) { case (lo, hi) =>
      keyed.filter(col("valid_from") >= lo && col("valid_from") <= hi)
    }
  }

  /** Streaming exact dedup — the training-pipeline ingest guard
    * (graft.pipeline.Dedup.exact as a stream): drop any document
    * whose normalized-content fingerprint was already seen within the
    * watermark horizon. State is one 16-byte fingerprint per doc,
    * EVICTED once the watermark passes (dropDuplicatesWithinWatermark)
    * — bounded state where a plain dropDuplicates would grow forever
    * on an unbounded corpus stream. Batch frames keep the earliest-ts
    * row per fingerprint DETERMINISTICALLY (full-row tiebreak on ts
    * ties) — the batch twin of the stream's first-arrival-wins. */
  def dedupStream(docs: DataFrame, ts: String, text: String,
                  watermark: String = "10 minutes"): DataFrame = {
    val keyed = docs.withColumn("__fp",
      graft.pipeline.TextAnalysis.fingerprintMd5(col(text)))
    val out =
      if (docs.isStreaming)
        keyed.withWatermark(ts, watermark).dropDuplicatesWithinWatermark("__fp")
      else graft.ops.Kernels.dedupExactKeys(keyed, Seq("__fp"),
        struct(col(ts) +:
          docs.columns.filterNot(_ == ts).map(col).toSeq: _*))
    out.drop("__fp")
  }

  /** Perceptual 64-bit fingerprint column for a media payload: audio
    * rides [[graft.pipeline.Multimodal.audioFingerprint64]], anything
    * else tries the image pHash. A udf is justified here the same way
    * mapPartitions is in Multimodal: JDK codecs have no Catalyst
    * expression form — and the streaming dedup below needs a COLUMN
    * (to compose with withWatermark/dropDuplicatesWithinWatermark),
    * which mapPartitions can't provide without destroying the row
    * shape. NULL for payloads nothing decodes. */
  private val mediaFp = udf((mediaType: String, payload: Array[Byte]) =>
    (try {
      if (mediaType != null && mediaType.startsWith("audio/"))
        graft.pipeline.Multimodal.audioFingerprint64(payload)
      else graft.pipeline.Multimodal.pHash64(payload)
    } catch { case scala.util.control.NonFatal(_) => None }): Option[Long])

  /** Streaming MEDIA near-dup filter at ingest — [[dedupStream]]'s
    * multimodal twin: fingerprint each clip/image perceptually
    * (sample-rate/resize-invariant — mm6/mm7's hashes), then drop
    * later arrivals with the SAME fingerprint inside the watermark
    * horizon. This is the shape a crawled-media pipeline needs at
    * 100 TB: per-record state is ONE (fingerprint) key bounded by the
    * watermark, the codec runs once per record at ingest (never a
    * corpus-wide join), and resampled/re-encoded copies — invisible
    * to byte-level keys — collapse. UNDECODABLE payloads pass through
    * unconditionally (keyed by their own id + a decode-failed marker,
    * so two broken rows never swallow each other): dedup may only
    * drop rows it can PROVE duplicate; quarantine-vs-keep is the
    * caller's policy, not the filter's. Batch frames take the
    * deterministic earliest-`ts` survivor per fingerprint. */
  def mediaDedupStream(media: DataFrame, ts: String,
                       watermark: String = "10 minutes",
                       idCol: String = "media_id",
                       typeCol: String = "media_type",
                       payloadCol: String = "payload"): DataFrame = {
    // Three-part dedup key:
    //  __k    fingerprint for decodable rows, NULL otherwise
    //  __kid  the row's OWN id (as-is, any type) for undecodable rows,
    //         NULL otherwise — so broken rows never swallow each other
    //         and the id column needs no numeric cast
    //  __mod  modality — audioFingerprint64 and pHash64 are unrelated
    //         hash families sharing one 64-bit space, so without this a
    //         cross-modality birthday collision (likely at corpus
    //         scale) would silently drop a non-duplicate
    val keyed = media
      .withColumn("__fp", mediaFp(col(typeCol), col(payloadCol)))
      .withColumn("__k", col("__fp"))
      .withColumn("__kid", when(col("__fp").isNull, col(idCol)))
      .withColumn("__mod",
        when(col(typeCol).startsWith("audio/"), "audio")
          .otherwise("image"))
    val keys = Seq("__k", "__kid", "__mod")
    val out =
      if (media.isStreaming)
        keyed.withWatermark(ts, watermark)
          .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)
      else graft.ops.Kernels.dedupExactKeys(
        keyed, keys,
        struct(col(ts) +:
          media.columns.filterNot(_ == ts).map(col).toSeq: _*))
    out.drop("__fp" +: keys: _*)
  }

  case class Quote(symbol: String, qts: java.sql.Timestamp, price: Double)
  case class StampedTrade(symbol: String, tts: java.sql.Timestamp, qty: Double)

  /** Watermarked stream-stream enrichment join: each trade picks up
    * the quotes within `lookback` BEFORE it on the same symbol (an
    * interval join — the streaming cousin of the batch as-of join;
    * downstream latest-per-key collapses it to the as-of quote).
    * Both sides carry watermarks so Spark can bound the join state:
    * buffered rows are evicted once the watermark passes the interval
    * — without the time bound a stream-stream join holds both
    * streams' history forever. */
  def quotedTrades(trades: DataFrame, quotes: DataFrame,
                   lookback: String = "15 minutes",
                   watermark: String = "10 minutes"): DataFrame =
    quotedJoin(trades, quotes, lookback, watermark, "inner")

  /** LEFT OUTER form of [[quotedTrades]] — the join that answers
    * "which trades had NO quote context": a trade with no in-window
    * quote still emits, null-padded on the quote columns, once the
    * WATERMARK passes the end of its lookback window (Spark can only
    * declare "no match will ever arrive" when late quotes are ruled
    * out — the standard outer stream-stream contract; in batch it is
    * a plain left join). Same state bound as the inner form: both
    * sides' buffers evict at the watermark. */
  def quotedTradesOuter(trades: DataFrame, quotes: DataFrame,
                        lookback: String = "15 minutes",
                        watermark: String = "10 minutes"): DataFrame =
    quotedJoin(trades, quotes, lookback, watermark, "leftOuter")

  /** FULL OUTER form of [[quotedTrades]] — BOTH unmatched sides emit:
    * a trade with no in-window quote null-pads the quote columns (the
    * left-outer behavior), AND a quote no trade ever looked back at
    * null-pads the trade columns — the "which quotes went unused"
    * question the left form cannot answer. Each side's null-pad
    * releases only once the WATERMARK rules out a future match for it
    * (for a quote: when no trade whose lookback window still covers
    * qts can arrive). `symbol` surfaces from whichever side is
    * present. Same state bound as the inner form — both buffers evict
    * at the watermark; in batch it is a plain full join. */
  def quotedTradesFull(trades: DataFrame, quotes: DataFrame,
                       lookback: String = "15 minutes",
                       watermark: String = "10 minutes"): DataFrame =
    quotedJoin(trades, quotes, lookback, watermark, "fullOuter")

  private def quotedJoin(trades: DataFrame, quotes: DataFrame,
                         lookback: String, watermark: String,
                         joinType: String): DataFrame = {
    val t = (if (trades.isStreaming) trades.withWatermark("tts", watermark)
             else trades).alias("t")
    val q = (if (quotes.isStreaming) quotes.withWatermark("qts", watermark)
             else quotes).alias("q")
    // full-outer rows born on the quote side have a NULL t.symbol —
    // surface whichever side exists (the join key guarantees they
    // agree when both do)
    val sym = if (joinType == "fullOuter")
      coalesce(col("t.symbol"), col("q.symbol"))
    else col("t.symbol")
    t.join(q,
      col("t.symbol") === col("q.symbol") &&
        col("q.qts") <= col("t.tts") &&
        col("q.qts") >= col("t.tts") - expr(s"INTERVAL $lookback"),
      joinType)
      .select(sym.as("symbol"), col("t.tts").as("tts"),
        col("t.qty").as("qty"), col("q.qts").as("qts"),
        col("q.price").as("price"))
  }

  case class Event(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(nEvents: Long, total: Double, lastTs: Long)
  case class SessionOut(user_id: Long, n_events: Long, total: Double,
                        closed_by_timeout: Boolean)

  /** Session tracking with custom state (flatMapGroupsWithState) —
    * the KeyValueGroupedDataset path for logic windows can't express:
    * a session closes after `gapMs` of inactivity per user, emitting
    * one summary row. State per key is O(1).
    *
    * Two close triggers, both in EVENT time: an event arriving
    * > gapMs after its predecessor closes the previous session
    * in-batch, and an event-time timeout at lastTs + gapMs flushes
    * the TRAILING session of an idle user once the WATERMARK passes
    * that point — without it that session would be held until the
    * user's next event, i.e. possibly forever. The watermark only
    * advances with incoming data (any user), which is the standard
    * event-time contract: a fully idle stream holds its last
    * sessions open. (ProcessingTimeTimeout deliberately not used:
    * wall-clock timeouts make the query permanently "due another
    * batch", which busy-loops the trigger and breaks
    * processAllAvailable-style draining.)
    *
    * Late-data contract (standard watermark semantics): streaming
    * input rows with ts older than (max seen ts − watermarkDelay) are
    * DROPPED before they reach the state function. watermarkDelay is
    * therefore the out-of-order tolerance — size it to the source's
    * real disorder; batch runs apply no watermark and drop nothing. */
  def sessionize(events: Dataset[Event], gapMs: Long,
                 watermarkDelay: String = "10 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val src =
      if (events.isStreaming) events.withWatermark("ts", watermarkDelay)
      else events
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed lastTs + gapMs: flush the open session
            val st = state.get
            state.remove()
            if (st.nEvents > 0)
              Iterator.single(
                SessionOut(uid, st.nEvents, st.total, closed_by_timeout = true))
            else Iterator.empty
          } else {
            var st = state.getOption.getOrElse(SessionState(0L, 0.0, Long.MinValue))
            val out = scala.collection.mutable.ListBuffer.empty[SessionOut]
            rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
              val t = e.ts.getTime
              if (st.nEvents > 0 && t - st.lastTs > gapMs) {
                out += SessionOut(uid, st.nEvents, st.total, closed_by_timeout = true)
                st = SessionState(0L, 0.0, Long.MinValue)
              }
              st = SessionState(st.nEvents + 1, st.total + e.value, t)
            }
            state.update(st)
            // batch runs have no watermark and never fire timeouts —
            // setting one there is unsupported, and unnecessary
            try state.setTimeoutTimestamp(st.lastTs + gapMs)
            catch { case _: UnsupportedOperationException => () }
            out.iterator
          }
      }
  }

  /** Stream–static enrichment: LEFT-join each micro-batch against a
    * batch dimension table, keeping every stream row (a dim miss
    * yields nulls downstream can route — never a silent drop of an
    * event because a dimension row lagged). Structured Streaming
    * re-plans the static side per micro-batch, so a dim backed by a
    * snapshot table ([[graft.analytics.StatsCache]] / Layout `_latest`)
    * picks up dimension updates between batches with no restart.
    *
    * The dim is broadcast (explicitly — dimension tables are the
    * canonical broadcast side); stateless, so no watermark needed and
    * append mode is exact. For a dim too large to broadcast, drop the
    * hint and pre-bucket both sides on the key. */
  def enrichStream(stream: DataFrame, dim: DataFrame,
                   key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Epoch tag appended to a manifest part name by [[ingestSink]];
    * parsed back for the high-water guard. Default Layout part names
    * (`m_<ms>_<nano>`) never contain `_e`, so the parse is exact. */
  private val IngestEpochTag = "_e(\\d+)$".r.unanchored

  /** Epoch-stamped state-snapshot dir name used by [[viewSink]]. */
  private val ViewEpochTag = "^state_e(\\d+)$".r

  /** The current state of a [[viewSink]]-maintained view, if any
    * epoch has committed. Readable concurrently with the running
    * stream: the keep-last-2 GC leaves the previous snapshot on disk
    * through one further epoch. */
  def viewState(spark: org.apache.spark.sql.SparkSession,
                root: String): Option[DataFrame] =
    graft.catalog.SnapshotManifest.currentSnap(spark, root)
      .map(c => spark.read.parquet(s"$root/$c"))

  /** CONTINUOUSLY-MAINTAINED AGGREGATE VIEW over a change-data
    * stream — the streaming face of
    * [[graft.ops.IncrementalAgg.applyChangeFeed]] (the s26 batch
    * loop): each micro-batch of insert/delete-tagged rows folds into
    * the retractable per-group state (one batch-sized signed
    * aggregation + one state-sized join — base facts never exist,
    * let alone get re-read), and the refreshed state lands as a fresh
    * `state_e<epoch>` parquet snapshot with an atomic `_latest` flip
    * ([[graft.catalog.SnapshotManifest]]'s copy-on-write read
    * contract: readers of the previous state never break).
    *
    * EXACTLY-ONCE: the epoch is the snapshot NAME, so "already
    * committed" is a property of the pointer itself — a crash between
    * the flip and the streaming commit log re-runs the epoch and the
    * high-water guard skips it; a crash before the flip re-runs it
    * against the unchanged previous state (overwrite, idempotent).
    * Empty batches commit nothing and replay as no-ops. As with
    * [[ingestSink]], a query restarted WITHOUT its checkpoint
    * re-delivers under restarted epoch ids — skipped with a loud
    * warning. Keep-last-2 GC bounds the state history. */
  def viewSink(feed: DataFrame, root: String, keys: Seq[String],
               values: Seq[String],
               checkpointLocation: Option[String] = None): StreamingQuery = {
    // the committed state snapshot and its epoch (-1 when none)
    def state(s: SparkSession) = {
      val cur = graft.catalog.SnapshotManifest.currentSnap(s, root)
      (cur, cur.collect { case ViewEpochTag(e) => e.toLong }.getOrElse(-1L))
    }
    epochSink(feed, s"viewSink($root)", checkpointLocation,
        state(_)._2) { (batch, epoch) =>
      val s = batch.sparkSession
      val (cur, hw) = state(s)
      if (!batch.isEmpty) {
        val st0 = cur.map(c => s.read.parquet(s"$root/$c")).getOrElse(
          graft.ops.IncrementalAgg.retractableState(
            batch.toDF().drop("_change_type").limit(0), keys, values))
        val st1 = graft.ops.IncrementalAgg.applyChangeFeed(
          st0, batch.toDF(), keys, values)
        val snap = s"state_e$epoch"
        st1.write.mode("overwrite").parquet(s"$root/$snap")
        graft.catalog.SnapshotManifest.flip(s, root, snap)
        // keep-last-2: the just-superseded state (epoch hw) survives
        // one more cycle for in-flight readers; older snaps go
        val fs = graft.catalog.SnapshotManifest.fsOf(s, root)
        fs.listStatus(new org.apache.hadoop.fs.Path(root)).foreach { st =>
          st.getPath.getName match {
            case ViewEpochTag(e) if st.isDirectory && e.toLong < hw =>
              fs.delete(st.getPath, true)
            case _ => ()
          }
        }
      }
    }
  }

  /** Streaming ingest into a crash-atomic clustered+zoned Layout
    * table: each micro-batch lands through
    * [[graft.catalog.Layout.appendClusteredZoned]] — O(batch) staging,
    * zone rows, and an atomic snapshot flip — so every committed
    * epoch is immediately a first-class table slice: bucket-pruned,
    * zone-skipped, time-travelable, compactable, all with the batch
    * reader ([[graft.catalog.Layout.read]]).
    *
    * EXACTLY-ONCE: the batch's manifest part is tagged with its epoch
    * (`..._e<epoch>`), so "already committed" is a property of the
    * snapshot itself — atomic with the `_latest` flip, no side file
    * with its own crash window. A crash between the flip and the
    * streaming commit log re-runs the epoch; the high-water guard
    * (epoch ≤ max committed tag) skips it. As with [[scd2Sink]], a
    * query restarted WITHOUT its checkpoint re-delivers data under
    * restarted epoch ids — skipped with a loud warning, recover by
    * restarting with the original checkpoint. Empty batches commit
    * nothing and replay as no-ops. Fragmentation from many small
    * epochs is the documented [[graft.catalog.Layout.compact]] duty.
    */
  def ingestSink(stream: DataFrame, root: String, symbol: String,
                 time: String, nBuckets: Int = 16, filesPerBucket: Int = 4,
                 checkpointLocation: Option[String] = None): StreamingQuery =
    ingestStream(stream, root, symbol, time, nBuckets, filesPerBucket,
      checkpointLocation)

  /** The exactly-once ingest under [[ingestSink]] and
    * [[mvLogRefreshSink]]: skip epochs at or below the manifest's own
    * high-water mark (the `_e<epoch>` part-name tag IS the committed
    * offset — crash replays are no-ops), else append crash-atomically;
    * `every` runs after each epoch, skipped or not. */
  private def ingestStream(stream: DataFrame, root: String,
                           symbol: String, time: String, nBuckets: Int,
                           filesPerBucket: Int,
                           checkpointLocation: Option[String],
                           every: SparkSession => Unit = _ => ())
      : StreamingQuery =
    epochSink(stream, s"ingestSink($root)", checkpointLocation,
      s => graft.catalog.SnapshotManifest.currentParts(s, root)
        .getOrElse(Seq.empty)
        .collect { case IngestEpochTag(e) => e.toLong }.maxOption
        .getOrElse(-1L), every) { (batch, epoch) =>
      graft.catalog.Layout.appendClusteredZoned(
        batch.toDF(), root, symbol, time, nBuckets, filesPerBucket,
        partName = Some(
          graft.catalog.SnapshotManifest.newPartName() + s"_e$epoch"))
    }

  /** STREAMING STAR-MV MAINTENANCE over a SNAPSHOT-LOGGED base — the
    * durable upgrade of [[mvRefreshSink]]: each micro-batch is
    * ingested into the Layout fact table exactly-once (the
    * [[ingestSink]] `_e<epoch>` manifest tag is the committed
    * offset), then the registered summary — single-table OR star,
    * however many dims — heals itself from the snapshot log
    * ([[graft.plans.Mv.refreshFromLog]]): the append window folds
    * Δ-probe-sided, O(batch + MV), and the stamp pins to the audited
    * snapshot. Because the LOG is the source of truth, this sink is
    * restart-safe where [[mvRefreshSink]] is session-scoped: a
    * replayed epoch skips the ingest AND the refresh no-ops on a
    * fresh stamp; a crash BETWEEN ingest and refresh heals on the
    * next epoch (or the next manual refresh) — the fold can never be
    * lost or double-applied. Dim-side appends land through their own
    * writers; the per-epoch refresh picks them up in the same pass. */
  def mvLogRefreshSink(stream: DataFrame, root: String, symbol: String,
                       time: String, mvName: String, nBuckets: Int = 16,
                       filesPerBucket: Int = 4,
                       checkpointLocation: Option[String] = None)
      : StreamingQuery =
    // refresh on EVERY epoch, including replayed/empty ones — the
    // pre-crash refresh may never have run; a fresh stamp makes this
    // a metadata-only no-op
    ingestStream(stream, root, symbol, time, nBuckets, filesPerBucket,
      checkpointLocation,
      s => { graft.plans.Mv.refreshFromLog(s, mvName); () })

  /** STREAMING MV MAINTENANCE — fold each micro-batch of new base
    * rows into a registered summary ([[graft.plans.Mv.refreshAppend]]):
    * O(batch + MV) per epoch, copy-on-write re-point, so rewritten
    * dashboard queries see the stream's data a micro-batch later
    * without ever re-scanning the base. Append-only streams only
    * (refreshAppend's contract — a CDC stream with deletes belongs to
    * [[viewSink]]'s retractable fold). Epoch-guarded against
    * foreachBatch replays WITHIN the session; the MV registry itself
    * is session-scoped, so a restarted session rebuilds the summary
    * rather than double-applying history — the same high-water
    * discipline as [[viewSink]], with the registry as the log. */
  def mvRefreshSink(batches: DataFrame, mvName: String,
                    checkpointLocation: Option[String] = None): StreamingQuery = {
    val applied = new java.util.concurrent.atomic.AtomicLong(-1L)
    epochSink(batches, s"mvRefreshSink($mvName)", checkpointLocation,
        _ => applied.get) { (batch, epoch) =>
      if (!batch.isEmpty)
        graft.plans.Mv.refreshAppend(batch.sparkSession, mvName,
          batch.toDF())
      applied.set(epoch)
    }
  }

  /** STREAMING CORPUS-DEDUP INGEST — the crawl-admission loop at
    * stream speed: each micro-batch of documents is deduplicated
    * IN-BATCH (exact shingle-set equality, min-id survivor) and
    * against the persisted [[graft.pipeline.LshIndex]] corpus — an
    * O(batch) probe; the indexed corpus is never re-signatured — then
    * the admitted (novel) docs are appended to `docsPath` parquet and
    * folded into the index as fresh CAS-committed parts, so every
    * later batch (and every later RUN — the index is durable) dedupes
    * against everything ever admitted.
    *
    * Delivery semantics: the INDEX is the authority and is
    * duplicate-free by construction; `docsPath` is AT-LEAST-ONCE
    * across crash replays (a crash between the docs write and the
    * index append re-admits that epoch's docs on replay — recover by
    * keyed dedup on read). Epoch-guarded against same-session
    * foreachBatch replays like [[mvRefreshSink]].
    *
    * SELF-MAINTAINING: every epoch's append adds one `lb_*`/`lf_*`
    * part pair, so a long-running ingest would otherwise degrade the
    * probe into thousands of small-file reads; once the snapshot
    * exceeds `compactAtParts` parts the sink runs
    * [[graft.pipeline.LshIndex.compactIndex]] + vacuum inline (the
    * sink is the index's single writer, and its own probes always
    * open the latest snapshot, so the GC grace period is trivially
    * satisfied). `compactAtParts = 0` disables. */
  def corpusDedupSink(docs: DataFrame, indexPath: String, docsPath: String,
                      checkpointLocation: Option[String] = None,
                      compactAtParts: Int = 64)
      : StreamingQuery = {
    val applied = new java.util.concurrent.atomic.AtomicLong(-1L)
    epochSink(docs, s"corpusDedupSink($indexPath)", checkpointLocation,
        _ => applied.get) { (batch, epoch) =>
      val s = batch.sparkSession
      if (!batch.isEmpty) {
        val (id, text, n, k, bands) =
          graft.pipeline.LshIndex.params(s, indexPath)
        // ONE shingle/signature pass per micro-batch, cached and
        // shared by the corpus probe, the in-batch verify, and the
        // index fold (the hot-path cost is the text tokenize +
        // shingle hash; the per-stage aggs over the cached (id, h)
        // frame are comparatively free)
        val batchDf = batch.toDF()
        val sh = graft.ops.CacheScope.persist(
          graft.pipeline.Dedup.hashedShingles(batchDf, id, text, n))
        val dupIds = graft.pipeline.LshIndex
          .probeFromHashed(s, indexPath, sh)
          .select(col("probe_id").as(id)).distinct()
        val novel = batchDf.join(dupIds, Seq(id), "left_anti")
        // pairs over the FULL batch's hashes: set-equality is
        // transitive, so a pair touching a corpus-dup doc has BOTH
        // members corpus-dup and neither survives into `novel` —
        // the restriction to novel docs happens in the anti-join
        val pairs = graft.pipeline.Dedup
          .verifiedDuplicatesFromHashed(sh, id, k, bands)
        val admitted = graft.pipeline.Dedup
          .removeNearDuplicates(novel, pairs, id).persist()
        try {
          if (!admitted.isEmpty) {
            admitted.write.mode("append").parquet(docsPath)
            val shAdm = sh.join(
              admitted.select(col(id)), Seq(id), "left_semi")
            graft.pipeline.LshIndex.appendFromHashed(s, shAdm, indexPath)
            if (compactAtParts > 0 && graft.catalog.SnapshotManifest
                .currentParts(s, indexPath).exists(_.size > compactAtParts)) {
              graft.pipeline.LshIndex.compactIndex(s, indexPath)
              graft.pipeline.LshIndex.vacuum(s, indexPath)
            }
          }
        } finally {
          admitted.unpersist(blocking = false)
          graft.ops.CacheScope.releaseAll()
        }
      }
      applied.set(epoch)
    }
  }

  /** THE EPOCH-GUARDED SINK DRIVER every exactly-once sink here runs
    * on. `highWater` reads the sink's own committed mark (-1 when
    * nothing has committed): the manifest epoch, an epoch-named
    * snapshot, an epoch-tagged manifest part, or an in-session
    * counter. An epoch at or below it is already durable — a crash
    * between the sink's commit and the streaming commit log re-runs
    * it, and a query restarted WITHOUT its checkpoint re-delivers
    * applied batches under smaller epoch ids — so it is skipped rather
    * than applied twice. A skipped NON-EMPTY batch is normal only for
    * the crash replay; after a lost checkpoint it silently discards
    * genuinely new rows, so it is logged (recover by restarting WITH
    * the original checkpoint). Newer epochs run `body`, which owns the
    * sink's empty-batch behaviour; `every` runs after either branch. */
  private def epochSink(stream: DataFrame, label: String,
                        checkpointLocation: Option[String],
                        highWater: SparkSession => Long,
                        every: SparkSession => Unit = _ => ())(
      body: (Dataset[Row], Long) => Unit): StreamingQuery = {
    val writer = stream.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[Row], epoch: Long) =>
        val hw = highWater(batch.sparkSession)
        if (epoch > hw) body(batch, epoch)
        else if (!batch.isEmpty)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"$label: high-water guard skipped non-empty epoch $epoch " +
              s"(high-water mark $hw). Expected once after a crash-replay; " +
              "if this repeats, the query was restarted without its " +
              "original checkpoint and incoming data is being DISCARDED.")
        every(batch.sparkSession)
      }
    checkpointLocation
      .fold(writer)(writer.option("checkpointLocation", _))
      .start()
  }
}
