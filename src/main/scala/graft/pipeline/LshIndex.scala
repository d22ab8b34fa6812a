package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.SnapshotManifest

/** PERSISTED INCREMENTAL MinHash-LSH CORPUS INDEX — the artifact that
  * turns one-shot near-dup detection ([[Dedup.minHashLshPairs]],
  * reference behavior: batch pipelines recompute everything per run)
  * into the operation a 100 TB training-data pipeline actually runs
  * nightly: "dedupe tonight's crawl against the WHOLE corpus" in
  * O(batch), never re-signaturing the corpus.
  *
  * Storage is the [[graft.catalog.SnapshotManifest]] part log (the
  * same crash contract as every table here: immutable parquet parts,
  * snap file, atomic `_latest` flip, CAS commits):
  *
  *   - `lb_*` parts: `(id, band, bucket)` LSH banding rows — 3 longs
  *     per (doc, band), the probe join's only input;
  *   - `lf_*` parts: `(id, sfp)` shingle-SET fingerprints — the
  *     exact-equality verifier ([[Dedup.minHashVerifiedDuplicates]]'s
  *     bit_xor fingerprint), joined only for candidate ids;
  *   - `_meta`: the (n, k, bands) parameters, pinned at [[build]] so
  *     an [[append]] can never mix incompatible signatures.
  *
  * [[append]] signatures ONLY the batch and commits its parts with a
  * compare-and-swap against the snapshot it read — two concurrent
  * appenders cannot drop each other's batches (the loser retries).
  * [[probe]] band-joins the batch's buckets against the corpus
  * buckets — the batch side is broadcast-sized by construction, so
  * the corpus side is scanned in place, never shuffled — then
  * verifies candidates by set-fingerprint equality: recall 1 for
  * true duplicates by the MinHash determinism argument (identical
  * shingle set ⟹ identical signature ⟹ collides in every band),
  * precision 1 up to the accepted 64-bit hash-collision odds.
  *
  * Reference point: LingkeMeng/relational-query-engine-sql has no
  * dedup machinery at all (Postgres uniqueness only); this is part of
  * the beyond-reference pipeline surface (SURVEY §2.11).
  */
object LshIndex {

  /** The root-level `_meta` of the index at `path`, kind-checked. */
  private def meta(spark: SparkSession, path: String): Map[String, String] = {
    val m = IndexIo.readMeta(spark, path)
    require(m.get("kind").contains("lsh"), s"not an LSH index: $path")
    m
  }

  /** The index's pinned parameters: (id, text, n, k, bands) — what a
    * caller composing its own batch-side kernels (the streaming dedup
    * sink) needs to signature compatibly. */
  def params(spark: SparkSession, path: String)
      : (String, String, Int, Int, Int) = {
    val m = meta(spark, path)
    (m("id"), m("text"), m("n").toInt, m("k").toInt, m("bands").toInt)
  }

  /** Build the index over `docs` and commit it as the first snapshot.
    * One signature pass over the corpus — the LAST corpus-sized job
    * this index ever needs. */
  def build(docs: DataFrame, path: String, id: String, text: String,
            n: Int = 3, k: Int = 32, bands: Int = 16): Unit = {
    require(k % bands == 0, "bands must divide k")
    val spark = docs.sparkSession
    require(SnapshotManifest.currentSnap(spark, path).isEmpty,
      s"LshIndex.build: $path already holds an index; use append " +
        "(or delete the directory to rebuild)")
    IndexIo.writeMeta(spark, path,
      Seq("kind" -> "lsh", "id" -> id, "text" -> text, "n" -> n.toString,
        "k" -> k.toString, "bands" -> bands.toString))
    val parts = stageParts(docs, path, id, text, n, k, bands)
    SnapshotManifest.commit(spark, path, parts, Some(None))
  }

  /** Fold a new batch into the index: signatures for the BATCH only,
    * committed as fresh parts CAS'd against the snapshot read at
    * entry — O(batch) compute and I/O however large the corpus. The
    * caller deduplicates first if it wants the index duplicate-free
    * ([[dedupeAgainst]]); the index itself happily holds duplicates
    * (they simply match each other on later probes). */
  def append(batch: DataFrame, path: String): Unit = {
    val spark = batch.sparkSession
    val m = meta(spark, path)
    val sh = graft.ops.CacheScope.persist(Dedup.hashedShingles(
      batch, m("id"), m("text"), m("n").toInt))
    try appendFromHashed(spark, sh, path)
    finally sh.unpersist(blocking = false)
  }

  /** [[append]] from a precomputed (cached) `(id, h)` hashed-shingle
    * frame — the entry the streaming ingest sink uses to signature
    * each micro-batch ONCE and share the pass across probe, in-batch
    * verify, and this index fold. */
  private[graft] def appendFromHashed(spark: SparkSession, sh: DataFrame,
                                      path: String): Unit = {
    val m = meta(spark, path)
    require(SnapshotManifest.currentSnap(spark, path).nonEmpty,
      s"LshIndex.append: no index at $path; build first")
    // stage ONCE, outside the CAS loop (see commitOnTop)
    commitOnTop(spark, path, "append", stagePartsFromHashed(sh, path,
      m("id"), m("k").toInt, m("bands").toInt))
  }

  /** Commit the staged `fresh` parts on top of the current snapshot
    * through [[SnapshotManifest.publish]]: the parts' content is
    * independent of the base snapshot, so a loser only re-reads the
    * (metadata-sized) part list and re-offers them; parts that no
    * snapshot will list are deleted at once instead of being left for
    * a later vacuum. */
  private def commitOnTop(spark: SparkSession, path: String, op: String,
                          fresh: Seq[String]): Unit =
    SnapshotManifest.publish(spark, path, s"LshIndex.$op",
        "lsh-before-flip") { base =>
      require(base.nonEmpty, s"LshIndex.$op: no index at $path; build first")
      Some(SnapshotManifest.SnapOffer(
        SnapshotManifest.partsOf(spark, path, base.get) ++ fresh, fresh))
    }

  /** REMOVE documents from the index — the retention/right-to-forget
    * path: when docs expire from the corpus, the index must stop
    * matching them (else novel crawls are rejected against ghosts and
    * the content can never re-enter). O(ids): the removal commits ONE
    * `lt_*` tombstone part (the id list) under the same CAS loop as
    * [[append]]; the corpus-sized `lb_*`/`lf_*` parts are untouched.
    * [[probe]] discounts tombstoned ids in-flight (one broadcast
    * anti-join — tombstones are removal-sized until the next
    * [[compactIndex]] purges them physically). */
  def remove(spark: SparkSession, path: String, ids: DataFrame): Unit = {
    val m = meta(spark, path)
    require(SnapshotManifest.currentSnap(spark, path).nonEmpty,
      s"LshIndex.remove: no index at $path; build first")
    val id = m("id")
    require(ids.columns.contains(id),
      s"LshIndex.remove: ids frame must carry the index id column '$id'")
    commitOnTop(spark, path, "remove", Seq(writePart(spark, path, "lt_",
      ids.select(col(id)).distinct())))
  }

  /** COMPACT the index: fold the per-append `lb_*`/`lf_*` part pairs
    * into ONE pair and PURGE tombstoned ids physically — the
    * maintenance op that keeps [[probe]] O(corpus-scan) as appends
    * accumulate. After N nightly appends the snapshot holds 2N parts
    * (2N file listings + footer reads per probe, and the tombstone
    * anti-join grows with every [[remove]]); compaction is one
    * index-sized pass (3 longs per (doc, band) — it never touches the
    * corpus text) committed as a replace-all CAS flip, crash-atomic
    * like every table here. Readers on the old snapshot finish
    * undisturbed; [[vacuum]] reclaims superseded parts after the
    * grace period. Returns the number of parts folded away. */
  def compactIndex(spark: SparkSession, path: String): Int = {
    val m = meta(spark, path)
    val id = m("id")
    var nFolded = 0
    // a racing appender that flips first is not in the folded parts:
    // the loser refolds over the new state
    SnapshotManifest.publish(spark, path, "LshIndex.compactIndex",
        "lsh-before-flip") { b =>
      val base = b.getOrElse(throw new IllegalStateException(
        s"LshIndex.compactIndex: no index at $path; build first"))
      val parts = SnapshotManifest.partsOf(spark, path, base)
      nFolded = parts.size - 2
      if (nFolded <= 0) None // already one lb + one lf, no tombstones
      else {
        def side(prefix: String): DataFrame = {
          val live = spark.read.parquet(parts.filter(_.startsWith(prefix))
            .map(p => SnapshotManifest.partPath(path, p)): _*)
          val tomb = parts.filter(_.startsWith("lt_"))
          if (tomb.isEmpty) live
          else live.join(broadcast(spark.read.parquet(tomb.map(p =>
              SnapshotManifest.partPath(path, p)): _*)),
            Seq(id), "left_anti")
        }
        val fresh = Seq(writePart(spark, path, "lb_", side("lb_")),
          writePart(spark, path, "lf_", side("lf_")))
        Some(SnapshotManifest.SnapOffer(fresh, fresh))
      }
    }
    nFolded max 0
  }

  /** Near-duplicate hits of `batch` against the INDEXED corpus:
    * `(probe_id, corpus_id)` pairs whose shingle sets are exactly
    * equal (the [[Dedup.minHashVerifiedDuplicates]] contract, across
    * the corpus boundary). The batch is signatured in-flight — the
    * corpus side reads only the persisted `lb_*`/`lf_*` parts. */
  def probe(spark: SparkSession, path: String, batch: DataFrame): DataFrame = {
    val m = meta(spark, path)
    val sh = graft.ops.CacheScope.persist(Dedup.hashedShingles(
      batch, m("id"), m("text"), m("n").toInt))
    probeFromHashed(spark, path, sh)
  }

  /** [[probe]] from a precomputed (cached) `(id, h)` hashed-shingle
    * frame — see [[appendFromHashed]]. */
  private[graft] def probeFromHashed(spark: SparkSession, path: String,
                                     sh: DataFrame): DataFrame = {
    val m = meta(spark, path)
    val id = m("id")
    val (k, bands) = (m("k").toInt, m("bands").toInt)
    val sigs = Dedup.sigsFromHashedShingles(sh, id, k)
    val probeBuckets = Dedup.bandBuckets(sigs, id, k, bands)
      .select(col(id).as("probe_id"), col("band"), col("bucket"))
    val probeFps = sh.groupBy(col(id))
      .agg(expr("bit_xor(h)").as("sfp"))
      .select(col(id).as("probe_id"), col("sfp").as("__pf"))
    // batch side broadcast: the corpus bucket log is scanned in place
    // (band+bucket pruned by the hash join), never shuffled
    val cand = readParts(spark, path, "lb_")
      .join(broadcast(probeBuckets), Seq("band", "bucket"))
      .select(col("probe_id"), col(id).as("corpus_id")).distinct()
    val corpusFps = readParts(spark, path, "lf_")
      .select(col(id).as("corpus_id"), col("sfp").as("__cf"))
    // candidate side broadcast again: `cand` is batch-bounded (LSH
    // candidates of one night's crawl) while the corpus fp log is
    // corpus-sized — without the hint the planner sizes corpusFps by
    // its total file bytes and sort-merge-joins, shuffling the WHOLE
    // corpus fingerprint log per probe (O(corpus), not O(batch))
    val candFp = cand.join(broadcast(probeFps), Seq("probe_id"))
    val pairs = corpusFps
      .join(broadcast(candFp), Seq("corpus_id"))
      .filter(col("__pf") === col("__cf"))
      .select(col("probe_id"), col("corpus_id"))
    // tombstoned (removed) docs must not match: discount them on the
    // batch-bounded RESULT — one broadcast anti-join, removal-sized
    // until the next compactIndex purges the lt_* parts physically
    tombstones(spark, path, id).fold(pairs)(t =>
      pairs.join(broadcast(t.select(col(id).as("corpus_id"))),
          Seq("corpus_id"), "left_anti")
        .select(col("probe_id"), col("corpus_id")))
  }

  /** The live snapshot's tombstoned ids, if any `lt_*` parts exist. */
  private def tombstones(spark: SparkSession, path: String,
                         id: String): Option[DataFrame] = {
    val cur = SnapshotManifest.currentSnap(spark, path).getOrElse(
      return None)
    val ps = SnapshotManifest.partsOf(spark, path, cur)
      .filter(_.startsWith("lt_"))
    if (ps.isEmpty) None
    else Some(spark.read.parquet(ps.map(p =>
      SnapshotManifest.partPath(path, p)): _*))
  }

  /** `batch` minus the docs already present in the corpus (verified
    * set-equality duplicates) — the nightly-crawl admission filter.
    * Pair with [[append]] on the survivors to grow the corpus. */
  def dedupeAgainst(spark: SparkSession, path: String,
                    batch: DataFrame): DataFrame = {
    val id = meta(spark, path)("id")
    val dupIds = probe(spark, path, batch)
      .select(col("probe_id").as(id)).distinct()
    batch.join(dupIds, Seq(id), "left_anti")
  }

  /** Drop superseded snapshots and unreferenced parts (writer-side,
    * after the reader grace period — the standing single-writer GC
    * contract). */
  def vacuum(spark: SparkSession, path: String): Unit = {
    val cur = SnapshotManifest.currentSnap(spark, path).getOrElse(return)
    val fs = SnapshotManifest.fsOf(spark, path)
    val keep = SnapshotManifest.partsOf(spark, path, cur).toSet
    SnapshotManifest.snaps(spark, path).filterNot(_ == cur).foreach(s =>
      fs.delete(new Path(new Path(path, SnapshotManifest.SnapsDir), s), false))
    val mDir = new Path(path, SnapshotManifest.ManifestsDir)
    if (fs.exists(mDir)) fs.listStatus(mDir).foreach { st =>
      if (!keep.contains(st.getPath.getName)) fs.delete(st.getPath, true)
    }
  }

  /** Write one batch's `lb_` + `lf_` parts (no commit — the caller
    * folds them into its own snapshot). */
  private def stageParts(docs: DataFrame, path: String, id: String,
                         text: String, n: Int, k: Int,
                         bands: Int): Seq[String] = {
    val sh = graft.ops.CacheScope.persist(
      Dedup.hashedShingles(docs, id, text, n))
    try stagePartsFromHashed(sh, path, id, k, bands)
    finally sh.unpersist(blocking = false)
  }

  private def stagePartsFromHashed(sh: DataFrame, path: String, id: String,
                                   k: Int, bands: Int): Seq[String] = {
    val spark = sh.sparkSession
    val sigs = Dedup.sigsFromHashedShingles(sh, id, k)
    val lb = Dedup.bandBuckets(sigs, id, k, bands)
    val lf = sh.groupBy(col(id)).agg(expr("bit_xor(h)").as("sfp"))
    Seq(writePart(spark, path, "lb_", lb),
      writePart(spark, path, "lf_", lf))
  }

  private def writePart(spark: SparkSession, path: String, prefix: String,
                        df: DataFrame): String =
    SnapshotManifest.stageFrame(spark, path, prefix + SnapshotManifest.token(), df)

  private def readParts(spark: SparkSession, path: String,
                        prefix: String): DataFrame = {
    val cur = SnapshotManifest.currentSnap(spark, path).getOrElse(
      throw new java.io.FileNotFoundException(s"$path/${SnapshotManifest.LatestFile}"))
    val ps = SnapshotManifest.partsOf(spark, path, cur)
      .filter(_.startsWith(prefix))
    require(ps.nonEmpty, s"LshIndex at $path: no $prefix parts")
    spark.read.parquet(ps.map(p =>
      SnapshotManifest.partPath(path, p)): _*)
  }
}
