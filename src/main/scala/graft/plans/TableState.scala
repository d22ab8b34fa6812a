package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.catalog.{Layout, SnapshotManifest}

/** Table-state fingerprints for the constraint/MV rewrite registries.
  *
  * The "trust is earned" audits ([[JoinElim.declareVerified]],
  * [[DistinctElim.declareUniqueKey]]) and MV builds prove a property
  * of the table AS OF declaration time; nothing stops the table from
  * moving afterwards (`Layout.append`, a plain parquet append, a
  * compaction). A rewrite that still fires then returns silently
  * wrong answers — the worst failure mode an optimizer can have.
  * Every registry entry is therefore STAMPED with this fingerprint at
  * declaration, and each rule re-computes it at plan time, falling
  * through to the unrewritten plan on mismatch (correct, just
  * slower — re-declare after re-auditing to restore the rewrite).
  *
  * Fingerprint per root path, cheapest-available-evidence order:
  *   - a [[SnapshotManifest]]-logged table → `snap:<name>` from the
  *     `_latest` pointer — ONE tiny file read, the same token every
  *     maintenance op already CAS-commits against;
  *   - a plain directory → `ls:<files>:<bytes>:<maxMtime>` over its
  *     data files ([[Layout.listData]], Spark's listing rule) — one
  *     listing, O(file count) metadata;
  *   - a single file → `f:<len>:<mtime>`.
  * Any append, delete, compact, or overwrite changes the value. The
  * check runs only AFTER a registry entry's path set has matched the
  * candidate plan, so queries that touch no registered table never
  * pay it.
  *
  * Hops between two stamps are read through [[Layout]], the one
  * reader of a Layout snapshot log: this object classifies a step
  * from its part NAMES (through Layout's provenance parser) and takes
  * every part's content, every data-file listing and every hop scan
  * from Layout's job-free metadata plane — classifying a window and
  * building its frames runs no Spark job.
  */
object TableState {

  /** Per-root fingerprint probes actually taken (each is a
    * getFileStatus + either one `_latest` read or one recursive
    * listing). Pinned by TableStateSpec: within ONE planning pass a
    * root is probed at most once however many candidate plan nodes
    * match it — the [[FpCache]] memo is what bounds plan-time cost
    * for plain-directory registrations (O(file count) per QUERY, not
    * per candidate Aggregate/Join). */
  private[graft] val probes = new java.util.concurrent.atomic.AtomicLong

  def fingerprint(spark: SparkSession, roots: Set[String]): String =
    roots.toSeq.sorted.map(one(spark, _)).mkString(";")

  /** THE DECLARATION STAMP for `what` (an MV build, an FK or unique-key
    * audit) over the audited frames, each with the label suffix its
    * freshness refusal names. Returns the stamp over every frame's
    * roots and each frame's root-path set, in order.
    *
    * FINGERPRINT FIRST, freshness checks second: a commit landing in
    * the fingerprint→[[requireFresh]] gap changes the live listing and
    * fails requireFresh loudly, and one landing after it (mid-audit or
    * mid-build) fails the plan-time fp check — no ordering leaves a
    * covered-but-unaudited write. The reverse order let a commit in
    * the requireFresh→fingerprint gap be stamped yet unseen by the
    * audit's pinned listing. */
  private[plans] def stamp(what: String, frames: (DataFrame, String)*)
      : (String, Seq[Set[String]]) = {
    val spark = frames.head._1.sparkSession
    val paths = frames.map(f => Mv.basePathsOf(f._1))
    val all = paths.reduce(_ ++ _)
    val fp = fingerprint(spark, all)
    warnIfPlainDir(fp, all, what)
    frames.zip(paths).foreach { case ((df, label), ps) =>
      requireFresh(spark, df, ps, what + label)
    }
    (fp, paths)
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Count of plain-directory registration warnings issued — pinned by
    * TableStateSpec (a log line alone is not assertable). */
  private[graft] val plainDirWarnings =
    new java.util.concurrent.atomic.AtomicLong

  /** Declaration-site advisory: registering a PLAIN directory (no
    * snapshot log) is CORRECT but costs more forever after — every
    * planning pass that matches the table re-fingerprints it with one
    * recursive listing (O(file count), vs one `_latest` read), and the
    * incremental re-verifiers cannot walk a hop chain (any move forces
    * a full re-declare, O(table) instead of O(batch)). Warn once per
    * declaration, naming the roots and the fix (migrate under
    * [[graft.catalog.Layout]]'s snapshot log). */
  private def warnIfPlainDir(fp: String, roots: Set[String],
                             what: String): Unit =
    segments(fp, roots).foreach { segs =>
      val plain = segs.collect {
        case (r, s) if s.startsWith("ls:") => r }.toSeq.sorted
      if (plain.nonEmpty) {
        plainDirWarnings.incrementAndGet()
        log.warn(s"$what registers plain parquet director" +
          (if (plain.size == 1) "y " else "ies ") + plain.mkString(", ") +
          ": staleness is enforced via a recursive listing per planning " +
          "pass (O(files), not O(1)), and incremental re-verification " +
          "is unavailable — any write forces a full re-declare. " +
          "Migrate the table under graft.catalog.Layout's snapshot log " +
          "(writeClusteredZoned) for O(1) probes and O(batch) re-audits.")
      }
    }

  /** Empty stamp = declared without staleness tracking (direct
    * registry writes, pre-stamp persisted defs): the caller owns
    * freshness, exactly the pre-r11 contract. */
  def matches(spark: SparkSession, stamped: String,
              roots: Set[String]): Boolean =
    stamped.isEmpty || stamped == fingerprint(spark, roots)

  /** Decompose a stamp back into its per-root segments (the stamp is
    * the sorted roots' segments ';'-joined) — what the incremental
    * re-verifiers need to recover WHICH snapshot a root was audited
    * at. None when the stamp is empty or was taken over a different
    * root set. */
  private[plans] def segments(stamped: String,
                              roots: Set[String]): Option[Map[String, String]] = {
    val rs = roots.toSeq.sorted
    val segs = stamped.split(";", -1).toSeq
    if (stamped.isEmpty || segs.length != rs.length) None
    else Some(rs.zip(segs).toMap)
  }

  /** One audited step of a root's snapshot history, as the incremental
    * re-verifiers consume it. The identity audited is the PLAIN READ
    * (`spark.read.parquet(root)`), so the classification is by what a
    * commit does to the DIRECTORY's data-file rows, not to the logical
    * table:
    *
    *   - [[AppendHop]]: fresh `m_*`-listed data files — the plain read
    *     gained exactly those files' rows. Deletion-vector parts in
    *     the same window are irrelevant HERE: a DV never removes a
    *     physical row, so the plain read keeps them (this replaces the
    *     r12 `changes()`-based window, whose NET semantics could hide
    *     a same-window appended-then-deleted row that the plain read
    *     still contains — the raw fresh-file feed cannot).
    *   - [[NoRowChangeHop]]: dv-only / bloom-only commits — the plain
    *     read is bit-identical; a pure restamp is sound with NO audit.
    *   - [[RewriteHop]]: a provenance-backed [[graft.catalog.Layout
    *     .compact]] — the plain rows become a SUBSET of the previous
    *     plain rows (the base snapshot's deletion vectors materialize
    *     out; the removed rows are recorded in the commit's own
    *     `rw_*` change-data part, so they stay recoverable after the
    *     old generation's files are vacuumed). Emitted only once the
    *     directory again equals the live manifest (i.e. after a FULL
    *     `Layout.vacuum(retainPrevious = false)`) — between the
    *     compact and that vacuum the directory holds BOTH file
    *     generations and the plain read is transiently duplicated, so
    *     the re-verifiers refuse with guidance rather than restamp.
    *   - [[ShrinkHop]]: a [[graft.catalog.Layout.expireBefore]]
    *     time-retention commit, marked by its `rs_*` part — the plain
    *     rows become a SUBSET (the dropped files' rows leave the read
    *     once vacuumed) but the removed rows are NOT materialized:
    *     recording O(expired data) would defeat expiry's
    *     metadata-only contract. Subset-safe consumers (PK
    *     uniqueness, FK child side) restamp; consumers that need the
    *     removed rows (FK parent side, MV retraction) refuse with
    *     guidance. Same directory-equals-manifest gate as rewrites.
    *
    * Every hop is read through [[Layout]]: the fresh files from the
    * zone parts on the driver ([[Layout.manifestFiles]]), provenance
    * from [[Layout.provenanceOf]], emptiness from part footers. */
  private[plans] sealed trait Hop { def from: String; def to: String }
  private[plans] case class AppendHop(from: String, to: String,
                                      freshFiles: Seq[String]) extends Hop
  private[plans] case class NoRowChangeHop(from: String,
                                           to: String) extends Hop
  private[plans] case class RewriteHop(from: String, to: String,
                                       rwPart: String) extends Hop
  private[plans] case class ShrinkHop(from: String, to: String,
                                      rsPart: String) extends Hop

  private def expired(what: String, root: String, snap: String): Nothing =
    throw new IllegalStateException(s"$what: stamped snapshot $snap at " +
      s"$root is unknown or expired (vacuum retention is keep-last-2 " +
      "and compaction provenance reaches one hop back); re-verify " +
      "after each maintenance op, or re-declare against the current state")

  /** The hop chain `(from → to]` for one snapshot-logged root.
    * Retained snapshots form a contiguous SUFFIX of history (vacuum
    * prunes oldest-first), so when `from` is still retained the chain
    * is the pairwise walk over retained snaps; when it has been
    * vacuumed away, the one recoverable case is a compact whose
    * `rw_*` provenance names `from` as its base — the rewrite hop is
    * then reconstructed from the provenance alone (no old snap file,
    * no old data files needed). */
  private[plans] def hopsFor(spark: SparkSession, root: String,
                             from: String, to: String,
                             what: String): Seq[Hop] = {
    if (from == to) return Nil
    val retained = SnapshotManifest.snaps(spark, root)
    if (!retained.contains(to))
      throw new IllegalStateException(
        s"$what: current snapshot $to is missing from the log at $root")
    if (retained.contains(from)) {
      val chain = retained.dropWhile(_ != from).takeWhile(_ <= to)
      if (chain.lastOption != Some(to))
        expired(what, root, from) // `to` older than `from`: clock skew
      chain.sliding(2).map {
        case Seq(a, b) => classifyPair(spark, root, a, b, what)
      }.toSeq
    } else {
      // `from` vacuumed: find the compact/expiry commit whose
      // provenance names it — it must be the EARLIEST retained snap
      // carrying that provenance AND be a bare maintenance commit;
      // anything else means intermediate history was pruned and the
      // chain is unrecoverable
      val (snapE, parts, mark) = retained.view.flatMap { s =>
        val parts = SnapshotManifest.partsOf(spark, root, s)
        provenanceNaming(parts, from).map((s, parts, _))
      }.headOption.getOrElse(expired(what, root, from))
      if (!Layout.bareMaintenance(parts, mark)) expired(what, root, from)
      maintenanceHop(spark, root, from, snapE, mark) +:
        hopsFor(spark, root, snapE, to, what)
    }
  }

  /** The provenance part of `parts` naming `base`, if any. */
  private def provenanceNaming(parts: Seq[String],
                               base: String): Option[Layout.Provenance] =
    parts.flatMap(Layout.provenanceOf).find(_.base == base)

  private def classifyPair(spark: SparkSession, root: String,
                           a: String, b: String, what: String): Hop = {
    val pa = SnapshotManifest.partsOf(spark, root, a).toSet
    val pb = SnapshotManifest.partsOf(spark, root, b)
    if (pa.subsetOf(pb.toSet)) {
      val files = Layout.manifestFiles(spark, root, pb.filterNot(pa))
      if (files.isEmpty) NoRowChangeHop(a, b) else AppendHop(a, b, files)
    } else provenanceNaming(pb, a) match {
      case Some(mark) => maintenanceHop(spark, root, a, b, mark)
      case None => throw new IllegalStateException(
        s"$what: window $a -> $b at $root crosses a physical " +
          "rewrite without maintenance provenance (recluster / " +
          "re-create); re-declare against the current state")
    }
  }

  /** The hop a maintenance commit's provenance marks. An expiry that
    * dropped NO whole files (straddle-dv-only) left the plain read
    * bit-identical — classified as a free restamp instead of a
    * conservative refusal, from the `rs_` part's footer row count. */
  private def maintenanceHop(spark: SparkSession, root: String, a: String,
                             b: String, mark: Layout.Provenance): Hop =
    if (mark.rewrite) RewriteHop(a, b, mark.part)
    else if (Layout.partRows(spark, root, Seq(mark.part)) == 0L)
      NoRowChangeHop(a, b)
    else ShrinkHop(a, b, mark.part)

  /** One changed root's audited history: the stamped and current
    * snapshots plus the hop chain between them. */
  private[plans] case class RootChange(root: String, fromSnap: String,
                                       toSnap: String, hops: Seq[Hop]) {
    def appendHops: Seq[AppendHop] = hops.collect { case h: AppendHop => h }
    def rewriteHops: Seq[RewriteHop] = hops.collect { case h: RewriteHop => h }
    def shrinkHops: Seq[ShrinkHop] = hops.collect { case h: ShrinkHop => h }
  }

  /** Shared scaffold for the incremental re-verifiers: decompose the
    * stamp, probe the current state, and return `(newFp, changed)`
    * where `changed` maps each MOVED root to its hop chain. `None`
    * when nothing moved (fast no-op path). Refuses — with the
    * caller's noun in the message — stamps that are unusable, roots
    * that moved without snapshot identity at both ends, and rewrite
    * hops whose directory still holds the superseded file generation
    * (plain read transiently duplicated; run the full vacuum first). */
  private[plans] def movedHops(spark: SparkSession, stamp: String,
                               roots: Set[String], what: String)
      : Option[(String, Map[String, RootChange])] = {
    val rs = roots.toSeq.sorted
    val seg = segments(stamp, roots).getOrElse(
      throw new IllegalStateException(
        s"$what carries no usable fingerprint stamp; re-declare"))
    val curSeg = rs.map(r => r -> one(spark, r)).toMap
    val newFp = rs.map(curSeg).mkString(";")
    if (newFp == stamp) return None
    val changed = rs.filter(r => curSeg(r) != seg(r)).map { r =>
      require(seg(r).startsWith("snap:") && curSeg(r).startsWith("snap:"),
        s"$what: table at $r moved but is not snapshot-logged at both " +
          "ends; re-declare instead")
      val (from, to) =
        (seg(r).stripPrefix("snap:"), curSeg(r).stripPrefix("snap:"))
      val rc = RootChange(r, from, to, hopsFor(spark, r, from, to, what))
      if (rc.rewriteHops.nonEmpty || rc.shrinkHops.nonEmpty)
        require(Layout.directoryMatchesManifest(spark, r),
          s"$what: $r was compacted/expired but the directory still " +
            "holds the superseded file generation (plain reads see the " +
            "removed rows until the full vacuum) — run Layout.vacuum(" +
            "path, retainPrevious = false) after the reader grace " +
            "period, then re-verify")
      r -> rc
    }.toMap
    Some((newFp, changed))
  }

  /** Raw content of an append hop's fresh files — exactly what the
    * plain read gained in the window. Bounded by the batch; never a
    * table rescan. A vacuumed-away window (an append that was never
    * re-verified before a later compact + full vacuum rewrote it)
    * fails with guidance rather than a bare missing-path error. */
  private[plans] def hopRows(spark: SparkSession, root: String,
                             h: AppendHop, what: String): DataFrame =
    scan(spark, root, h.freshFiles, s"$what: window ${h.from} -> ${h.to}")

  /** THE hop scan: the data files `files` of `root`, planned through
    * [[Layout.scanFiles]] (schema from a footer, no job). A file that a
    * later compact + full vacuum reclaimed fails with guidance, naming
    * `subject`, rather than a bare missing-path error. */
  private def scan(spark: SparkSession, root: String, files: Seq[String],
                   subject: String): DataFrame =
    try Layout.scanFiles(spark, root, files)
    catch { case e: org.apache.spark.sql.AnalysisException =>
      throw new IllegalStateException(s"$subject at $root references " +
        "vacuumed files — re-verify after each maintenance op (before a " +
        "later compact + full vacuum rewrites the window), or re-declare " +
        "against the current state", e)
    }

  /** Every append hop's fresh rows in `rc`'s window, unioned — the
    * insert batch the re-verifiers audit and the log refreshes fold.
    * None when no hop appended. */
  private[plans] def appendedRows(spark: SparkSession, rc: RootChange,
                                  what: String): Option[DataFrame] =
    rc.appendHops.map(h => hopRows(spark, rc.root, h, what))
      .reduceOption(_ unionByName _)

  /** Every rewrite hop's removed rows ([[removedRows]]) in `rc`'s
    * window, unioned. None when nothing was materialized out. */
  private[plans] def retractedRows(spark: SparkSession,
                                   rc: RootChange): Option[DataFrame] =
    rc.rewriteHops.flatMap(h => removedRows(spark, rc.root, h))
      .reduceOption(_ unionByName _)

  /** The table's plain-read content PINNED to one snapshot's manifest
    * file list — bit-identical to `spark.read.parquet(root)` when the
    * directory equals the manifest, but immune to a racing writer:
    * appends rename data files into the live bucket dirs BEFORE the
    * snapshot flip, so a plain directory read concurrent with a write
    * can see rows NEWER than the audited hop chain (which a fold
    * stamped at the chain's end would then double-count on the next
    * refresh). Raw file content, deletion vectors NOT applied — dvs
    * annotate the logical table, they do not move the plain read (the
    * same identity [[hopsFor]] classifies). O(manifest) driver
    * metadata + a normal distributed scan of the listed files. */
  private[plans] def pinnedRead(spark: SparkSession, root: String,
                                snap: String, what: String): DataFrame = {
    val files = Layout.manifestFiles(spark, root,
      SnapshotManifest.partsOf(spark, root, snap))
    require(files.nonEmpty,
      s"$what: $root has no data files at audited snapshot $snap; " +
        "rebuild against the current state instead")
    scan(spark, root, files, s"$what: snapshot $snap")
  }

  /** The rows a rewrite hop materialized OUT of the plain read — the
    * compact commit's own `rw_*` change-data part, recorded at commit
    * time precisely so this audit survives the full vacuum that makes
    * the hop visible. None when the compact removed nothing (pure
    * defragmentation / manifest fold) — told by the part's footers. */
  private[plans] def removedRows(spark: SparkSession, root: String,
                                 h: RewriteHop): Option[DataFrame] =
    Layout.partContent(spark, root, h.rwPart)

  /** Guard for the declaration-time audits: the caller's DataFrame
    * pinned its FILE LISTING when `spark.read.parquet` ran — possibly
    * before the declaration's fingerprint probe. A writer appending in
    * that gap would be COVERED by the stamp yet UNSEEN by the audit
    * (the audit scans the pinned listing), silently defeating the
    * staleness guard. Refuse when the frame's pinned input files
    * differ from the roots' current data files; the caller re-reads
    * and re-declares — one metadata listing, no data read. */
  private def requireFresh(spark: SparkSession,
                           df: org.apache.spark.sql.DataFrame,
                           roots: Set[String], what: String): Unit = {
    def norm(s: String): String = new Path(s).toUri.getPath
    // collect from the ANALYZED plan's pinned file index, not
    // Dataset.inputFiles — the latter propagates empty relations
    // (e.g. a limit(0) frame reports NO files though its scan pinned
    // a full listing) and would fail every such declaration
    val pinned = df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.inputFiles.toSeq
          case _ => Seq.empty[String]
        }
    }.flatten.map(norm).toSet
    val live = roots.flatMap { r =>
      val p = new Path(r)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) Seq.empty[String]
      else Layout.listData(fs, p).map(f => norm(f._2.getPath.toString))
    }
    require(pinned == live,
      s"$what: the audited frame's file listing no longer matches the " +
        "table on disk (a write landed between the read and the " +
        "declaration, or the frame scans a subset); re-read the table " +
        s"and re-declare [frame-only: ${(pinned -- live).take(3)}; " +
        s"disk-only: ${(live -- pinned).take(3)}]")
  }

  /** The current table restricted to the batch's key tuples — the
    * slice a PK re-audit must cover (uniqueness can only break AT the
    * touched keys). NULL-SAFE equality: a plain equi-semi-join never
    * matches NULL keys, so a NULL-keyed duplicate would silently
    * escape the restricted audit that SQL grouping (and
    * `Validate.primaryKey`'s groupBy) treats as equal. Batch-sized
    * join state; one scan of the table. */
  private[plans] def restrictToKeys(table: org.apache.spark.sql.DataFrame,
                                    keyRows: org.apache.spark.sql.DataFrame,
                                    keys: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val probe = keyRows
      .select(keys.map(k => col(k).as(s"__k_$k")): _*).distinct()
    table.join(probe,
      keys.map(k => col(k) <=> col(s"__k_$k")).reduce(_ && _), "left_semi")
  }

  private[plans] def one(spark: SparkSession, root: String): String = {
    probes.incrementAndGet()
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return "absent"
    val st = fs.getFileStatus(p)
    if (st.isFile) return s"f:${st.getLen}:${st.getModificationTime}"
    SnapshotManifest.currentSnap(spark, root) match {
      case Some(snap) => s"snap:$snap"
      case None =>
        val files = Layout.listData(fs, p).map(_._2)
        s"ls:${files.size}:${files.map(_.getLen).sum}:" +
          files.map(_.getModificationTime).foldLeft(0L)(_ max _)
    }
  }
}

/** ONE-PLANNING-PASS fingerprint memo. Each rewrite rule constructs a
  * fresh instance per `apply` invocation, so within a single pass a
  * root path is fingerprinted AT MOST ONCE no matter how many
  * candidate plan nodes match a registered table — a query with K
  * rewrite candidates over a plain-parquet directory of F files costs
  * one O(F) listing, not K of them, and snapshot-logged tables cost
  * one `_latest` read. Deliberately NOT a TTL cache: the memo dies
  * with the pass, so a same-JVM append between two queries is always
  * seen by the next plan — no staleness window to reason about. */
final class FpCache(spark: SparkSession) {
  private val memo = scala.collection.mutable.HashMap.empty[String, String]

  def matches(stamped: String, roots: Set[String]): Boolean =
    stamped.isEmpty || stamped == roots.toSeq.sorted
      .map(r => memo.getOrElseUpdate(r, TableState.one(spark, r)))
      .mkString(";")
}
