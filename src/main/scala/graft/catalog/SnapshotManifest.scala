package graft.catalog

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import java.nio.charset.StandardCharsets

/** THE commit protocol of every durable artifact in graft: how a
  * write becomes visible atomically, how versions are named, how
  * superseded versions are reclaimed. No other module writes a
  * `_latest` pointer, names a snapshot or stages a manifest part.
  *
  * One primitive — [[flip]]: write the pointer text to a temp file,
  * then rename it OVER `_latest` (`Options.Rename.OVERWRITE`, atomic
  * on HDFS and POSIX) — so a torn or missing pointer is never
  * observable. [[casFlip]] is the same flip under the root's commit
  * lock, taken only while `_latest` still names the expected version.
  * Everything a pointer names is written first, in full, under a
  * fresh name ([[newSnapName]], [[newPartName]] — wall-clock-ordered
  * [[token]]s), so a crash at any point before the flip leaves
  * readers on the previous version and the partial artifacts
  * unreferenced. Three pointer shapes share it:
  *
  * {{{
  * manifest-backed tables (Layout, ZOrder, LshIndex):
  *   <root>/_manifests/<kind>_<token>/  immutable parquet parts
  *   <root>/_snaps/snap_<token>         text: one part name per line
  *   <root>/_latest                     text: current snap name
  * snapshot directories (the pipeline indexes, all through
  *                       graft.pipeline.IndexIo; StatsCache, viewSink):
  *   <root>/snap_<token>/               one complete version
  *   <root>/_latest                     text: current dir name
  * version files (RegistryStore):       <dir>/reg_<token>.json
  * }}}
  *
  * `scd2Sink` flips its own bucket map as the pointer text. Older
  * artifacts named `snap_<nanoTime>` stay readable: the pointer names
  * its target verbatim, and the vacuums keep whatever it names.
  *
  * Manifest tables [[commit]] a snap file listing their parts, parts
  * staged through [[stageFrame]] / [[stageRows]]. This module writes
  * a manifest table's log and reads its pointer and part NAMES; what
  * a Layout part holds and how its name is built is read in one place,
  * [[Layout]] — the one reader of Layout logs, hop classification
  * included. Concurrency: many readers; writers commit
  * compare-and-swap — [[commit]] with `expectedSnap`, or [[casFlip]] —
  * so two writers racing can never silently drop each other's work.
  * A one-shot maintenance op lets the loser's
  * [[ConcurrentCommitException]] reach its caller; every writer that
  * retries goes through the one retry loop, [[publish]] (re-read,
  * re-offer, bounded attempts, the loser's staged files deleted), so
  * the exception and `casFlip`'s `false` are handled nowhere else.
  * Reclamation is the owner's: [[Layout.vacuum]] (keep-last-2),
  * [[vacuumSnapDirs]] (keep the pointed-to dirs).
  *
  * [[testFailpoint]] / [[testInterleave]] are the one test hook of
  * every writer: a named [[failpoint]] sits in each stage→flip window.
  */
object SnapshotManifest {
  val ManifestsDir = "_manifests"
  val SnapsDir = "_snaps"
  val LatestFile = "_latest"
  val LockFile = "_commit_lock"

  /** A conditional [[commit]] found the table moved past the
    * snapshot the writer read — the optimistic-concurrency loser.
    * Nothing was committed; recompute against the current snapshot
    * and retry. */
  final class ConcurrentCommitException(msg: String)
    extends RuntimeException(msg)

  /** Test-only crash injection: when set to a failpoint name, the
    * writer reaching that [[failpoint]] throws — after its new files
    * are in place, before its flip — so a spec can pin that a crashed
    * write is invisible to readers. */
  @volatile private[graft] var testFailpoint: Option[String] = None

  /** Test-only interleave injection: when set to (failpoint-name, f),
    * the writer reaching that [[failpoint]] runs `f` ONCE — a spec
    * races a second writer inside the stage→flip window to pin the
    * compare-and-swap contract. Self-clearing, so the thunk's own
    * writes pass the same point. */
  @volatile private[graft] var testInterleave: Option[(String, () => Unit)] =
    None

  /** A named point in a writer's stage→flip window (see
    * [[testFailpoint]] / [[testInterleave]]); a no-op unless a spec
    * armed it. */
  private[graft] def failpoint(name: String): Unit = {
    if (testFailpoint.contains(name))
      throw new java.io.IOException(s"injected failpoint: $name")
    testInterleave match {
      case Some((n, thunk)) if n == name =>
        testInterleave = None
        thunk()
      case _ => ()
    }
  }

  def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Unique, wall-clock-ordered token: nanoTime alone is NOT ordered
    * across JVM restarts (its origin is arbitrary per process), and
    * keep-last-2 GC needs snapshots written by successive writer
    * processes to sort correctly. The nano component is masked
    * non-negative — its origin is arbitrary, so it CAN be negative,
    * and a '-' sorts before every digit, breaking lexicographic
    * ordering within one millisecond. Shared (private[graft]) so
    * other versioned-file artifacts (RegistryStore) inherit the
    * ordering contract instead of re-deriving it. */
  private[graft] def token(): String =
    f"${System.currentTimeMillis()}%013d_${System.nanoTime() & Long.MaxValue}%019d"

  /** `prefix` distinguishes part KINDS within one snapshot: `m` =
    * data-file zone manifest, `dv` = deletion vector, `bf` = per-file
    * bloom index ([[Layout]] filters by prefix when resolving each). */
  def newPartName(prefix: String = "m"): String = s"${prefix}_${token()}"

  /** A fresh snapshot name — a snap file under `_snaps/` or a
    * snapshot directory under the root. */
  def newSnapName(): String = s"snap_${token()}"

  def partPath(root: String, part: String): String =
    s"$root/$ManifestsDir/$part"

  /** Current snap name from the `_latest` pointer, if present. */
  def currentSnap(spark: SparkSession, root: String): Option[String] = {
    val fs = fsOf(spark, root)
    val pointer = new Path(root, LatestFile)
    if (!fs.exists(pointer)) None
    else {
      val in = fs.open(pointer)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8).trim)
      finally in.close()
    }
  }

  /** Manifest part names of a given snap (one per line). */
  def partsOf(spark: SparkSession, root: String, snap: String): Seq[String] = {
    val fs = fsOf(spark, root)
    val in = fs.open(new Path(new Path(root, SnapsDir), snap))
    val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
    text.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** Manifest part names of the CURRENT snapshot, or None when the
    * table has no snapshot log (legacy layout). */
  def currentParts(spark: SparkSession, root: String): Option[Seq[String]] =
    currentSnap(spark, root).map(partsOf(spark, root, _))

  /** Commit a new snapshot referencing `parts`: write the snap file
    * (temp + rename — never observable half-written), then atomically
    * flip `_latest`. Returns the snap name.
    *
    * `expectedSnap` = compare-and-swap: `Some(prev)` verifies — under
    * the table's commit lock — that `_latest` still names `prev`
    * (`Some(None)` = "no snapshot yet", the create case) and throws
    * [[ConcurrentCommitException]] without committing when the table
    * moved. `None` commits unconditionally (the create/repair paths,
    * which own the table by contract). */
  def commit(spark: SparkSession, root: String, parts: Seq[String],
             expectedSnap: Option[Option[String]] = None): String =
    expectedSnap match {
      case None => doCommit(spark, root, parts)
      case Some(exp) => withLock(spark, root) {
        val cur = currentSnap(spark, root)
        if (cur != exp)
          throw new ConcurrentCommitException(
            s"commit at $root expected snapshot ${exp.getOrElse("<none>")} " +
              s"but found ${cur.getOrElse("<none>")}: a concurrent writer " +
              "committed first — recompute against the current snapshot " +
              "and retry")
        doCommit(spark, root, parts)
      }
    }

  private def doCommit(spark: SparkSession, root: String,
                       parts: Seq[String]): String = {
    val fs = fsOf(spark, root)
    val snapsDir = new Path(root, SnapsDir)
    fs.mkdirs(snapsDir)
    val snap = newSnapName()
    val tmp = new Path(snapsDir, s".tmp_$snap")
    val out = fs.create(tmp, true)
    try out.write(parts.mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, new Path(snapsDir, snap)))
      throw new java.io.IOException(s"snapshot commit: rename failed for $snap")
    flip(spark, root, snap)
    snap
  }

  /** Table-level commit mutex via atomic create-if-absent of
    * `_commit_lock` (atomic on HDFS and POSIX). Bounded wait, then a
    * loud failure naming the lock — a crashed holder's stale lock is
    * broken by deleting the file (the error says so). The lock only
    * serializes the verify+flip window of CONDITIONAL commits; reads
    * never touch it. */
  private def withLock[T](spark: SparkSession, root: String)(body: => T): T = {
    val fs = fsOf(spark, root)
    val lock = new Path(root, LockFile)
    val deadline = System.currentTimeMillis() + 10000
    var acquired = false
    while (!acquired) {
      try { fs.create(lock, false).close(); acquired = true }
      catch { case _: java.io.IOException =>
        if (System.currentTimeMillis() > deadline)
          throw new java.io.IOException(
            s"timed out acquiring $lock; if its writer crashed, " +
              "delete the file to break the stale lock")
        Thread.sleep(20)
      }
    }
    try body finally fs.delete(lock, false)
  }

  /** Compare-and-swap flip for ARTIFACTS that manage their own version
    * files (the registry store): under the directory's commit lock,
    * point `_latest` at `next` iff it still names `expected`
    * (`None` = "no pointer yet"). Returns false — flipping nothing —
    * when a concurrent writer moved the pointer first; [[publish]]
    * then retries with a fresh version file. */
  def casFlip(spark: SparkSession, root: String, next: String,
              expected: Option[String]): Boolean =
    withLock(spark, root) {
      val cur = currentSnap(spark, root)
      if (cur == expected) { flip(spark, root, next); true } else false
    }

  /** What one attempt of a [[publish]] writer offers on top of the
    * version it read. */
  private[graft] sealed trait Offer
  /** A snap listing `parts` ([[commit]]), of which `fresh` are the
    * writer's own staged parts. */
  private[graft] final case class SnapOffer(parts: Seq[String],
                                            fresh: Seq[String]) extends Offer
  /** A version `name` the writer staged directly under the root — a
    * version file or a snapshot directory — named in `_latest`
    * ([[casFlip]]). */
  private[graft] final case class PointerOffer(name: String) extends Offer

  /** Attempts per [[publish]]. A writer loses an attempt only to a
    * writer that flipped inside its read→flip window, and every round
    * lets one writer through, so 16 lets 16 writers racing one root
    * all land; losing 16 in a row means some writer flips in a tight
    * loop, which retrying cannot outlast — the loser fails loudly
    * instead of spinning. */
  private val MaxAttempts = 16

  /** THE compare-and-swap retry loop of every snapshot-log writer
    * (Layout appends, LshIndex appends and compactions, the registry
    * store, the stats cache). Each attempt reads the current version,
    * asks `offer` what to publish on top of it (None: nothing to
    * publish — returned as is), passes the writer's failpoint, then
    * commits compare-and-swap. A writer that stages once re-offers
    * the same staged files every attempt; one that restages (its
    * content depends on the base) offers new ones, and a lost
    * attempt's staged files that the next attempt does not offer
    * again are deleted at once — after the last lost attempt, all of
    * them. Returns the winning offer. */
  private[graft] def publish[O <: Offer](spark: SparkSession, root: String,
                                         what: String, failpointName: String)
                                        (offer: Option[String] => Option[O])
      : Option[O] = {
    def staged(o: Option[O]): Seq[Path] = o.toSeq.flatMap {
      case SnapOffer(_, fresh) => fresh.map(p => new Path(partPath(root, p)))
      case PointerOffer(name) => Seq(new Path(root, name))
    }
    def discard(ps: Seq[Path]): Unit = ps.foreach(fsOf(spark, root).delete(_, true))
    var lost: Option[O] = None
    for (_ <- 1 to MaxAttempts) {
      val base = currentSnap(spark, root)
      val o = offer(base)
      discard(staged(lost).diff(staged(o)))
      if (o.isEmpty) return o
      failpoint(failpointName)
      val won = o.get match {
        case SnapOffer(parts, _) =>
          try { commit(spark, root, parts, Some(base)); true }
          catch { case _: ConcurrentCommitException => false }
        case PointerOffer(name) => casFlip(spark, root, name, base)
      }
      if (won) return o
      lost = o
    }
    discard(staged(lost))
    throw new IllegalStateException(s"$what at $root: lost the " +
      s"concurrent-commit race $MaxAttempts times — another writer " +
      "commits in a tight loop; serialize writers or retry later")
  }

  /** Atomically replace `_latest` with `text` — a snap or directory
    * name, or a caller's own pointer text (scd2Sink's bucket map),
    * written byte for byte. Write-temp, then FileContext rename with
    * OVERWRITE (plain FileSystem.rename refuses an existing
    * destination): a torn or missing pointer is never observable. The
    * only pointer write in graft. */
  def flip(spark: SparkSession, root: String, text: String): Unit = {
    val fs = fsOf(spark, root)
    val tmp = new Path(root, s".${LatestFile}.tmp_${token()}")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
    FileContext.getFileContext(new Path(root).toUri,
        spark.sparkContext.hadoopConfiguration)
      .rename(tmp, new Path(root, LatestFile), Options.Rename.OVERWRITE)
  }

  /** Stage one immutable part: `write` fills
    * `<root>/_manifests/.tmp_<part>`, which is then renamed into place
    * — a part is never observable half-written. Nothing is committed:
    * the caller lists the returned name in its own [[commit]], and an
    * uncommitted part is reclaimed by the owner's vacuum. */
  private def stagePart(spark: SparkSession, root: String, part: String)
                       (write: Path => Unit): String = {
    val fs = fsOf(spark, root)
    val mDir = new Path(root, ManifestsDir)
    fs.mkdirs(mDir)
    val tmp = new Path(mDir, s".tmp_$part")
    write(tmp)
    if (!fs.rename(tmp, new Path(mDir, part)))
      throw new java.io.IOException(s"manifest part rename failed: $part")
    part
  }

  /** [[stagePart]] for a distributed frame — data-plane sized parts
    * (deletion vectors, bloom filters, LSH bands). */
  def stageFrame(spark: SparkSession, root: String, part: String,
                 df: DataFrame): String =
    stagePart(spark, root, part)(tmp =>
      df.write.mode("overwrite").parquet(tmp.toString))

  /** [[stagePart]] for driver-held `rows` — METADATA parts, O(file
    * count) at any table scale, so the common schemas are written on
    * the driver (~2 ms, [[LocalParquet]]) instead of through a Spark
    * job (~150 ms of planning, task and commit protocol, measured r20);
    * other types fall back to the identical-output Spark write. */
  def stageRows(spark: SparkSession, root: String, schema: StructType,
                rows: Array[Row], part: String = newPartName()): String =
    stagePart(spark, root, part) { tmp =>
      if (LocalParquet.supports(schema)) {
        fsOf(spark, root).mkdirs(tmp)
        LocalParquet.write(spark.sparkContext.hadoopConfiguration,
          new Path(tmp, "part-00000.parquet"), schema, rows)
      } else
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.parquet(tmp.toString)
    }

  /** Delete every `snap_*` directory directly under `root` that
    * `keep(current)` does not name — by default all but the one
    * `_latest` names. A no-op without a pointer. Writer-only, after a
    * grace period covering the longest in-flight read of a superseded
    * snapshot. Returns the number of directories deleted. */
  def vacuumSnapDirs(spark: SparkSession, root: String,
                     keep: String => Set[String] = Set(_)): Int =
    currentSnap(spark, root).fold(0) { cur =>
      val kept = keep(cur)
      val fs = fsOf(spark, root)
      fs.listStatus(new Path(root)).count { st =>
        val n = st.getPath.getName
        val stale = st.isDirectory && n.startsWith("snap_") && !kept(n)
        if (stale) fs.delete(st.getPath, true)
        stale
      }
    }

  /** All snap names on disk, ascending by commit order. */
  def snaps(spark: SparkSession, root: String): Seq[String] = {
    val fs = fsOf(spark, root)
    val dir = new Path(root, SnapsDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("snap_")).sorted.toSeq
  }

  /** The snapshots a keep-last-2 GC must retain: the current one plus
    * the most recent other — in-flight readers of the previous
    * snapshot stay valid through one maintenance cycle (the scd2Sink
    * GC discipline). */
  def keepLast2(spark: SparkSession, root: String): Seq[String] =
    currentSnap(spark, root).toSeq.flatMap { cur =>
      (snaps(spark, root).filter(_ != cur).lastOption.toSeq :+ cur)
    }
}
