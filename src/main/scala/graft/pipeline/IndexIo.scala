package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.hadoop.fs.Path
import java.nio.charset.StandardCharsets
import graft.catalog.SnapshotManifest

/** THE snapshot-directory format of every persisted pipeline index
  * ([[IvfIndex]], [[PqIndex]], [[Bpe]], the term indexes): one
  * complete version per `<root>/snap_<token>/` directory, its `_meta`
  * file of `key value` lines naming its kind and pinned parameters,
  * and the `<root>/_latest` pointer naming the current version.
  * [[publish]] is the only writer of that shape and [[open]] the only
  * reader, so the naming, the `_meta` layout, the missing-pointer
  * error and the flip are decided here once. The flip itself is
  * [[graft.catalog.SnapshotManifest.flip]]: a crash before it leaves
  * readers on the previous version and the new directory unreferenced
  * ([[SnapshotManifest.vacuumSnapDirs]] reclaims it).
  */
private[pipeline] object IndexIo {

  /** Publish one version: `write` fills a fresh snapshot directory
    * (it is handed the directory path), `meta` lands as its `_meta`,
    * then `_latest` flips to it. */
  def publish(spark: SparkSession, root: String, meta: Seq[(String, String)])
             (write: String => Unit): Unit = {
    val snap = SnapshotManifest.newSnapName()
    val dir = s"$root/$snap"
    write(dir)
    writeMeta(spark, dir, meta)
    SnapshotManifest.failpoint("index-before-flip")
    SnapshotManifest.flip(spark, root, snap)
  }

  /** The current version of a `kind` index at `root`: its directory
    * and `_meta`. Throws `FileNotFoundException` when nothing was
    * published there, `IllegalArgumentException` for another kind. */
  def open(spark: SparkSession, root: String,
           kind: String): (String, Map[String, String]) = {
    val snap = SnapshotManifest.currentSnap(spark, root).getOrElse(
      throw new java.io.FileNotFoundException(
        s"$root/${SnapshotManifest.LatestFile}"))
    val dir = s"$root/$snap"
    val meta = readMeta(spark, dir)
    require(meta.get("kind").contains(kind), s"$dir is not a '$kind' index")
    (dir, meta)
  }

  /** Write `key value` metadata lines into `<dir>/_meta` — also the
    * root-level parameter file of [[LshIndex]]. */
  def writeMeta(spark: SparkSession, dir: String,
                kv: Seq[(String, String)]): Unit = {
    val p = new Path(dir, "_meta")
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, true)
    try out.write(kv.map { case (k, v) => s"$k $v" }.mkString("\n")
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Parse `<dir>/_meta` back into a key → value map. */
  def readMeta(spark: SparkSession, dir: String): Map[String, String] = {
    val p = new Path(dir, "_meta")
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
    text.linesIterator.map(_.trim).filter(_.nonEmpty).map { l =>
      val Array(k, v) = l.split(" ", 2); k -> v
    }.toMap
  }
}
