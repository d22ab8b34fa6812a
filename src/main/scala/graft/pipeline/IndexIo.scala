package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.hadoop.fs.Path
import java.nio.charset.StandardCharsets

/** The `_meta` file of a persisted pipeline artifact ([[IvfIndex]],
  * [[PqIndex]], [[Bpe]], the term indexes, [[LshIndex]]): `key value`
  * lines naming its kind and pinned parameters. Written into a
  * snapshot directory before the [[graft.catalog.SnapshotManifest]]
  * flip that publishes it, so a reader never sees a partial one.
  */
private[pipeline] object IndexIo {

  /** Write `key value` metadata lines into `<dir>/_meta`. */
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
