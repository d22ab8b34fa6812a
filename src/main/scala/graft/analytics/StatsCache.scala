package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path
import graft.catalog.SnapshotManifest

/** Materialized statistics memoization — the reference's
  * `statistics_cache` table (`sql/schema.sql:101-110`): probe before
  * compute (`portfolio.js:329-345`), upsert write-back
  * (`portfolio.js:427-445`), `updated_at` staleness column.
  *
  * Storage is snapshot-versioned (each write-back lands in a fresh
  * `snap_*` directory and flips a `_latest` pointer) so in-flight
  * readers of the previous snapshot never see files vanish — the
  * minimal copy-on-write table-format pattern; swap for Delta/Iceberg
  * MERGE at production scale. Workflow-level caching (SURVEY §4): no
  * custom Catalyst rule needed. The cache table is tiny relative to
  * the fact table — probes are broadcast semi-joins and a miss costs
  * exactly one statistics job for all missing keys together (the
  * reference pays a per-symbol loop).
  *
  * Concurrency: many readers, and write-backs from any number of
  * writers. A write-back stages its merged rows in a fresh `snap_*`
  * directory and publishes it compare-and-swap against the snapshot it
  * merged from, through the one retry loop
  * ([[graft.catalog.SnapshotManifest.publish]]): a writer that lost
  * the race has its staged directory deleted, re-merges over the
  * winner's snapshot and retries (bounded attempts), so two racing
  * write-backs both land. Run [[vacuum]] after a grace period
  * covering the longest in-flight read of the previous snapshot.
  */
class StatsCache(spark: SparkSession, root: String, keyCols: Seq[String]) {
  import graft.ops.Kernels

  private def read(snap: Option[String]): Option[DataFrame] =
    snap.map(s => spark.read.parquet(new Path(root, s).toString))

  /** Cached rows for the requested keys (semi-join probe). */
  def probe(keys: DataFrame): DataFrame = {
    val keyset = keys.select(keyCols.map(col): _*).distinct()
    read(SnapshotManifest.currentSnap(spark, root)) match {
      case Some(df) => df.join(broadcast(keyset), keyCols, "left_semi")
      case None     => keys.sparkSession.emptyDataFrame
    }
  }

  /** Upsert freshly computed stats (stamped with updated_at). */
  def writeBack(fresh: DataFrame): Unit = {
    val stamped = fresh.withColumn("updated_at", current_timestamp())
    SnapshotManifest.publish(spark, root, "stats cache write-back",
        "statscache-before-flip") { expected =>
      val merged = read(expected) match {
        case Some(existing) =>
          Kernels.upsert(existing,
            stamped.select(existing.columns.map(col): _*), keyCols)
        case None => stamped
      }
      val snap = SnapshotManifest.newSnapName()
      merged.write.mode("overwrite").parquet(new Path(root, snap).toString)
      Some(SnapshotManifest.PointerOffer(snap))
    }
  }

  /** Drop all snapshots except the current one. */
  def vacuum(): Unit = SnapshotManifest.vacuumSnapDirs(spark, root)

  /** Compute-through: cached rows for hit keys; `compute` runs ONCE
    * for all missing keys (vs the reference's per-key query loop,
    * portfolio.js:359-424); results are written back. */
  def getOrCompute(keys: DataFrame, compute: DataFrame => DataFrame): DataFrame = {
    val hits = probe(keys)
    val allKeys = keys.select(keyCols.map(col): _*).distinct()
    val missKeys =
      if (hits.columns.isEmpty) allKeys // cold cache: everything misses
      else allKeys.join(hits.select(keyCols.map(col): _*), keyCols, "left_anti")
    if (!missKeys.isEmpty) {
      val fresh = compute(missKeys)
      writeBack(fresh)
    }
    // re-probe against the (possibly new) snapshot so the returned
    // frame reads one consistent version
    probe(keys)
  }
}
