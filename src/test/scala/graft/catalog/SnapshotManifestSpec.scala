package graft.catalog

import graft.SparkSpec
import graft.analytics.StatsCache
import graft.pipeline.IvfIndex
import org.apache.hadoop.fs.Path

/** The one commit protocol: artifacts named by an older writer keep
  * loading and vacuuming under it. */
class SnapshotManifestSpec extends SparkSpec {
  import spark.implicits._

  private def hfs = org.apache.hadoop.fs.FileSystem
    .get(spark.sparkContext.hadoopConfiguration)

  /** Rename the current snapshot directory under `root` to the
    * `snap_<nanoTime>` form older writers used, point a plain
    * (non-renamed) `_latest` at it as they did, and leave one stale
    * older directory beside it. */
  private def toNanoNames(root: String): String = {
    val cur = SnapshotManifest.currentSnap(spark, root).get
    val nano = s"snap_${System.nanoTime()}"
    assert(hfs.rename(new Path(root, cur), new Path(root, nano)))
    val out = hfs.create(new Path(root, "_latest"), true)
    try out.write(nano.getBytes("UTF-8")) finally out.close()
    hfs.mkdirs(new Path(root, "snap_1"))
    nano
  }

  private def snapDirs(root: String): Set[String] =
    hfs.listStatus(new Path(root)).map(_.getPath.getName)
      .filter(_.startsWith("snap_")).toSet

  test("an IVF index and a stats cache named snap_<nanoTime> still load and vacuum") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 3)
    val ivfPath = scratchDir("graft_nanoivf") + "/idx"
    val built = IvfIndex.build(emb, "vec_id", "embedding", nCells = 8)
    def ans(i: IvfIndex) = i.topK(queries, "embedding", k = 5, nProbe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    built.save(ivfPath)
    val nanoIvf = toNanoNames(ivfPath)
    val loaded = IvfIndex.load(spark, ivfPath)
    assert(ans(loaded) == ans(built))
    IvfIndex.vacuum(spark, ivfPath)
    assert(snapDirs(ivfPath) == Set(nanoIvf))
    assert(ans(IvfIndex.load(spark, ivfPath)) == ans(built))
    built.close(); loaded.close()

    val cacheDir = scratchDir("graft_nanocache") + "/stats"
    val cache = new StatsCache(spark, cacheDir, Seq("symbol"))
    cache.writeBack(Seq(("AAA", 1.0), ("BBB", 2.0)).toDF("symbol", "cov"))
    val nanoCache = toNanoNames(cacheDir)
    def probed = cache.probe(Seq("AAA", "BBB").toDF("symbol"))
      .select("symbol", "cov").as[(String, Double)].collect().toMap
    assert(probed == Map("AAA" -> 1.0, "BBB" -> 2.0))
    cache.vacuum()
    assert(snapDirs(cacheDir) == Set(nanoCache))
    // the next write-back merges over the old-named snapshot
    cache.writeBack(Seq(("BBB", 3.0)).toDF("symbol", "cov"))
    assert(probed == Map("AAA" -> 1.0, "BBB" -> 3.0))
    cache.vacuum()
    assert(snapDirs(cacheDir) == Set(SnapshotManifest.currentSnap(spark, cacheDir).get))
  }
}
