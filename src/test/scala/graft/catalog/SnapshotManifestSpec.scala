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

  /** Arm `point` so each pass runs `compete` — a competing commit — and
    * re-arms: a writer reaching it loses every race. Returns the
    * versions the competitor published, in order. */
  private def loseEvery(root: String, point: String)(compete: => Unit)
      : scala.collection.mutable.Buffer[String] = {
    val won = scala.collection.mutable.Buffer.empty[String]
    lazy val thunk: () => Unit = () => {
      compete
      won += SnapshotManifest.currentSnap(spark, root).get
      SnapshotManifest.testInterleave = Some((point, thunk))
    }
    SnapshotManifest.testInterleave = Some((point, thunk))
    won
  }

  /** A competing commit of a manifest table: the current parts again,
    * as a new snapshot. */
  private def recommit(root: String): Unit =
    SnapshotManifest.commit(spark, root,
      SnapshotManifest.currentParts(spark, root).get)

  /** `write` exhausts the retry loop: the error names the root and says
    * to serialize writers. */
  private def givesUp(root: String)(write: => Unit): Unit = {
    val e = intercept[IllegalStateException] {
      try write finally SnapshotManifest.testInterleave = None
    }
    assert(e.getMessage.contains(root) &&
      e.getMessage.contains("serialize writers"), e.getMessage)
  }

  private def names(dir: String): Set[String] =
    hfs.listStatus(new Path(dir)).map(_.getPath.getName).toSet

  test("a writer that loses every race gives up, leaves the competitor's version and no staged files") {
    // Layout append (stages once): readers see the competitor's last
    // snapshot without the loser's row; its staged part is deleted
    val t = scratchDir("graft_cas_lose") + "/t"
    def rows(ts: Long) = Seq(("S1", ts, 1.0)).toDF("symbol", "ts", "v")
    Layout.writeClusteredZoned(rows(1L), t, "symbol", "ts",
      numBuckets = 2, filesPerBucket = 1)
    val appends = loseEvery(t, "append-before-flip")(recommit(t))
    givesUp(t)(Layout.appendClusteredZoned(rows(0L), t, "symbol", "ts",
      numBuckets = 2, filesPerBucket = 1))
    assert(SnapshotManifest.currentSnap(spark, t) == appends.lastOption)
    assert(Layout.read(spark, t, "symbol", "ts", numBuckets = 2)
      .select($"ts").as[Long].collect().toSeq == Seq(1L))
    assert(names(s"$t/_manifests") ==
      SnapshotManifest.currentParts(spark, t).get.toSet)

    // LshIndex append (stages once)
    val lsh = scratchDir("graft_cas_lose") + "/lsh"
    def doc(id: Long) = Seq((id, s"doc $id alpha beta gamma delta"))
      .toDF("doc_id", "text")
    graft.pipeline.LshIndex.build(doc(1L), lsh, "doc_id", "text")
    val lshAppends = loseEvery(lsh, "lsh-before-flip")(recommit(lsh))
    givesUp(lsh)(graft.pipeline.LshIndex.append(doc(0L), lsh))
    assert(SnapshotManifest.currentSnap(spark, lsh) == lshAppends.lastOption)
    assert(names(s"$lsh/_manifests") ==
      SnapshotManifest.currentParts(spark, lsh).get.toSet)

    // RegistryStore.persist (restages): only the competitor's version
    // files remain
    val reg = scratchDir("graft_cas_lose") + "/reg"
    graft.plans.RegistryStore.persist(spark, reg)
    val first = SnapshotManifest.currentSnap(spark, reg).get
    val persisted = loseEvery(reg, "registry-before-flip") {
      graft.plans.RegistryStore.persist(spark, reg)
    }
    givesUp(reg)(graft.plans.RegistryStore.persist(spark, reg))
    assert(SnapshotManifest.currentSnap(spark, reg) == persisted.lastOption)
    val versions = names(reg).filter(_.startsWith("reg_"))
    assert(versions.contains(persisted.last) &&
      versions.subsetOf(persisted.toSet + first), versions.toString)

    // StatsCache.writeBack (restages): the competitor publishes a copy
    // of the current snapshot each time; readers see it without the
    // loser's key, and no staged snapshot directory remains
    val dir = scratchDir("graft_cas_lose") + "/stats"
    new StatsCache(spark, dir, Seq("symbol"))
      .writeBack(Seq(("K0", 0.0)).toDF("symbol", "cov"))
    val firstSnap = SnapshotManifest.currentSnap(spark, dir).get
    val written = loseEvery(dir, "statscache-before-flip") {
      val next = SnapshotManifest.newSnapName()
      org.apache.hadoop.fs.FileUtil.copy(hfs,
        new Path(dir, SnapshotManifest.currentSnap(spark, dir).get), hfs,
        new Path(dir, next), false, spark.sparkContext.hadoopConfiguration)
      SnapshotManifest.flip(spark, dir, next)
    }
    givesUp(dir)(new StatsCache(spark, dir, Seq("symbol"))
      .writeBack(Seq(("LOSER", -1.0)).toDF("symbol", "cov")))
    assert(SnapshotManifest.currentSnap(spark, dir) == written.lastOption)
    assert(new StatsCache(spark, dir, Seq("symbol"))
      .probe(Seq("K0", "LOSER").toDF("symbol")).select($"symbol").as[String]
      .collect().toSeq == Seq("K0"))
    assert(snapDirs(dir).subsetOf(written.toSet + firstSnap),
      snapDirs(dir).toString)
  }
}
