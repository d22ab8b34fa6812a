package graft.catalog

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ZoneMapSpec extends SparkSpec {
  import spark.implicits._

  private val path = scratchDir("graft_zm_spec")

  private def written() = {
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val df = spark.range(0, 10000)
      .select($"id", ($"id" % 100).as("v"), ($"id" * 7 % 1000).as("z"))
    ZoneMap.writeRangeClustered(df, path, "z", numFiles = 10)
    df
  }

  test("manifest has one tight zone per file; zones are near-disjoint") {
    written()
    val m = ZoneMap.manifest(spark, path, "z")
      .select($"zmin", $"zmax").as[(Long, Long)].collect().sortBy(_._1)
    assert(m.length == 10)
    // range clustering ⟹ consecutive files don't interleave ranges
    m.sliding(2).foreach { case Array((_, aMax), (bMin, _)) =>
      assert(aMax <= bMin, s"overlapping zones: $aMax > $bMin")
    }
  }

  test("readRange scans only overlapping files and returns exact rows") {
    val df = written()
    val pruned = ZoneMap.readRange(spark, path, "z", lit(100L), lit(199L))
    val exp = df.filter($"z" >= 100 && $"z" <= 199)
      .select($"id").as[Long].collect().toSet
    assert(pruned.select($"id").as[Long].collect().toSet == exp)
    // ~1/10 of the value space → a 10-file layout must skip most files
    assert(pruned.inputFiles.length <= 3,
      s"expected ≤3 files scanned, got ${pruned.inputFiles.length}")
  }

  test("a range overlapping nothing reads nothing") {
    written()
    val pruned = ZoneMap.readRange(spark, path, "z", lit(5000L), lit(6000L))
    assert(pruned.count() == 0)
    assert(pruned.inputFiles.isEmpty)
  }

  test("write-time manifest: a range read opens ZERO non-matching data files") {
    val cpath = scratchDir("graft_zm_manifest_spec")
    val root = new org.apache.hadoop.fs.Path(cpath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val df = spark.range(0, 8000)
      .select(concat(lit("S"), $"id" % 8).as("symbol"),
        ($"id" / 8).cast("long").as("ts"), $"id".as("payload"))
    Layout.writeClusteredZoned(df, cpath, "symbol", "ts",
      numBuckets = 4, filesPerBucket = 4)
    // the snapshot-manifest log landed next to the data at write time
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "_latest")))
    assert(Layout.manifest(spark, cpath).nonEmpty)
    def read() = Layout.read(spark, cpath, "symbol", "ts", numBuckets = 4,
      symbolEq = Some("S3"), timeRange = Some((lit(100L), lit(299L))))
    val exp = df.filter($"symbol" === "S3" && $"ts".between(100, 299))
      .select($"payload").as[Long].collect().toSet
    val matched = read().inputFiles.map(f =>
      fs.makeQualified(new org.apache.hadoop.fs.Path(new java.net.URI(f))).toString).toSet
    assert(matched.nonEmpty)
    // corrupt EVERY data file outside the pruned set: if the read (or
    // its zone derivation) touched any of them — even just the footer —
    // it would now throw, so a green read proves zero cold-file opens
    val it = fs.listFiles(root, true)
    var corrupted = 0
    while (it.hasNext) {
      val st = it.next()
      val q = fs.makeQualified(st.getPath).toString
      if (st.getPath.getName.endsWith(".parquet") && q.contains("sym_bucket=") &&
          !matched(q)) {
        val out = fs.create(st.getPath, true)
        out.write("not parquet".getBytes); out.close()
        corrupted += 1
      }
    }
    assert(corrupted > 0)
    assert(read().select($"payload").as[Long].collect().toSet == exp)
  }

  test("Layout.read composes bucket pruning AND zone skipping") {
    val cpath = scratchDir("graft_zm_layout_spec")
    val fs = new org.apache.hadoop.fs.Path(cpath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(cpath), true)
    // 8 symbols × 1000 ts each, 4 buckets × 4 time-sliced files
    val df = spark.range(0, 8000)
      .select(concat(lit("S"), $"id" % 8).as("symbol"),
        ($"id" / 8).cast("long").as("ts"), $"id".as("payload"))
    Layout.writeClusteredZoned(df, cpath, "symbol", "ts",
      numBuckets = 4, filesPerBucket = 4)
    val total = spark.read.parquet(cpath).inputFiles.length

    def read(sym: Option[String], range: Option[(Long, Long)]) =
      Layout.read(spark, cpath, "symbol", "ts", numBuckets = 4,
        symbolEq = sym,
        timeRange = range.map { case (lo, hi) => (lit(lo), lit(hi)) })

    val keyOnly = read(Some("S3"), None)
    val both = read(Some("S3"), Some((100L, 299L)))
    // NOTE inputFiles ignores Catalyst partition pruning, so the
    // bucket cut is asserted via the explicit file list the zone read
    // produces; the key-only partition-filter path is pinned by
    // LayoutSpec. Combined: ≤ 1 bucket's share of files, then ≤ the
    // overlapping time slices of that bucket.
    val nBoth = both.inputFiles.length
    assert(nBoth < total / 4 + 1,
      s"combined pruning left $nBoth of $total files")
    // correctness never depends on pruning
    val exp = df.filter($"symbol" === "S3" && $"ts".between(100, 299))
      .select($"payload").as[Long].collect().toSet
    assert(both.select($"payload").as[Long].collect().toSet == exp)
    assert(keyOnly.select($"payload").as[Long].collect().toSet ==
      df.filter($"symbol" === "S3").select($"payload").as[Long].collect().toSet)
    // key+range through one entry point ≡ key-only then exact filter
    assert(both.count() ==
      keyOnly.filter($"ts".between(100, 299)).count())
  }
}
