package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Storage layout for the fact table — the Spark analog of the
  * reference's clustered composite PK `Stocks(symbol, timestamp)`
  * (`sql/schema.sql:9`, SURVEY §4): partition by a bounded symbol
  * bucket, sort within partitions by (symbol, timestamp).
  *
  * Effects at scale:
  *   - per-symbol scans prune to one bucket directory
  *     (`PartitionFilters` in the plan — only 1/numBuckets of files
  *     touched);
  *   - within files, rows are (symbol, ts)-clustered so parquet
  *     min/max row-group stats prune time ranges;
  *   - windows/latest-per-key over (symbol, ts) read presorted data.
  *
  * Directory partitioning by raw symbol would create one directory
  * per symbol (fine for 500 S&P symbols, catastrophic for unbounded
  * keys) — the hash bucket bounds directory count at any cardinality.
  *
  * MAINTENANCE IS CRASH-ATOMIC: zoned tables carry a
  * [[SnapshotManifest]] log (`_manifests/` parts + `_snaps/` +
  * `_latest` pointer). [[appendClusteredZoned]], [[delete]]
  * (merge-on-read deletion vectors) and [[compact]] write ONLY NEW
  * files, then flip the pointer last; [[read]] resolves the live file
  * list (and the live deletion vector) from the manifest, never from
  * directory discovery, so a crash at any point of a maintenance op
  * leaves every reader on the previous complete snapshot — no
  * silently partial table, ever. Dead files are reclaimed by
  * [[vacuum]] (keep-last-2). Snapshots are the time-travel axis
  * ([[read]]'s asOfSnap) and the change-feed axis ([[changes]]).
  * SINGLE WRITER, many readers ([[SnapshotManifest]]'s protocol) —
  * backstopped by optimistic concurrency: every incremental mutator
  * (append/delete/expire/compact) captures the snapshot it read and
  * commits compare-and-swap against it
  * ([[SnapshotManifest.commit]]'s `expectedSnap`), so two
  * maintainers racing (compact + delete) can never silently drop
  * each other's parts — the loser throws
  * [[SnapshotManifest.ConcurrentCommitException]] and retries
  * against the winner's snapshot.
  *
  * ONE READER, ONE LISTER, ONE LIVE-ROW SCAN: this object is the only
  * reader of a Layout snapshot log's parts — the hop classifiers of
  * [[graft.plans.TableState]] read fresh files, provenance and part
  * row counts through it, on the driver and without a Spark job. The
  * part kinds (`m_` zone manifest, `dv_` deletion vector, `bf_` bloom
  * index, `rw_`/`rs_` maintenance provenance) and the provenance name
  * format are known here alone. Every walk of a table's data files is
  * [[listData]] (Spark's listing rule, optionally scoped to the
  * `sym_bucket=` directories), and every merge-on-read scan is
  * [[liveScan]] (scan, drop the deletion vector's positions).
  */
object Layout {
  import SnapshotManifest.failpoint

  def bucketOf(symbol: org.apache.spark.sql.Column, numBuckets: Int) =
    pmod(xxhash64(symbol), lit(numBuckets))

  /** Write a time-series frame in the clustered layout. */
  def writeClustered(df: DataFrame, path: String, symbol: String,
                     time: String, numBuckets: Int = 16): Unit =
    df.withColumn("sym_bucket", bucketOf(col(symbol), numBuckets))
      .repartition(col("sym_bucket"))
      .sortWithinPartitions(col(symbol), col(time))
      .write.mode("overwrite")
      .partitionBy("sym_bucket")
      .parquet(path)

  /** Read back with a symbol predicate that prunes partitions: the
    * bucket filter is derivable from the symbol filter, so only one
    * directory is listed/scanned. */
  def readSymbol(spark: SparkSession, path: String, symbolValue: String,
                 symbol: String = "symbol", numBuckets: Int = 16): DataFrame =
    spark.read.parquet(path)
      .filter(col("sym_bucket") === bucketOf(lit(symbolValue), numBuckets) &&
        col(symbol) === symbolValue)

  /** Clustered AND zoned write — the full table layout: bucket
    * directories bound key-equality scans ([[readSymbol]]'s pruning),
    * and WITHIN each bucket the rows are range-sliced on `time` into
    * `filesPerBucket` files so each file covers a tight time zone
    * ([[ZoneMap]] skipping). `repartitionByRange(bucket, time)` yields
    * contiguous (bucket, time) slices; `partitionBy` then lands each
    * slice in its bucket directory (a slice straddling two buckets
    * just writes one file into each).
    *
    * The zone manifest (one row per data file: relative path, bucket,
    * zmin, zmax — the Delta/Iceberg stats-manifest shape) is persisted
    * AT WRITE TIME under the [[SnapshotManifest]] log: [[read]]
    * consults it instead of re-deriving zones from data files per
    * query, which at 100× files is a metadata job per read.
    *
    * This is the destructive TABLE-(RE)CREATE path — mode=overwrite
    * replaces the directory wholesale (including any previous snapshot
    * log), so it is NOT safe against concurrent readers; use
    * [[appendClusteredZoned]] + [[compact]] for all incremental
    * maintenance, which IS crash-atomic. */
  def writeClusteredZoned(df: DataFrame, path: String, symbol: String,
                          time: String, numBuckets: Int = 16,
                          filesPerBucket: Int = 4): Unit = {
    df.withColumn("sym_bucket", bucketOf(col(symbol), numBuckets))
      .repartitionByRange(numBuckets * filesPerBucket,
        col("sym_bucket"), col(time))
      .sortWithinPartitions(col(symbol), col(time))
      .write.mode("overwrite")
      .partitionBy("sym_bucket")
      .parquet(path)
    writeZoneManifest(df.sparkSession, path, time)
  }

  /** (Re)build the zone manifest from the table's CURRENT data files
    * and commit it as a fresh single-part snapshot: one pass over the
    * table (column-pruned to `time`), bounded by FILE count, not rows.
    * Doubles as the legacy-table migration and the repair tool —
    * NOTE it trusts directory contents, so when recovering from a
    * crashed maintenance op run [[vacuum]] FIRST to drop the dead
    * files a crashed append/compact may have left, or they are
    * resurrected into the new snapshot. */
  def writeZoneManifest(spark: SparkSession, path: String, time: String): Unit = {
    val files =
      try listData(SnapshotManifest.fsOf(spark, path), new Path(path), buckets = true)
      catch { case _: java.io.FileNotFoundException => Nil }
    val (schema, rows) = zoneRows(spark, path, time, files)
    commitPart(spark, path, schema, rows)
  }

  /** The CURRENT zone manifest (file, sym_bucket, zmin, zmax,
    * n_rows) — union of the live snapshot's parts. None when the
    * table has no snapshot log (legacy [[writeClustered]] layout). */
  def manifest(spark: SparkSession, path: String): Option[DataFrame] =
    manifestAsOf(spark, path, None)

  /** The zone manifest of a SPECIFIC snapshot (`snap` from
    * [[snapshots]]), or the current one when None. A named snap that
    * doesn't exist throws rather than silently falling back.
    * mergeSchema: manifest parts written before a stats column was
    * added (n_rows) union with newer deltas — old entries read NULL
    * for the new stat; consumers treat NULL as stat-unknown. The
    * footer cost is per manifest PART (a handful of tiny files),
    * not per data file. */
  def manifestAsOf(spark: SparkSession, path: String,
                   snap: Option[String]): Option[DataFrame] =
    partsAsOf(spark, path, snap).map(zoneManifest(spark, path, _))

  /** The zone manifest of an already-resolved part list — the union
    * of its `m_` parts. */
  private def zoneManifest(spark: SparkSession, path: String,
                           parts: Seq[String]): DataFrame = {
    val ps = parts.filter(_.startsWith("m_"))
      .map(p => SnapshotManifest.partPath(path, p))
    // Zone manifests are METADATA — O(file-count) rows — and every
    // lifecycle op / pruned read touches them several times, so the
    // common homogeneous-schema case is read ON THE DRIVER and
    // returned as a LocalRelation: downstream filters/projections
    // fold at optimization time (ConvertToLocalRelation) and every
    // `.collect()` over it is job-free, with Catalyst still
    // evaluating the expressions — semantics identical to the
    // spark.read path by LocalParquetSpec's pinned type mapping.
    // Oversized (>64 MB) or type-exotic or schema-heterogeneous
    // manifests fall back to the distributed read; mergeSchema
    // (a distributed footer-merge JOB) only for genuinely
    // heterogeneous parts.
    val sts =
      try partFiles(spark, path, parts.filter(_.startsWith("m_")))
      catch { case scala.util.control.NonFatal(_) => Seq.empty }
    LocalParquet.readAll(
        spark.sparkContext.hadoopConfiguration, sts) match {
      case Some((schema, rows)) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      case None =>
        if (ps.lengthCompare(1) == 0) spark.read.parquet(ps.head)
        else {
          val schemas = ps.map(p => spark.read.parquet(p).schema).distinct
          if (schemas.lengthCompare(1) == 0)
            spark.read.schema(schemas.head).parquet(ps: _*)
          else spark.read.option("mergeSchema", "true").parquet(ps: _*)
        }
    }
  }

  /** The part list of `snap` (the current snapshot when None). Each op
    * resolves it ONCE and derives its manifest and deletion vector
    * from that one list: resolving `_latest` twice could pair one
    * snapshot's files with the next one's deletion vector. */
  private def partsAsOf(spark: SparkSession, path: String,
                        snap: Option[String]): Option[Seq[String]] =
    snap.fold(SnapshotManifest.currentParts(spark, path))(s =>
      Some(SnapshotManifest.partsOf(spark, path, s)))

  /** The snapshot a maintenance op bases its work on — a legacy table
    * is migrated first — and its part list, read once: the op's
    * manifest, deletion vector and CAS commit all see one snapshot. */
  private def baseOf(spark: SparkSession, path: String,
                     time: String): (Option[String], Seq[String]) = {
    if (SnapshotManifest.currentSnap(spark, path).isEmpty)
      writeZoneManifest(spark, path, time) // migrate legacy table
    val snap = SnapshotManifest.currentSnap(spark, path)
    (snap, snap.fold(Seq.empty[String])(SnapshotManifest.partsOf(spark, path, _)))
  }

  /** THE data-file lister: every walk of a table's data files, and of
    * a manifest part's files, is this one. Spark's listing rule: a
    * path component that starts with `_` or `.` (markers, checksums,
    * the snapshot log itself) is not data. `buckets` scopes the walk
    * to the files directly inside `root`'s `sym_bucket=` directories —
    * a Layout table's data files, all that [[vacuum]] may reclaim;
    * otherwise every visible file at any depth (a plain parquet
    * directory, a manifest part). Returns each file's path relative to
    * `root` with its status; a missing `root` throws. */
  private[graft] def listData(fs: FileSystem, root: Path,
                              buckets: Boolean = false): Seq[(String, FileStatus)] = {
    def walk(dir: Path, rel: String, depth: Int): Seq[(String, FileStatus)] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        val n = st.getPath.getName
        val r = if (rel.isEmpty) n else s"$rel/$n"
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (st.isDirectory) {
          if (!buckets || depth == 0 && n.startsWith("sym_bucket="))
            walk(st.getPath, r, depth + 1)
          else Nil
        } else if (!buckets || depth == 1) Seq(r -> st)
        else Nil
      }
    walk(root, "", 0)
  }

  /** The files of the manifest parts `parts`. */
  private def partFiles(spark: SparkSession, path: String,
                        parts: Seq[String]): Seq[FileStatus] =
    parts.flatMap(p => listData(SnapshotManifest.fsOf(spark, path),
      new Path(SnapshotManifest.partPath(path, p))).map(_._2))

  /** The fixed schema of every `dv_*` part (what `spark.read` infers
    * from one, all fields nullable) — given to the reader, so building
    * a deletion-vector scan launches no schema-inference job. */
  private val DvSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "file STRING, sym_bucket BIGINT, row_index BIGINT")

  /** The live deletion vector of a part list — union of its `dv_*`
    * parts, one row per deleted position (file, sym_bucket,
    * row_index) — or None when the snapshot carries no deletes. The
    * schema is a constant, so building the frame runs no job.
    *
    * JOIN-STRATEGY PIN: the [[liveScan]] anti-join must never
    * degenerate — a tiny DV broadcasts (the common case), but a DV
    * that outgrew the broadcast threshold must degrade to a SHUFFLED
    * hash join, not a sort-merge (pointless double sort on position
    * keys) and certainly not a nested loop. The decision is made here
    * from METADATA: the dv parts' on-disk bytes (O(parts) filesystem
    * calls — the same size estimate Spark's own join selection reads
    * from file statistics) against the session broadcast threshold;
    * oversized (or broadcast-disabled) DVs carry a `shuffle_hash`
    * hint on the build side. */
  private def deletionVector(spark: SparkSession, path: String,
                             parts: Seq[String]): Option[DataFrame] = {
    val dv = parts.filter(_.startsWith("dv_"))
    if (dv.isEmpty) None
    else {
      val df = spark.read.schema(DvSchema).parquet(
        dv.map(p => SnapshotManifest.partPath(path, p)): _*)
      val fs = SnapshotManifest.fsOf(spark, path)
      val bytes = dv.map(p => fs.getContentSummary(
        new Path(SnapshotManifest.partPath(path, p))).getLength).sum
      val thr = org.apache.spark.sql.internal.SQLConf.get
        .autoBroadcastJoinThreshold
      Some(if (thr >= 0 && bytes <= thr) df else df.hint("shuffle_hash"))
    }
  }

  /** Σ rows of the manifest parts `parts`, from their footers — exact,
    * and no job. */
  private[graft] def partRows(spark: SparkSession, path: String,
                              parts: Seq[String]): Long =
    LocalParquet.footerRows(spark.sparkContext.hadoopConfiguration,
      partFiles(spark, path, parts))

  /** The rows of the manifest part `part` — None when it holds none.
    * Emptiness and the schema come from the part's footers, so
    * building the frame runs no job. */
  private[graft] def partContent(spark: SparkSession, path: String,
                                 part: String): Option[DataFrame] = {
    val files = partFiles(spark, path, Seq(part))
    val conf = spark.sparkContext.hadoopConfiguration
    if (LocalParquet.footerRows(conf, files) == 0L) None
    else Some(LocalParquet.sparkSchemaOf(conf, files.head.getPath)
      .fold(spark.read)(spark.read.schema)
      .parquet(SnapshotManifest.partPath(path, part)))
  }

  /** A maintenance commit's provenance part, as the hop classifiers
    * ([[graft.plans.TableState]]) read it: a [[compact]]'s `rw_`
    * change-data part (`rewrite`) or an [[expireBefore]]'s `rs_`
    * dropped-file list, naming the snapshot `base` the commit
    * rewrote. */
  private[graft] final case class Provenance(part: String, base: String,
                                             rewrite: Boolean)

  /** THE provenance part name: `rw_<base>__<token>` for a rewrite,
    * `rs_<base>__<token>` for an expiry. */
  private def provenanceName(rewrite: Boolean, base: String): String =
    s"${if (rewrite) "rw" else "rs"}_${base}__${SnapshotManifest.token()}"

  /** THE provenance-name parser; None for every other part kind. */
  private[graft] def provenanceOf(part: String): Option[Provenance] =
    if (part.startsWith("rw_") || part.startsWith("rs_"))
      Some(Provenance(part, part.drop(3).split("__")(0), part.startsWith("rw_")))
    else None

  /** Is `parts` a bare maintenance commit carrying `p`: ONE folded zone
    * part plus the provenance? An expiry may also carry deletion-vector
    * and bloom parts, which add no plain rows. Anything else means the
    * history between `p.base` and this commit was pruned. */
  private[graft] def bareMaintenance(parts: Seq[String], p: Provenance): Boolean =
    parts.count(_.startsWith("m_")) == 1 &&
      parts.forall(q => q == p.part || q.startsWith("m_") ||
        !p.rewrite && (q.startsWith("dv_") || q.startsWith("bf_")))

  /** Scan the data files `rel` (manifest-relative names) of the table
    * at `path` — every Layout scan of live files is built here.
    * Without `mergeSchema` the schema is the one Spark's writer put in
    * the footer of the file Spark's own non-merging inference reads —
    * the first in path order, whatever order the paths are passed in
    * — so the scan is planned without the inference job Spark
    * launches even for one footer. A footer without that key (a
    * non-Spark writer) or one that carries the partition column falls
    * back to the inference. */
  private[graft] def scanFiles(spark: SparkSession, path: String,
                               rel: Seq[String],
                               mergeSchema: Boolean = false): DataFrame = {
    val r = spark.read.option("basePath", path)
    val reader =
      if (mergeSchema) r.option("mergeSchema", "true")
      else LocalParquet.sparkSchemaOf(spark.sparkContext.hadoopConfiguration,
          new Path(path, rel.min))
        .filterNot(_.fieldNames.exists(_.equalsIgnoreCase("sym_bucket")))
        .fold(r)(r.schema)
    reader.parquet(rel.map(f => globEscape(new Path(path, f).toString)): _*)
  }

  /** All retained snapshot names, ascending by commit order — the
    * time-travel axis. Retention is governed by [[vacuum]]
    * (keep-last-2 by default), so history depth is bounded by the
    * maintenance policy, not unbounded growth. */
  def snapshots(spark: SparkSession, path: String): Seq[String] =
    SnapshotManifest.snaps(spark, path)

  /** Build a per-file BLOOM index for `column` — the EQUALITY
    * complement of the zone manifest's range skipping: zones prune by
    * min/max, which is useless for a high-cardinality id scattered
    * across every file's full key range; a per-file bloom lets a point
    * probe (`WHERE order_id = ?`) open only the files that MIGHT
    * contain the value — at 100 TB, the difference between a
    * full-table scan and a handful of file opens. This is the
    * Parquet/Iceberg bloom-filter idea lifted to the table manifest,
    * where it keeps non-matching files off the TASK LIST entirely
    * rather than pruning row groups inside files already opened.
    *
    * One column-pruned distributed pass over the live files (values
    * hashed to longs via codegen xxhash64 — type-agnostic;
    * [[graft.functions.BloomAgg]]), grouped by file with map-side
    * combine; the (file, column, bloom) rows commit as a `bf_*`
    * manifest part under the standing crash contract (pointer flip
    * last, CAS against the base snapshot). Sizing: `expectedItemsPerFile`
    * bounds each filter's bit budget (~1.2 MB per file at 1 M items /
    * 1% fpp — manifest-scale metadata).
    *
    * Lifecycle: INCREMENTAL by default — a re-run after
    * [[appendClusteredZoned]] indexes only the manifest files not yet
    * covered by the column's existing `bf_*` parts (O(appended data),
    * the same delta discipline as every other maintenance op here) and
    * keeps the prior parts; `rebuild = true` rescans everything and
    * replaces them (use after changing fpp/sizing, or to shed entries
    * dangling from expired files). A different column adds an
    * independent index — [[read]] consults the one matching its probe
    * column. Unindexed files are conservatively scanned either way
    * (probes stay exact). [[compact]] rewrites files, so its folded
    * snapshot drops every `bf_*` part — rebuild after compaction.
    * [[expireBefore]] only narrows the file list, so it carries the
    * index forward untouched. */
  def buildBloomIndex(spark: SparkSession, path: String, column: String,
                      time: String, fpp: Double = 0.01,
                      expectedItemsPerFile: Long = 0L,
                      rebuild: Boolean = false): Unit =
    buildBloomIndexes(spark, path, Seq(column), time, fpp,
      expectedItemsPerFile, rebuild)

  /** [[buildBloomIndex]] for SEVERAL columns in ONE table pass — at
    * scale, k indexes for the price of one scan (the aggregation
    * computes k filters per file side by side). Incrementality is
    * per column: each column indexes only the files its existing
    * entries don't cover, and the single delta part carries exactly
    * the missing (file, column) entries. `rebuild = true` rescans the
    * named columns everywhere and drops their superseded parts (a
    * part also carrying OTHER columns' entries is kept — its stale
    * rows for the rebuilt columns degrade reads conservatively, never
    * incorrectly, until their own rebuild).
    *
    * SIZING: `expectedItemsPerFile = 0` (default) auto-sizes the
    * filters from the zone manifest's per-file `n_rows` stat — max
    * over the files being indexed, ×1.25 headroom — so the bit budget
    * tracks actual file fill instead of a caller's guess; an explicit
    * positive value overrides (e.g. distinct count ≪ rows). Falls
    * back to 1M when the stat is absent (pre-stat manifest parts). */
  def buildBloomIndexes(spark: SparkSession, path: String,
                        columns: Seq[String], time: String,
                        fpp: Double = 0.01,
                        expectedItemsPerFile: Long = 0L,
                        rebuild: Boolean = false): Unit = {
    require(columns.nonEmpty && columns.distinct.size == columns.size,
      s"buildBloomIndexes: columns must be non-empty and distinct: $columns")
    val (baseSnap, cur) = baseOf(spark, path, time)
    val m = zoneManifest(spark, path, cur)
    val bfParts = cur.filter(_.startsWith("bf_"))
    // per-column covered file sets + per-part column sets — names
    // only, bounded by part count × FILE count
    val partEntries: Map[String, Array[(String, String)]] = bfParts.map { p =>
      p -> spark.read.parquet(SnapshotManifest.partPath(path, p))
        .select(col("column"), col("file")).collect()
        .map(r => r.getString(0) -> r.getString(1))
    }.toMap
    val covered: Map[String, Set[String]] = columns.map { c =>
      c -> (if (rebuild) Set.empty[String]
            else partEntries.values.flatten
              .collect { case (`c`, f) => f }.toSet)
    }.toMap
    val liveRows: Array[(String, Option[Long])] =
      if (m.columns.contains("n_rows"))
        m.select(col("file"), col("n_rows")).collect().map(r =>
          r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      else m.select(col("file")).collect().map(_.getString(0) -> None)
    val liveFiles = liveRows.map(_._1)
    val toIndex: Map[String, Set[String]] = columns.map { c =>
      c -> liveFiles.filterNot(covered(c)).toSet
    }.toMap
    val toScan = toIndex.values.flatten.toSeq.distinct
    if (toScan.isEmpty) return // fully covered — nothing to commit
    val sized =
      if (expectedItemsPerFile > 0) expectedItemsPerFile
      else {
        val scanSet = toScan.toSet
        val known = liveRows.collect { case (f, Some(n)) if scanSet(f) => n }
        if (known.isEmpty) 1000000L else math.max(64L, known.max * 5 / 4)
      }
    val bloomAggs = columns.map(c =>
      graft.functions.BloomAgg.bloom_agg(
        xxhash64(col(c)), sized, fpp).as(s"__bloom_$c"))
    val agg = scanFiles(spark, path, toScan)
      .groupBy(regexp_extract(col("_metadata.file_path"),
        "(sym_bucket=[^/]+/[^/]+)$", 1).as("file"))
      .agg(bloomAggs.head, bloomAggs.tail: _*)
    // keep only the (file, column) entries actually missing — a tiny
    // broadcast semi-join, never a driver-sized in-list
    val wanted = spark.createDataFrame(
      toIndex.toSeq.flatMap { case (c, fs) => fs.map(f => (f, c)) })
      .toDF("file", "column")
    val entries = columns.map(c =>
        agg.select(col("file"), lit(c).as("column"),
          col(s"__bloom_$c").as("bloom")))
      .reduce(_.unionByName(_))
      .join(broadcast(wanted), Seq("file", "column"), "left_semi")
    // DISTRIBUTED part write (the dv_* discipline): at scale this part
    // is file-count × filter-size of binary — never funnel it through
    // one task the way the row-per-file zone manifests can afford
    val part = SnapshotManifest.stageFrame(spark, path,
      SnapshotManifest.newPartName("bf"), entries)
    // incremental: keep prior parts (per-column file sets disjoint by
    // construction); rebuild: drop parts fully owned by these columns
    val kept =
      if (!rebuild) cur
      else cur.filterNot { p =>
        partEntries.get(p).exists(_.map(_._1).toSet.subsetOf(columns.toSet))
      }
    SnapshotManifest.commit(spark, path, kept :+ part, Some(baseSnap))
  }

  /** Per-file (bucket, zmin, zmax, n_rows) rows for `files`, the data
    * files in the `sym_bucket=` directories under `root` ([[listData]]
    * with `buckets`), with paths RELATIVE
    * to `root` and URI-DECODED (input_file_name returns escaped URIs;
    * see [[literalPath]]); driver memory bounded by FILE count.
    * `n_rows` is the file's PHYSICAL row count (the Delta `numRecords`
    * stat — deletion vectors subtract logically, not here): it sizes
    * [[buildBloomIndexes]]'s filters and weights [[planMaintenance]]
    * without opening data files.
    *
    * FOOTER FAST PATH: per-file (min, max, count) of the zone column
    * already sit in the parquet footers the write just produced —
    * exact for integer/date/timestamp zone types — and the zone type
    * is in the Spark schema of those footers, so the rows come from
    * O(files) driver footer reads and no job runs. Other types
    * (strings, whose binary stats may truncate; doubles), missing
    * stats or a footer without a Spark schema fall back to one
    * column-pruned aggregation job ([[zoneAgg]]); either path yields
    * identical rows and the schema [[zoneSchema]] (LayoutSpec pins
    * both). */
  private def zoneRows(spark: SparkSession, root: String, time: String,
                       files: Seq[(String, FileStatus)])
      : (org.apache.spark.sql.types.StructType, Array[Row]) =
    zoneRowsFromFooters(spark, time, files).getOrElse {
      val fs = SnapshotManifest.fsOf(spark, root)
      val qroot = fs.makeQualified(new Path(root)).toString
      val agg = zoneAgg(spark, root, time)
      (agg.schema, agg.collect().map { r =>
        Row(fs.makeQualified(new Path(new java.net.URI(r.getString(0))))
            .toString.stripPrefix(qroot).stripPrefix("/"),
          r.get(1), r.get(2), r.get(3), r.get(4))
      })
    }

  /** The zone aggregation over every data file under `root` — the
    * fallback of [[zoneRows]]: one column-pruned aggregate job, plus
    * Spark's schema inference when the frame is built. */
  private[catalog] def zoneAgg(spark: SparkSession, root: String,
                               time: String): DataFrame =
    spark.read.option("basePath", root).parquet(root)
      .groupBy(input_file_name().as("file"),
        col("sym_bucket").cast("long").as("sym_bucket"))
      .agg(min(col(time)).as("zmin"), max(col(time)).as("zmax"),
        count(lit(1)).as("n_rows"))

  /** The schema of [[zoneAgg]] for a zone column of type `dt`, names
    * and nullability included — what the footer path commits, so the
    * parts of both paths are interchangeable. */
  private[catalog] def zoneSchema(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("file", StringType, nullable = false),
      StructField("sym_bucket", LongType), StructField("zmin", dt),
      StructField("zmax", dt), StructField("n_rows", LongType, nullable = false)))
  }

  private def zoneRowsFromFooters(spark: SparkSession, time: String,
                                  files: Seq[(String, FileStatus)])
      : Option[(org.apache.spark.sql.types.StructType, Array[Row])] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val bucketRe = "sym_bucket=(-?\\d+)/[^/]+".r
    // no bucket files: a mistyped or empty root — the aggregation
    // then fails loudly instead of an empty manifest being committed
    if (files.isEmpty) return None
    try {
      val dt = LocalParquet.sparkSchemaOf(conf, files.head._2.getPath)
        .flatMap(_.find(_.name == time)).getOrElse(return None).dataType
      val zones = LocalParquet.footerZones(conf, files.map(_._2), time, dt)
        .getOrElse(return None)
      val rows = files.zip(zones).map { case ((rel, _), (n, mn, mx)) =>
        val bucket: Long = rel match {
          case bucketRe(b) => b.toLong
          case _ => return None
        }
        Row(rel, bucket, mn, mx, n)
      }
      Some((zoneSchema(dt), rows.toArray))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Stage `rows` as a fresh zone-manifest part and commit a snapshot
    * of this part plus `extraParts` — the fold/rebuild case. */
  private def commitPart(spark: SparkSession, root: String,
                         schema: org.apache.spark.sql.types.StructType,
                         rows: Array[Row],
                         expected: Option[Option[String]] = None,
                         extraParts: Seq[String] = Nil): Unit =
    SnapshotManifest.commit(spark, root,
      SnapshotManifest.stageRows(spark, root, schema, rows) +: extraParts,
      expected)

  /** Append a new slice to an existing clustered+zoned table WITHOUT
    * rewriting it — the ingest path for a growing fact table (daily
    * bars, event batches): a full [[writeClusteredZoned]] rewrite per
    * batch is O(table) at 100 TB; this is O(batch) — the batch is
    * staged, its zones aggregated over JUST the staged files, the
    * files moved into their bucket directories, and a fresh manifest
    * PART (only the fresh rows — existing parts are untouched)
    * committed with an atomic `_latest` flip.
    *
    * Crash at any point before the flip: the staged/moved files are
    * unreferenced by the live snapshot, so [[read]] still returns the
    * exact pre-append table — retry the append, then [[vacuum]]
    * reclaims the orphans. Appending many small batches fragments
    * buckets AND accumulates manifest parts — [[compact]] folds both.
    * Same single-writer contract as every Layout write. */
  /** `partName`: caller-supplied manifest part name — lets an
    * exactly-once writer ([[graft.streaming.Streams.ingestSink]]) tag
    * the part with its epoch so "was this batch committed?" is
    * answered by the SNAPSHOT itself (atomic with the flip), not by a
    * side file with its own crash window. */
  def appendClusteredZoned(df: DataFrame, path: String, symbol: String,
                           time: String, numBuckets: Int = 16,
                           filesPerBucket: Int = 4,
                           partName: Option[String] = None): Unit = {
    val spark = df.sparkSession
    migrateIfLegacy(spark, path, time)
    stageAppendPart(df, path, symbol, time, numBuckets, filesPerBucket,
      partName).foreach { part =>
      // unlike the maintenance ops — whose FOLDED output depends on the
      // snapshot they read, so a loser must recompute — an append's
      // staged part is pure ADDITION, independent of the base: it is
      // staged once and re-offered on top of each winner's part list,
      // so two appenders racing one table both land
      SnapshotManifest.publish(spark, path, "Layout append",
          "append-before-flip") { base =>
        Some(SnapshotManifest.SnapOffer(base.fold(Seq.empty[String])(
          SnapshotManifest.partsOf(spark, path, _)) :+ part, Seq(part)))
      }
    }
  }

  /** First write to a legacy (no-snapshot-log) table: migrate by
    * building the manifest for the files already present. */
  private def migrateIfLegacy(spark: SparkSession, path: String,
                              time: String): Unit = {
    val rootP = new Path(path)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(rootP) && SnapshotManifest.currentSnap(spark, path).isEmpty &&
        listData(fs, rootP, buckets = true).nonEmpty)
      writeZoneManifest(spark, path, time)
  }

  /** Stage an append batch: cluster+zone the rows, move the files into
    * their bucket directories, and write the zone-manifest PART — but
    * do NOT commit. Everything staged is unreferenced until the
    * caller's snapshot flip, so a crash at any point leaves readers on
    * the previous complete snapshot (and [[vacuum]] reclaims the
    * orphans). Returns the part name, or None for an empty batch. */
  private def stageAppendPart(df: DataFrame, path: String, symbol: String,
                              time: String, numBuckets: Int,
                              filesPerBucket: Int,
                              partName: Option[String]): Option[String] = {
    val spark = df.sparkSession
    val staged = df.withColumn("sym_bucket", bucketOf(col(symbol), numBuckets))
      .repartitionByRange(numBuckets * filesPerBucket,
        col("sym_bucket"), col(time))
      .sortWithinPartitions(col(symbol), col(time))
    moveStaged(spark, path, "append", staged, time).map { case (schema, rows) =>
      // an empty batch stages no files and commits nothing
      SnapshotManifest.stageRows(spark, path, schema, rows,
        partName.getOrElse(SnapshotManifest.newPartName()))
    }
  }

  /** Write `df` (carrying `sym_bucket`) into a fresh `.stage_<kind>_*`
    * directory partitioned by bucket, take the staged files' zone rows,
    * move each file into its bucket directory under `path` and delete
    * the stage. The moved files stay unreferenced until the caller's
    * commit — a crash leaves orphans for [[vacuum]], never a partial
    * table. Returns (zone schema, zone rows), or None when `df` wrote
    * no files. */
  private def moveStaged(spark: SparkSession, path: String, kind: String,
                         df: DataFrame, time: String)
      : Option[(org.apache.spark.sql.types.StructType, Array[Row])] = {
    val rootP = new Path(path)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new Path(rootP, s".stage_${kind}_${SnapshotManifest.token()}")
    df.write.mode("overwrite").partitionBy("sym_bucket").parquet(stage.toString)
    val staged = listData(fs, stage, buckets = true)
    val zones =
      if (staged.isEmpty) None else Some(zoneRows(spark, stage.toString, time, staged))
    zones.foreach(_._2.foreach { r =>
      val rel = r.getString(0)
      val dst = new Path(rootP, rel)
      fs.mkdirs(dst.getParent)
      if (!fs.rename(new Path(stage, rel), dst))
        throw new java.io.IOException(s"$kind: rename failed for $rel")
    })
    fs.delete(stage, true)
    zones
  }

  /** Stamp each scanned row with the position key a deletion vector
    * addresses: its source file's bucket-relative path and its stable
    * ordinal within that immutable file (`_metadata.row_index`). */
  private def withPos(df: DataFrame): DataFrame =
    df.withColumn("__dv_file", regexp_extract(
        col("_metadata.file_path"), "(sym_bucket=[^/]+/[^/]+)$", 1))
      .withColumn("__dv_pos", col("_metadata.row_index"))

  /** Join a position-stamped scan against a deletion vector on the
    * position key (file, ordinal). The DV side is position keys only,
    * tiny next to the data, so AQE broadcasts it. */
  private def atPositions(scan: DataFrame, dv: DataFrame,
                          how: String): DataFrame =
    scan.join(dv, scan("__dv_file") === dv("file") &&
      scan("__dv_pos") === dv("row_index"), how)

  /** THE live-row scan — the merge-on-read apply: the rows of `files`
    * minus the positions `dv` covers, the position columns dropped
    * unless `keepPos` (a deletion-vector writer addresses its hits by
    * them). Without a DV and without `keepPos` it is the plain scan. */
  private def liveScan(spark: SparkSession, path: String, files: Seq[String],
                       dv: Option[DataFrame], keepPos: Boolean = false,
                       mergeSchema: Boolean = false): DataFrame = {
    val scan = scanFiles(spark, path, files, mergeSchema)
    if (dv.isEmpty && !keepPos) scan
    else {
      val live = dv.fold(withPos(scan))(atPositions(withPos(scan), _, "left_anti"))
      if (keepPos) live else live.drop("__dv_file", "__dv_pos")
    }
  }

  /** The rows at the positions `dv` covers, in the files it names that
    * `scanned` admits — what the deletion vector removed (the change
    * feed's deletes, a compact's provenance) — or None when no such
    * file remains. Scans only those files, bounded by the deletes. */
  private def deletedRows(spark: SparkSession, path: String, dv: DataFrame,
                          scanned: String => Boolean): Option[DataFrame] = {
    val files = dv.select(col("file")).distinct().collect()
      .map(_.getString(0)).filter(scanned) // bounded by FILE count
    if (files.isEmpty) None
    else Some(atPositions(withPos(scanFiles(spark, path, files.toSeq)), dv,
      "left_semi").drop("__dv_file", "__dv_pos"))
  }

  /** Merge-on-read DELETE via a deletion vector — O(matched rows)
    * written, ZERO data files rewritten (the Delta/Iceberg
    * deletion-vector idea; a copy-on-write delete rewrites every
    * touched file, which at 100 TB turns a point delete into a
    * terabyte job): the matching live rows' positions (file,
    * sym_bucket, row_index) are written as an immutable `dv_*`
    * manifest part — a DISTRIBUTED parquet write, never a driver
    * collect — and committed as a new snapshot; [[read]] anti-joins
    * every scan against the live DV, so the rows vanish exactly at
    * the pointer flip. Deletes accumulate one part each; [[compact]]
    * folds them back into clean data files (and the fold purges the
    * DV parts from the snapshot). A crash before the flip leaves the
    * staged part unreferenced — readers stay on the complete previous
    * snapshot (the append/compact contract). Already-deleted rows
    * never re-match (the scan applies the live DV first), so replays
    * are idempotent. Returns the number of rows deleted. */
  def delete(spark: SparkSession, path: String, time: String,
             predicate: Column): Long =
    deleteWhere(spark, path, time, _.filter(predicate))

  /** [[delete]] generalized to ANY row selector over the live scan —
    * the form CDC needs ([[applyChanges]] deletes by semi-join against
    * a key frame, which a `Column` predicate cannot express). */
  def deleteWhere(spark: SparkSession, path: String, time: String,
                  selector: DataFrame => DataFrame): Long = {
    val (baseSnap, base) = baseOf(spark, path, time)
    stageDvPart(spark, path, base, manifestFiles(spark, path, base), selector) match {
      case None => 0L
      case Some((part, n)) =>
        failpoint("delete-before-flip")
        SnapshotManifest.commit(spark, path, base :+ part, Some(baseSnap))
        n
    }
  }

  /** The data files a part list's zone manifest references — read on
    * the driver, no job. */
  private[graft] def manifestFiles(spark: SparkSession, path: String,
                                   parts: Seq[String]): Seq[String] =
    if (!parts.exists(_.startsWith("m_"))) Seq.empty
    else zoneManifest(spark, path, parts).select(col("file")).collect()
      .map(_.getString(0)).toSeq // bounded by FILE count

  /** Stage (write, do NOT commit) a deletion-vector part for the
    * selector's hits over the live rows of `files` under the part
    * list `base`; the caller folds the returned part into its own
    * snapshot commit — [[deleteWhere]]'s single-op commit,
    * [[expireBefore]]'s, or [[applyChanges]]' ONE-COMMIT batch
    * covering the delete and the append together. Returns the part
    * and its row count — read from the staged part's footers, so it
    * is exact under task retries and costs no job — or None when
    * nothing matched. */
  private def stageDvPart(spark: SparkSession, path: String,
                          base: Seq[String], files: Seq[String],
                          selector: DataFrame => DataFrame)
      : Option[(String, Long)] = {
    if (files.isEmpty) return None
    val survivors = liveScan(spark, path, files,
      deletionVector(spark, path, base), keepPos = true)
    stageDv(spark, path, selector(survivors)
      .select(col("__dv_file").as("file"),
        col("sym_bucket").cast("long").as("sym_bucket"),
        col("__dv_pos").as("row_index")))
  }

  /** Stage `rows` (the deletion-vector schema) as a fresh `dv_*` part,
    * returning it with its row count from the part's footers; an empty
    * part is deleted again and None returned. */
  private def stageDv(spark: SparkSession, path: String,
                      rows: DataFrame): Option[(String, Long)] = {
    val part = SnapshotManifest.stageFrame(spark, path,
      SnapshotManifest.newPartName("dv"), rows)
    val n = partRows(spark, path, Seq(part))
    if (n > 0L) Some((part, n))
    else {
      SnapshotManifest.fsOf(spark, path)
        .delete(new Path(SnapshotManifest.partPath(path, part)), true)
      None
    }
  }

  /** TIME-RETENTION EXPIRY: drop every row with `time` < `cutoff` —
    * the nightly job of any time-partitioned fact table at 100 TB,
    * and the reason zone manifests earn their keep: a file whose
    * zmax < cutoff is COMPLETELY expired and is dropped from the
    * manifest without being opened (metadata-only — the dominant case
    * for a time-clustered layout, where whole old slices age out);
    * only files STRADDLING the cutoff (zmin < cutoff ≤ zmax — a
    * handful per bucket by construction) get a deletion-vector part
    * for their sub-cutoff rows. Work is O(straddle files), never
    * O(expired data). Commits as one snapshot (filtered manifest +
    * straddle DV, pointer flip last — the standing crash contract);
    * when whole files drop, the deletion vector is folded to the rows
    * of the files still live (O(deleted positions));
    * dropped files are reclaimed by [[vacuum]]. Like [[compact]],
    * this is a physical rewrite of the file list, so [[changes]]
    * windows crossing it refuse (it is not row-additive). Returns
    * (filesDropped, straddleRowsDeleted). */
  def expireBefore(spark: SparkSession, path: String, time: String,
                   cutoff: Column): (Int, Long) = {
    val (baseSnap, base) = baseOf(spark, path, time)
    val live = zoneManifest(spark, path, base)
    val schema = live.schema
    val liveRows = live.collect() // bounded by FILE count
    // cast the cutoff to the zone-bound (= time column) type so a
    // caller's lit(601) Int compares against a long column's bounds
    val boundType = schema("zmin").dataType
    val cut = spark.range(1)
      .select(cutoff.cast(boundType).as("c")).head.get(0)
    require(cut != null,
      s"expireBefore cutoff is null after cast to $boundType")
    val cutLit = lit(cut)
    // a null zone bound (all-null time column in that file) can never
    // be proven expired — treat it as non-expired and keep the file
    def lt(a: Any): Boolean =
      a != null && a.asInstanceOf[Comparable[Any]].compareTo(cut) < 0
    val dropped = liveRows.filter(r => lt(r.get(3))) // zmax < cutoff
    val droppedSet = dropped.map(_.getString(0)).toSet
    val straddle = liveRows.filterNot(r => droppedSet(r.getString(0)))
      .filter(r => lt(r.get(2))) // zmin < cutoff ≤ zmax
    val dvPart = stageDvPart(spark, path, base,
      straddle.map(_.getString(0)).toSeq, _.filter(col(time) < cutLit))
    val straddleDeleted = dvPart.fold(0L)(_._2)
    if (dropped.nonEmpty || dvPart.nonEmpty) {
      val keptRows = liveRows.filterNot(r => droppedSet(r.getString(0)))
      // fold the kept manifest rows into ONE fresh part; bloom-index
      // parts stay referenced (expiry only NARROWS the file list —
      // surviving files' entries are still valid; entries for dropped
      // files dangle harmlessly until a rebuild)
      val bfParts = base.filter(_.startsWith("bf_"))
      // deletion-vector rows of a dropped file would still be counted
      // ([[countFast]], [[readForJoin]]'s estimate, [[planMaintenance]]),
      // so when files drop the base DV parts fold into ONE part of the
      // rows whose file is still live
      val baseDv = base.filter(_.startsWith("dv_"))
      val dvParts =
        if (dropped.isEmpty || baseDv.isEmpty) baseDv
        else stageDv(spark, path, spark.read.schema(DvSchema)
            .parquet(baseDv.map(SnapshotManifest.partPath(path, _)): _*)
            .filter(col("file").isin(keptRows.map(_.getString(0)): _*)))
          .map(_._1).toSeq
      val mPart = SnapshotManifest.stageRows(spark, path, schema, keptRows)
      // SHRINK PROVENANCE for the hop-chain re-verifiers
      // ([[graft.plans.TableState.ShrinkHop]]): the dropped FILE LIST
      // — metadata-only, O(dropped files). The expired rows
      // themselves are deliberately NOT recorded (that would be
      // O(expired data), defeating expiry's metadata-only contract);
      // subset-safe consumers restamp from the marker alone, row-level
      // consumers refuse with guidance. Straddle dv rows stay in the
      // plain read, so only whole-file drops are listed.
      val rsPart = SnapshotManifest.stageRows(spark, path,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("file",
            org.apache.spark.sql.types.StringType))),
        dropped.map(r => Row(r.getString(0))),
        provenanceName(rewrite = false, baseSnap.get))
      failpoint("expire-before-flip")
      SnapshotManifest.commit(spark, path,
        mPart +: (bfParts ++ dvParts ++ dvPart.map(_._1).toSeq) :+ rsPart,
        Some(baseSnap))
    }
    (dropped.length, straddleDeleted)
  }

  /** Row-level CHANGE DATA FEED between two snapshots (names from
    * [[snapshots]], `fromSnap` committed before `toSnap`): every row
    * appended after `fromSnap` and still live at `toSnap` as
    * `_change_type = 'insert'`, and every row live at `fromSnap` then
    * removed by the window's deletion vectors as `'delete'` — NET
    * semantics (a row appended and deleted inside the window emits
    * nothing). Valid across [[appendClusteredZoned]] / [[delete]]
    * commits, whose manifests are strictly additive; a window
    * crossing a physical rewrite ([[compact]], re-create) throws
    * rather than reporting the rewrite as churn (Delta's
    * `dataChange=false` distinction). Cost: scans only the APPENDED
    * files plus the files the window's DVs touch — O(changed data),
    * never O(table). */
  def changes(spark: SparkSession, path: String,
              fromSnap: String, toSnap: String): DataFrame = {
    def partsOrExpired(snap: String): Seq[String] =
      try SnapshotManifest.partsOf(spark, path, snap)
      catch { case _: java.io.FileNotFoundException =>
        throw new IllegalStateException(s"changes: snapshot $snap is " +
          "unknown or expired (vacuum retention is keep-last-2)")
      }
    val pa = partsOrExpired(fromSnap).toSet
    val pb = partsOrExpired(toSnap)
    if (!pa.subsetOf(pb.toSet))
      throw new IllegalStateException(s"changes($fromSnap -> $toSnap): " +
        "window crosses a physical rewrite (compact/re-create); " +
        "read the change feed per append/delete window instead")
    val fresh = pb.filterNot(pa)
    val insFiles = manifestFiles(spark, path, fresh)
    val freshDv = deletionVector(spark, path, fresh)
    // window DVs are the only ones that can reference the fresh files
    val inserts =
      if (insFiles.isEmpty) None
      else Some(liveScan(spark, path, insFiles, freshDv)
        .withColumn("_change_type", lit("insert")))
    val ins = insFiles.toSet
    val deletes = freshDv.flatMap(deletedRows(spark, path, _, !ins(_)))
      .map(_.withColumn("_change_type", lit("delete")))
    (inserts, deletes) match {
      case (Some(i), Some(d)) => i.unionByName(d)
      case (Some(i), None)    => i
      case (None, Some(d))    => d
      case (None, None) =>
        // empty window: keep the table schema via any live file
        val any = manifestFiles(spark, path, pb)
        require(any.nonEmpty, s"changes: snapshot $toSnap lists no files")
        scanFiles(spark, path, any.take(1))
          .limit(0).withColumn("_change_type", lit(""))
    }
  }

  /** CDC REPLICATION: apply a [[changes]] feed to another zoned table
    * — deletes land first ([[deleteWhere]] semi-join on `keys`, a
    * dv_* part, zero rewrites), then inserts append
    * ([[appendClusteredZoned]], O(batch)). After applying the
    * feed for a window, the target's live rows equal the source's —
    * the snapshot-log replication loop (publish window → read feed →
    * apply) with each half crash-atomic on the target's own log.
    * `keys` must identify rows uniquely in the target (the usual CDC
    * primary-key contract); cost is O(changed data) end to end.
    *
    * RETRY-IDEMPOTENT, and on the COMMON no-crash path the insert
    * batch's keys are NOT swept. With an `epoch` id (one per change
    * window — e.g. "fromSnap_toSnap", the caller's replication-loop
    * identity), the target carries two tiny markers per epoch under
    * `_repl/`: `intent` (created before any write) and `done`
    * (created after both halves committed). A fresh epoch sweeps
    * only the feed's DELETE keys — pure CDC inserts are new keys by
    * contract, so a pre-delete pass over them is pure overhead; a
    * RETRY (intent present without done — the only state a crash
    * between the two commits can leave) sweeps delete ∪ insert keys,
    * so a half-applied append's rows are removed before the batch
    * re-appends, never duplicated (standard MERGE key semantics).
    * A done epoch re-applies as a metadata-only no-op — the
    * replication loop can replay its whole history safely. Single
    * applier per (target, epoch); concurrent appliers already
    * serialize on the target's CAS commits.
    *
    * With `epoch = None` (legacy callers) every pass sweeps
    * delete ∪ insert keys unconditionally — correct under retry
    * without any marker state, at the cost of one extra semi-join
    * input per batch. */
  def applyChanges(feed: DataFrame, targetPath: String, symbol: String,
                   time: String, keys: Seq[String], numBuckets: Int = 16,
                   filesPerBucket: Int = 4,
                   epoch: Option[String] = None): Unit = {
    val spark = feed.sparkSession
    val fs = SnapshotManifest.fsOf(spark, targetPath)
    val replDir = new Path(targetPath, "_repl")
    // collision-free marker name: a readable sanitized prefix PLUS the
    // md5 of the raw epoch — plain character-class sanitization alone
    // would fold distinct ids ("2024/01" vs "2024:01") onto one
    // marker, silently skipping the second window as already-done
    def marker(e: String, kind: String): Path = {
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(e.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
      val readable = e.replaceAll("[^A-Za-z0-9._-]", "_").take(64)
      new Path(replDir, s"${readable}_$digest.$kind")
    }
    val (alreadyDone, retry) = epoch match {
      case None => (false, false)
      case Some(e) =>
        if (fs.exists(marker(e, "done"))) (true, false)
        else {
          fs.mkdirs(replDir)
          // atomic create-if-absent: an existing intent with no done
          // is exactly the signature of a crashed prior attempt
          val fresh = fs.createNewFile(marker(e, "intent"))
          (false, !fresh)
        }
    }
    if (alreadyDone) return
    val data = feed.persist()
    try {
      val ins = data.filter(col("_change_type") === "insert")
        .drop("_change_type")
      val delKeys = data.filter(col("_change_type") === "delete")
        .select(keys.map(col): _*)
      val sweep =
        if (epoch.isEmpty || retry)
          delKeys.unionByName(ins.select(keys.map(col): _*))
        else delKeys
      // ONE action answers both emptiness probes (and materializes
      // the persisted feed): the separate ins.isEmpty/sweep.isEmpty
      // pair cost two driver round-trips over the same frame
      val typeCounts = data.groupBy(col("_change_type")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val nIns = typeCounts.getOrElse("insert", 0L)
      val nDel = typeCounts.getOrElse("delete", 0L)
      val sweepEmpty =
        if (epoch.isEmpty || retry) nDel + nIns == 0L else nDel == 0L
      // ONE-COMMIT batch: stage the sweep's deletion-vector part and
      // the insert batch's files + zone part, then flip the target
      // snapshot ONCE covering both — half the fixed snapshot cost of
      // every CDC batch, and no crash window between the halves (a
      // crash before the flip leaves the target exactly on its
      // previous snapshot; the intent/done markers then only guard
      // feed recomputation on retry, never a half-applied batch). The
      // dv positions reference only pre-existing files (the sweep runs
      // against the pre-batch live view), so downstream [[changes]]
      // windows read the batch exactly as two-commit batches did.
      migrateIfLegacy(spark, targetPath, time)
      val baseSnap = SnapshotManifest.currentSnap(spark, targetPath)
      val base = baseSnap.fold(Seq.empty[String])(
        SnapshotManifest.partsOf(spark, targetPath, _))
      val dvPart =
        if (sweepEmpty) None
        else stageDvPart(spark, targetPath, base,
          manifestFiles(spark, targetPath, base),
          scan => scan.join(sweep, keys, "left_semi"))
      val insPart =
        if (nIns == 0L) None
        else stageAppendPart(ins, targetPath, symbol, time,
          numBuckets, filesPerBucket, partName = None)
      val newParts = dvPart.map(_._1).toSeq ++ insPart.toSeq
      if (newParts.nonEmpty) {
        failpoint("applychanges-before-flip")
        SnapshotManifest.commit(spark, targetPath, base ++ newParts,
          Some(baseSnap))
      }
      failpoint("applychanges-before-done")
      epoch.foreach { e =>
        fs.create(marker(e, "done"), true).close()
        // marker retention: a long-lived replication loop leaves two
        // files per window forever otherwise. Keep the most recent 64
        // epochs (128 files, by mtime — the in-flight epoch is always
        // newest); older windows predate the feed's own keep-last-2
        // snapshot retention and can never replay anyway. EXCEPTION:
        // a lone `intent` with no paired `done` is exactly the
        // signature of a crashed epoch — pruning it would let that
        // epoch's retry take the fresh-epoch path (no insert-key
        // sweep) and duplicate the half-applied rows; such markers
        // survive the prune until their epoch completes.
        val sts = fs.listStatus(replDir)
        if (sts.length > 128) {
          val names = sts.map(_.getPath.getName).toSet
          def orphanIntent(n: String): Boolean =
            n.endsWith(".intent") &&
              !names.contains(n.stripSuffix(".intent") + ".done")
          sts.sortBy(_.getModificationTime).dropRight(128)
            .filterNot(st => orphanIntent(st.getPath.getName))
            .foreach(st => fs.delete(st.getPath, false))
        }
      }
    } finally data.unpersist()
  }

  /** One bucket's maintenance pressure, as [[planMaintenance]] reports
    * it: `files` live data files (manifest), `dvFiles` of them carrying
    * deletion-vector rows, `dvRows` total deleted positions,
    * `physRows` the bucket's physical row count from the manifest's
    * `n_rows` stat (−1 when any file predates the stat — unknown,
    * never guessed; live rows = physRows − dvRows). A bucket appears
    * in a plan only when at least one flag is set. */
  case class BucketMaintenance(bucket: Long, files: Int, dvFiles: Int,
                               dvRows: Long, physRows: Long,
                               overFragmented: Boolean,
                               dvPressure: Boolean)

  /** MAINTENANCE PLANNER — the policy that decides WHICH buckets
    * [[compact]] rewrites, surfaced so operators can inspect/schedule
    * it instead of having to remember that deletes accumulate one
    * `dv_*` part each and every read pays the anti-join until a
    * compaction folds them. Metadata-only: file counts come from the
    * zone manifest, DV pressure from one bounded aggregation over the
    * `dv_*` parts (O(deleted positions) read, O(buckets) out) — no
    * data file is opened. Flags per bucket:
    *
    *   - `overFragmented`: more live files than `filesPerBucket` —
    *     the small-file metadata/open-storm axis;
    *   - `dvPressure`: any deletion-vector rows — every scan of this
    *     bucket pays the merge-on-read anti-join until rewritten.
    *
    * Returns ONLY flagged buckets (the compaction worklist), ascending
    * by bucket id; empty ⇒ the table needs no rewrite. [[compact]]
    * consumes exactly this plan, so planner output and compaction
    * behavior cannot drift apart. */
  def planMaintenance(spark: SparkSession, path: String,
                      filesPerBucket: Int = 4): Seq[BucketMaintenance] = {
    val parts = SnapshotManifest.currentParts(spark, path)
      .getOrElse(return Seq.empty)
    val m = zoneManifest(spark, path, parts)
    planFrom(m.columns.contains("n_rows"), m.collect(),
      deletionVector(spark, path, parts), filesPerBucket)
  }

  /** [[planMaintenance]] over ALREADY-READ manifest rows + DV —
    * [[compact]] has both in hand and must not pay a second
    * manifest/DV read (2-3 extra metadata jobs per call) just to
    * derive its own worklist. */
  private def planFrom(hasRows: Boolean, liveRows: Array[Row],
                       dvOpt: Option[DataFrame],
                       filesPerBucket: Int): Seq[BucketMaintenance] = {
    // (file count, physical rows) per bucket — bounded by FILE count
    val files = liveRows.groupBy(_.getLong(1))
      .map { case (b, rows) =>
        val phys =
          if (hasRows && rows.forall(!_.isNullAt(4)))
            rows.map(_.getLong(4)).sum
          else -1L // any pre-stat file makes the count unknown
        b -> (rows.length, phys)
      }
    val dv: Map[Long, (Int, Long)] =
      dvOpt.fold(Map.empty[Long, (Int, Long)])(
        _.groupBy(col("sym_bucket"))
          .agg(countDistinct(col("file")).as("dvf"), count(lit(1)).as("dvr"))
          .collect() // bounded by BUCKET count
          .map(r => r.getLong(0) -> (r.getLong(1).toInt, r.getLong(2))).toMap)
    files.keySet.union(dv.keySet).toSeq.sorted.flatMap { b =>
      val (nf, phys) = files.getOrElse(b, (0, -1L))
      val (dvf, dvr) = dv.getOrElse(b, (0, 0L))
      val frag = nf > filesPerBucket
      val pressure = dvr > 0L
      if (frag || pressure)
        Some(BucketMaintenance(b, nf, dvf, dvr, phys, frag, pressure))
      else None
    }
  }

  /** Small-file compaction — the maintenance pass every streaming /
    * CoW writer eventually needs (each micro-batch or merge epoch
    * lands more files; at 100 TB an uncompacted table turns every scan
    * into a metadata+open storm). Targets exactly the buckets
    * [[planMaintenance]] flags (over-fragmented or DV-pressured),
    * bin-packs each back to ≤ `filesPerBucket` time-zoned files, and
    * FOLDS the manifest parts accumulated by [[appendClusteredZoned]]
    * back into one:
    *
    *   - O(affected buckets), driven by the MANIFEST (dead files from
    *     crashed ops are neither read nor counted): buckets already at
    *     or under the target are not read, not rewritten;
    *   - a rewritten bucket keeps the layout contract — range-sliced
    *     on `time` (tight zones for [[ZoneMap]] skipping), rows sorted
    *     by (symbol, time);
    *   - replacement files are NEW files in the bucket directories;
    *     the old ones stay on disk until the folded manifest has
    *     flipped, so a crash mid-compact leaves every reader on the
    *     complete previous snapshot (no delete-then-rename window);
    *   - ends with a keep-last-2 [[vacuum]]: files the previous
    *     snapshot still references survive one more cycle for
    *     in-flight readers; older orphans are reclaimed.
    *
    * Returns the number of buckets rewritten. */
  def compact(spark: SparkSession, path: String, symbol: String, time: String,
              filesPerBucket: Int = 4): Int = {
    val (baseSnap, base) = baseOf(spark, path, time)
    val live = zoneManifest(spark, path, base)
    val schema = live.schema
    val liveRows = live.collect() // bounded by FILE count
    // target selection IS the planner's output: dv-pressured buckets
    // are rewritten regardless of file count (the rewrite materializes
    // the deletes into clean files, and the folded snapshot drops every
    // dv_* part — which is only sound if ALL dv-touched buckets were
    // rewritten this pass)
    val dvOpt = deletionVector(spark, path, base)
    val plan = planFrom(live.columns.contains("n_rows"), liveRows,
      dvOpt, filesPerBucket)
    val dvBuckets: Set[Long] = plan.filter(_.dvPressure).map(_.bucket).toSet
    val planned = plan.map(_.bucket).toSet
    val targets = liveRows.groupBy(_.getLong(1))
      .filter { case (b, _) => planned(b) }
    // change-data PROVENANCE for the hop-chain re-verifiers
    // ([[graft.plans.TableState]]): the rows this compact materializes
    // OUT of the plain directory read (the base snapshot's DV'd rows)
    // are recorded in the commit's own `rw_<baseSnap>__<token>` part,
    // so the post-compact audit window stays recoverable after the
    // full vacuum deletes the superseded file generation. O(deleted
    // positions) extra write, against files this pass reads anyway.
    //
    // Buckets are INDEPENDENT maintenance units (disjoint file sets,
    // disjoint stage dirs), so their stage-write / zone-scan / move
    // sequences run CONCURRENTLY from a small driver pool (guide
    // §2.6 back-fill: each bucket's job tail leaves executors idle
    // that the next bucket's jobs can use; measured on s19's warm
    // compact at sf0.1/cpus=32: 3.7 s sequential → ~2.1 s at 4
    // buckets). The snapshot COMMIT stays strictly sequential after
    // every bucket has staged — the crash contract is unchanged
    // (nothing is observable until the single pointer flip).
    def processBucket(bucket: Long, rows: Array[Row])
        : (Array[String], Array[Row], Option[DataFrame]) = {
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      val files = rows.map(_.getString(0)).toSeq
      val bdv = dvOpt.filter(_ => dvBuckets(bucket))
        .map(_.filter(col("sym_bucket") === bucket))
      val bdf = liveScan(spark, path, files, bdv)
      // provenance side scans ONLY the dv-touched FILES of this bucket
      // (bounded by the deletes, not the bucket) — the rewrite side
      // already pays the full-bucket read once — intersected with the
      // bucket's LIVE files: in a table whose expiries predate the
      // deletion-vector fold, dv entries may dangle onto
      // expiry-dropped files, which must not resurrect a dead path here
      val removedHere = bdv.flatMap(deletedRows(spark, path, _, files.toSet))
      // a fully-deleted bucket stages zero files — fold it to nothing
      val newRows = moveStaged(spark, path, s"compact_$bucket",
        bdf.repartitionByRange(filesPerBucket, col(time))
          .sortWithinPartitions(col(symbol), col(time)), time)
        .fold(Array.empty[Row])(_._2)
      (rows.map(_.getString(0)), newRows, removedHere)
    }
    val bucketResults: Seq[(Array[String], Array[Row], Option[DataFrame])] = {
      val ts = targets.toSeq
      if (ts.size <= 1) ts.map { case (b, rows) => processBucket(b, rows) }
      else {
        import scala.concurrent.{Await, Future}
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(ts.size, 8))
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        try Await.result(
          Future.sequence(ts.map { case (b, rows) =>
            Future(processBucket(b, rows)) }),
          scala.concurrent.duration.Duration.Inf)
        catch { case e: Throwable =>
          // a failed bucket must not leave PEER futures renaming staged
          // files into live bucket dirs after compact returns (r19
          // advice): interrupt them and wait for the pool to drain
          // before rethrowing, so the table dir is quiescent on exit
          pool.shutdownNow()
          pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
          throw e
        }
        finally pool.shutdown()
      }
    }
    val replaced: Set[String] = bucketResults.flatMap(_._1).toSet
    val freshRows: Array[Row] = bucketResults.flatMap(_._2).toArray
    val removedDfs: Seq[DataFrame] = bucketResults.flatMap(_._3)
    if (targets.nonEmpty || base.size > 1) {
      val folded = liveRows.filterNot(r => replaced(r.getString(0))) ++ freshRows
      // stage the provenance part BEFORE the flip so it commits
      // atomically with the folded manifest. An EMPTY part (pure
      // defrag / manifest fold — no DV'd rows) is still written when a
      // schema source exists: it tells the hop classifier "this
      // rewrite removed nothing", turning a refusal into a clean
      // [[graft.plans.TableState.RewriteHop]] with zero retractions.
      val removedSrc: Option[DataFrame] = removedDfs
        .reduceOption(_ unionByName _)
        .orElse(liveRows.headOption.map(r =>
          scanFiles(spark, path, Seq(r.getString(0))).limit(0)))
      val rwPart = removedSrc.map(SnapshotManifest.stageFrame(spark, path,
        provenanceName(rewrite = true, baseSnap.get), _))
      failpoint("compact-before-flip")
      commitPart(spark, path, schema, folded,
        expected = Some(baseSnap), extraParts = rwPart.toSeq)
      vacuum(spark, path)
    }
    targets.size
  }

  /** ONLINE RE-CLUSTERING — cluster-spec evolution: rewrite the table
    * clustered by a NEW key (and/or bucket count) in ONE crash-atomic
    * snapshot flip, the Iceberg "replace sort order / partition spec +
    * rewrite" move. The access pattern that justified clustering by
    * `symbol` yesterday (point reads per ticker) is not the one that
    * matters tomorrow (joins per order); without this the only path is
    * a manual copy-out/copy-in with a reader-visible window.
    *
    * Mechanics mirror [[compact]] table-wide: scan the LIVE rows
    * (merge-on-read — the rewrite materializes any deletion vectors
    * into clean files), restage under `bucketOf(newSymbol)`, move
    * files into place, then commit a replace-all manifest part CAS'd
    * against the starting snapshot — a concurrent writer or a crash
    * leaves the old clustering fully live (readers of the previous
    * snapshot stay valid through keep-last-2). Bloom index parts are
    * deliberately dropped by the replace-all (they index files that no
    * longer exist); rebuild with [[buildBloomIndex]] after — reads
    * without one stay correct, just unpruned. Cost is O(live data),
    * paid once and scheduled like any compaction; the alternative
    * (per-query shuffles on the wrong key) is paid forever. */
  def recluster(spark: SparkSession, path: String, newSymbol: String,
                time: String, numBuckets: Int = 16,
                filesPerBucket: Int = 4): Unit = {
    val (baseSnap, base) = baseOf(spark, path, time)
    val m = zoneManifest(spark, path, base)
    val files = m.select(col("file")).collect().map(_.getString(0))
    require(files.nonEmpty, s"recluster: $path has no live files")
    val live = liveScan(spark, path, files.toSeq,
      deletionVector(spark, path, base))
    val (schema, rows) = moveStaged(spark, path, "recluster",
      live.drop("sym_bucket")
        .withColumn("sym_bucket", bucketOf(col(newSymbol), numBuckets))
        .repartitionByRange(numBuckets * filesPerBucket,
          col("sym_bucket"), col(time))
        .sortWithinPartitions(col(newSymbol), col(time)), time)
      .getOrElse((m.schema, Array.empty[Row])) // fully-deleted table
    failpoint("recluster-before-flip")
    commitPart(spark, path, schema, rows, expected = Some(baseSnap))
    vacuum(spark, path)
  }

  /** Reclaim everything the snapshot log no longer references:
    * orphaned data files (crashed appends/compacts, superseded
    * pre-compact files), dead manifest parts, dead snap files, and
    * abandoned `.stage_*` dirs. By default KEEPS the previous snapshot
    * too (keep-last-2 — in-flight readers of the prior snapshot stay
    * valid through one maintenance cycle, the scd2Sink GC discipline);
    * `retainPrevious = false` reclaims down to the live snapshot only
    * (writer-only, after a grace period covering the longest read).
    * No-op on tables without a snapshot log. */
  def vacuum(spark: SparkSession, path: String,
             retainPrevious: Boolean = true): Unit = {
    val cur = SnapshotManifest.currentSnap(spark, path).getOrElse(return)
    val rootP = new Path(path)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val keepSnaps =
      if (retainPrevious) SnapshotManifest.keepLast2(spark, path) else Seq(cur)
    val keepParts = keepSnaps
      .flatMap(s => SnapshotManifest.partsOf(spark, path, s)).distinct
    SnapshotManifest.snaps(spark, path).filterNot(keepSnaps.contains)
      .foreach(s => fs.delete(
        new Path(new Path(path, SnapshotManifest.SnapsDir), s), false))
    val mDir = new Path(path, SnapshotManifest.ManifestsDir)
    if (fs.exists(mDir)) fs.listStatus(mDir).foreach { st =>
      if (!keepParts.contains(st.getPath.getName)) fs.delete(st.getPath, true)
    }
    // data files referenced by NO kept snapshot's ZONE manifest are
    // dead (dv_/bf_ parts reference data files too, but only as
    // annotations on m_-listed files — a dangling dv/bf entry must
    // not keep an expired file alive)
    val liveFiles = manifestFiles(spark, path, keepParts).toSet
    val dead = listData(fs, rootP, buckets = true)
      .collect { case (rel, st) if !liveFiles(rel) => st.getPath }
    dead.foreach(fs.delete(_, false))
    // a bucket directory this vacuum emptied goes too
    dead.map(_.getParent).distinct
      .foreach(d => if (fs.listStatus(d).isEmpty) fs.delete(d, false))
    fs.listStatus(rootP).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith(".stage_"))
        fs.delete(st.getPath, true)
    }
  }

  /** METADATA-ONLY COUNT(*) — the table's live row count from the
    * snapshot log alone: Σ manifest `n_rows` − |deletion vector|, the
    * deletion vector's size summed from its `dv_*` parts' footers.
    * No data file is opened and NO Spark job runs when stats are
    * complete (the normal case: every write/append/compact records
    * `n_rows`; LayoutSpec pins 0 jobs); files from pre-stat manifest
    * parts fall back to a parquet footer count job over exactly those
    * files. The snapshot is resolved once, so the manifest and the
    * deletion vector are the same snapshot's. At 100 TB this answers the most common
    * dashboard probe in O(manifest parts) instead of a full scan —
    * the same AddFile-stats trick Delta's COUNT(*) optimization
    * pulls. DV-aware by construction: `n_rows` is physical, the
    * deletion vector subtracts logically, so the number equals what
    * [[read]] would count after its merge-on-read anti-join. Pass a
    * `snap` from [[snapshots]] to count a time-travel version. */
  def countFast(spark: SparkSession, path: String,
                snap: Option[String] = None): Long = {
    val parts = partsAsOf(spark, path, snap).getOrElse(
      throw new IllegalArgumentException(s"countFast: no snapshot log at $path"))
    val m = zoneManifest(spark, path, parts)
    val rows = // bounded by FILE count, like every manifest consumer
      if (m.columns.contains("n_rows"))
        m.select(col("file"), col("n_rows")).collect()
      else m.select(col("file"), lit(null).cast("long").as("n_rows")).collect()
    val known = rows.collect { case r if !r.isNullAt(1) => r.getLong(1) }.sum
    val unknown = rows.collect { case r if r.isNullAt(1) => r.getString(0) }
    val fallback =
      if (unknown.isEmpty) 0L
      else scanFiles(spark, path, unknown.toSeq)
        .count() // footer-count job over ONLY the stat-less files
    known + fallback - partRows(spark, path, parts.filter(_.startsWith("dv_")))
  }

  /** METADATA-SIZED JOIN SIDE — the cost-based broadcast decision made
    * from the snapshot log alone: [[read]] the table, wrapped in a
    * broadcast hint iff its estimated in-memory BYTES fit
    * `broadcastMaxBytes`. The estimate is the EXACT live row count
    * ([[countFast]]: Σ manifest `n_rows` − deletion-vector rows, no
    * data file opened) × the schema-derived row width (Catalyst
    * `defaultSize` per field — the same width Spark's own stats
    * estimation uses when column stats are absent). Spark's pre-scan
    * estimate is summed COMPRESSED file size — it over-counts
    * DV-deleted rows, knows nothing of the post-prune cardinality,
    * and a conservative `autoBroadcastJoinThreshold` then shuffles a
    * fact table against a dim that would have broadcast. At 100 TB
    * that is the single most expensive wrong call a planner can
    * make; the snapshot log already maintains the exact count, so
    * the decision is free. Bytes, not rows: a fixed row ceiling
    * broadcasts a 4M-row × 400-column dim (GBs on every executor —
    * an OOM, not a plan choice) while refusing nothing useful; the
    * width term makes the ceiling mean what the executor actually
    * pays. The hint only ever *adds* a broadcast — an over-threshold
    * table falls through to whatever the planner picks. */
  def readForJoin(spark: SparkSession, path: String, symbol: String,
                  time: String, numBuckets: Int = 16,
                  broadcastMaxBytes: Long = 32L << 20): DataFrame = {
    val df = read(spark, path, symbol, time, numBuckets)
    val live = countFast(spark, path)
    val schemaWidth = df.schema.fields.map(_.dataType.defaultSize.toLong)
      .sum.max(1L)
    // `defaultSize` is blind to payload width — every string counts a
    // flat ~20 bytes however long, so a dim of 2 KB descriptions
    // would sail under the ceiling and OOM every executor. Cross-check
    // with the snapshot's own on-disk footprint: average compressed
    // bytes/row (per-file footer overhead amortized out, ×2 for
    // decode expansion) is a floor on the in-memory build size.
    // Metadata only, BATCHED: one listStatus per bucket directory
    // (not one getFileStatus round-trip per file — on a remote FS a
    // thousand-file dim would pay a thousand serial driver RPCs per
    // planning call), memoized per (path, snapshot) so repeated joins
    // against the same dim snapshot plan for free. The WIDER of the
    // two estimates decides.
    val diskWidth: Long = diskWidthOf(spark, path)
    if (live * (schemaWidth max diskWidth) <= broadcastMaxBytes)
      org.apache.spark.sql.functions.broadcast(df)
    else df
  }

  /** Estimated in-memory bytes/row from the live snapshot's on-disk
    * footprint (see [[readForJoin]]). Memo keyed by path@snapshot:
    * immutable once computed (snapshots are immutable), invalidated
    * naturally by the next commit's new snapshot name. Unbounded but
    * table-count-sized — entries are one Long per (table, snapshot)
    * ever planned in this JVM. */
  private val widthMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def diskWidthOf(spark: SparkSession, path: String): Long = {
    val snap = SnapshotManifest.currentSnap(spark, path).getOrElse(return 0L)
    widthMemo.computeIfAbsent(s"$path@$snap", _ => {
      manifest(spark, path)
        .filter(_.columns.contains("n_rows")).fold(0L) { man =>
          val rows = man.select(col("file"), col("n_rows")).collect()
          if (rows.isEmpty || rows.exists(_.isNullAt(1))) 0L
          else {
            val sizes = listData(SnapshotManifest.fsOf(spark, path),
              new Path(path), buckets = true)
              .map { case (rel, st) => rel -> st.getLen }.toMap
            // a manifest file missing from the listing (mid-vacuum
            // race) contributes 0 bytes — conservative toward the
            // schema-width estimate, never an exception
            val bytes = rows.map(r => sizes.getOrElse(r.getString(0), 0L)).sum
            val phys = rows.map(_.getLong(1)).sum
            val payload = bytes - rows.length * 2048L // amortize footers
            if (phys <= 0L || payload <= 0L) 0L else 2L * payload / phys
          }
        }: java.lang.Long
    })
  }

  /** `input_file_name()` / manifest entries → literal reader paths:
    * URI-unescape (a `%20` or `%25` in the stored string is a space or
    * percent on disk), then backslash-escape glob metacharacters so
    * the second `spark.read.parquet` resolves the SAME file even when
    * the path contains `%`, spaces, or `{}[]*?`. */
  private def literalPath(uriString: String): String =
    globEscape(new Path(new java.net.URI(uriString)).toString)

  private[graft] def globEscape(p: String): String =
    p.replaceAll("([{}\\[\\]*?\\\\])", "\\\\$1")

  /** Does the directory's data-file set equal the live manifest's?
    * True exactly when the PLAIN read (`spark.read.parquet(path)`)
    * sees the same files the snapshot log references — the condition
    * the constraint/MV re-verifiers need before trusting a rewrite
    * hop: between a [[compact]] and the full [[vacuum]] the directory
    * holds BOTH file generations (keep-last-2), so plain reads are
    * transiently duplicated. One recursive listing, O(file count)
    * metadata — no data file opened. */
  private[graft] def directoryMatchesManifest(spark: SparkSession,
                                              path: String): Boolean = {
    val m = manifest(spark, path).getOrElse(return false)
    val want = m.select(col("file")).collect().map(_.getString(0)).toSet
    val rootP = new Path(path)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootP)) return want.isEmpty
    listData(fs, rootP, buckets = true).map(_._1).toSet == want
  }

  /** ONE catalog read composing BOTH prunings — what a real table
    * wants behind a single entry point: the bucket filter (key
    * equality → 1/numBuckets of the manifest rows) and the zone-map
    * file skip (range predicate → only overlapping files make the
    * task list — a range read opens NO non-matching data file at all,
    * not even its footer; pinned by ZoneMapSpec against corrupted
    * cold files).
    *
    * Snapshot tables resolve their live file list from the
    * [[SnapshotManifest]] log — NEVER from directory discovery — so
    * stray files left by a crashed append/compact are invisible and a
    * read concurrent with maintenance sees the complete previous
    * snapshot. Legacy tables (no `_latest`) fall back to directory
    * discovery with footer-derived zones. Exact predicates are
    * re-applied on the pruned scan; the result is always ≡ the plain
    * filter (the s11 oracle).
    *
    * TIME TRAVEL: `asOfSnap` (a name from [[snapshots]]) resolves the
    * file list from that snapshot's manifest instead of the current
    * one — the table exactly as of that commit, readable as long as
    * [[vacuum]]'s retention (keep-last-2 by default) still holds the
    * snapshot's files (the s15 oracle).
    *
    * JOB-FREE BUILD: the snapshot is resolved once (its manifest and
    * deletion vector always belong to the same commit), the manifest
    * is read on the driver, the scan takes its schema from a data
    * file's footer and the deletion vector has a constant schema — so
    * building the frame launches no Spark job (LayoutSpec pins 0 jobs
    * on a table with two deletion-vector parts). */
  /** SCHEMA EVOLUTION: `mergeSchema = true` unions the file schemas
    * across the snapshot (parquet schema merging), so batches appended
    * with ADDED columns read back with nulls for pre-evolution rows —
    * additive evolution only, the Delta/Iceberg default posture.
    * Off by default: merging reads every file footer up front, which
    * a stable-schema table shouldn't pay; without it the schema is the
    * first scanned file's, as in Spark's own non-merging read. */
  /** POINT-PROBE SKIPPING: `pointEq = Some((column, literal))` prunes
    * the file list through the column's per-file bloom index
    * ([[buildBloomIndex]]) before scanning — files whose filter proves
    * the value absent never make the task list. Conservative by
    * construction: files without an entry (appended after the build,
    * or no index at all) are scanned, and the exact equality predicate
    * is re-applied on the pruned scan either way, so the result is
    * always ≡ the plain filter (the s24 oracle) — the index only ever
    * removes work, never rows. */
  def read(spark: SparkSession, path: String, symbol: String, time: String,
           numBuckets: Int = 16, symbolEq: Option[String] = None,
           timeRange: Option[(Column, Column)] = None,
           asOfSnap: Option[String] = None,
           mergeSchema: Boolean = false,
           pointEq: Option[(String, Column)] = None): DataFrame = {
    def rd = {
      val r = spark.read.option("basePath", path)
      if (mergeSchema) r.option("mergeSchema", "true") else r
    }
    def bucketPruned(df: DataFrame): DataFrame = symbolEq.fold(df) { v =>
      df.filter(col("sym_bucket") === bucketOf(lit(v), numBuckets))
    }
    def fullScan = bucketPruned(rd.parquet(path))
    val resolved = partsAsOf(spark, path, asOfSnap)
    failpoint("read-after-resolve")
    val base = resolved match {
      case Some(parts) =>
        val m = zoneManifest(spark, path, parts)
        val pruned0 = bucketPruned(m)
        val pruned = timeRange.fold(pruned0) { case (lo, hi) =>
          pruned0.filter(col("zmax") >= lo && col("zmin") <= hi)
        }
        // bounded by FILE count (of one bucket under a key predicate)
        val rel0 = pruned.select(col("file")).collect().map(_.getString(0))
        val rel = pointEq.fold(rel0) { case (bc, v) =>
          bloomPrune(spark, path, parts, bc, v, rel0)
        }
        if (rel.isEmpty) {
          // nothing overlaps: keep the schema via any live file
          val any = m.select(col("file")).limit(1).collect()
          if (any.isEmpty) fullScan.limit(0)
          else scanFiles(spark, path, Seq(any(0).getString(0)), mergeSchema)
            .limit(0)
        } else {
          // merge-on-read: drop positions the live deletion vector
          // covers (no-op when the snapshot carries no deletes)
          bucketPruned(liveScan(spark, path, rel.toSeq,
            deletionVector(spark, path, parts), mergeSchema = mergeSchema))
        }
      case None =>
        timeRange match {
          case None => fullScan
          case Some((lo, hi)) =>
            val files = ZoneMap.manifestOf(fullScan, time)
              .filter(col("zmax") >= lo && col("zmin") <= hi)
              .select(col("file")).collect()
              .map(r => literalPath(r.getString(0)))
            if (files.isEmpty) fullScan.limit(0)
            else bucketPruned(rd.parquet(files.toIndexedSeq: _*))
        }
    }
    val keyed = symbolEq.fold(base)(v => base.filter(col(symbol) === v))
    val ranged = timeRange.fold(keyed) { case (lo, hi) =>
      keyed.filter(col(time) >= lo && col(time) <= hi)
    }
    pointEq.fold(ranged) { case (bc, v) => ranged.filter(col(bc) === v) }
  }

  /** Keep only the manifest files whose bloom filter might contain
    * `value` (files without an entry are kept — conservative). The
    * probe literal is cast to the indexed column's type BEFORE
    * hashing, so `lit(42)` probes a long column correctly. Membership
    * tests run WHERE THE FILTERS LIVE: a distributed scan of the
    * `bf_*` parts evaluates mightContain per entry (a UDF off the hot
    * path — this is metadata-scale work, file-count rows) and only
    * FILE NAMES come back to the driver — the filter bytes
    * (file-count × ~MB at scale) never do. */
  private def bloomPrune(spark: SparkSession, path: String,
                         parts: Seq[String], column: String, value: Column,
                         rel: Array[String]): Array[String] = {
    val bfParts = parts.filter(_.startsWith("bf_"))
    if (bfParts.isEmpty || rel.isEmpty) return rel
    val entries = spark.read.parquet(
        bfParts.map(p => SnapshotManifest.partPath(path, p)): _*)
      .filter(col("column") === column)
    val covered = entries.select(col("file"))
      .collect().map(_.getString(0)).toSet // names only, FILE count
    if (covered.isEmpty) return rel
    val dt = scanFiles(spark, path, Seq(rel(0))).schema(column).dataType
    val hashed = spark.range(1)
      .select(xxhash64(value.cast(dt))).head.getLong(0)
    val might = udf((b: Array[Byte]) =>
      graft.functions.BloomAgg.mightContain(b, hashed))
    val survivors = entries.filter(might(col("bloom")))
      .select(col("file")).collect().map(_.getString(0)).toSet
    rel.filter(f => !covered(f) || survivors(f))
  }
}
