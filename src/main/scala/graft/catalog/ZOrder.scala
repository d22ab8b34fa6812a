package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** Z-ORDER (Morton-curve) clustered layout — MULTI-dimensional file
  * skipping, the capability [[Layout]]'s single-axis time zones can't
  * provide: a table sorted by (a, b) prunes scans on `a` but not on
  * `b` alone, while interleaving the dimensions' bits keeps rows
  * close in EVERY axis, so per-file min/max zones stay tight on each
  * column and a range predicate on ANY of them prunes files (the
  * Delta `OPTIMIZE ZORDER BY` / Iceberg sort-order idea).
  *
  * Mechanics: each column is quantized to 8-bit bins — equi-depth
  * (approximate-quantile boundaries, skew-robust, the default) or
  * uniform min..max widths — the bin ids are bit-interleaved into an
  * (8·n)-bit z-value, and the frame is range-partitioned + sorted by
  * z into `filesTarget` files. The zone manifest (one row per file:
  * min/max of EVERY raw column) commits through [[SnapshotManifest]],
  * so creation is observable only at the final pointer flip and
  * [[readN]] prunes from metadata without opening a single data
  * footer.
  *
  * Dimensionality: [[writeN]] takes 2–7 columns — the multi-tenant
  * (tenant, time, key) layout a 100 TB table actually wants is the
  * 3-column case. 8 bits per dimension keeps the z-value within a
  * long's 63 usable bits at n = 7 while 256 bins per axis keep zones
  * tight; past ~7 effective dimensions Morton locality degrades
  * regardless of bit budget (curse of dimensionality), so the bound
  * is semantic, not an implementation limit.
  *
  * This is the destructive table-CREATE path (the
  * [[Layout.writeClusteredZoned]] posture): rewrite-to-recluster, no
  * incremental append — z-order maintenance at scale is a compaction
  * concern, and [[Layout.compact]] shows the snapshot-flip shape it
  * would reuse.
  */
object ZOrder {

  private val Bits = 8 // 256 bins per dimension → 8·n-bit z-values

  /** Interleave the low `bits` bits of `n` columns: bit `i` of column
    * `j` lands at z-position `i·n + j` — a fold of shift/mask ops,
    * fully codegen'd, no UDF. Column 0 owns the lowest positions, so
    * the 2-column case reproduces the classic Morton (a even, b odd)
    * layout. */
  private[catalog] def interleaveBitsN(cs: Seq[Column], bits: Int): Column = {
    val n = cs.size
    cs.zipWithIndex.foldLeft(lit(0L)) { case (acc0, (c, j)) =>
      (0 until bits).foldLeft(acc0) { (acc, i) =>
        acc.bitwiseOR(shiftleft(
          shiftrightunsigned(c, i).bitwiseAND(lit(1L)), i * n + j))
      }
    }
  }

  /** 2-column Morton interleave (`a` even positions, `b` odd). */
  private[catalog] def interleaveBits(a: Column, b: Column,
                                      bits: Int): Column =
    interleaveBitsN(Seq(a, b), bits)

  /** Uniform bin id in [0, 2^Bits) over the observed [mn, mx]. */
  private def bin(c: Column, mn: Double, mx: Double): Column = {
    val n = 1 << Bits
    val width = math.max((mx - mn) / n, Double.MinPositiveValue)
    least(lit(n - 1L), greatest(lit(0L),
      floor((c.cast("double") - lit(mn)) / lit(width)).cast("long")))
  }

  /** Write `df` z-ordered on numeric columns (`c1`, `c2`) — the
    * 2-dimensional entry point; see [[writeN]] for semantics. */
  def write(df: DataFrame, path: String, c1: String, c2: String,
            filesTarget: Int = 64, equiDepth: Boolean = true): Unit =
    writeN(df, path, Seq(c1, c2), filesTarget, equiDepth)

  /** Write `df` z-ordered on 2–7 numeric columns.
    * `equiDepth = true` (default) bins each dimension by approximate
    * quantiles — EQUI-DEPTH bins: on a heavy-tailed column, uniform
    * widths collapse the dense region into one bin (its z-locality,
    * and with it per-file zone tightness, is lost: every dense-region
    * range query overlaps every dense file), while equi-depth spends
    * the full bin budget where the data actually lives. ALL columns'
    * boundaries come from ONE `percentile_approx` aggregation pass
    * (mergeable KLL-style sketch, bounded driver memory), and the
    * per-row bin id is a codegen binary search
    * ([[graft.functions.BinExprs.sorted_bin]]) — O(log bins), inside
    * whole-stage codegen, no per-row allocation. `equiDepth = false`
    * uses uniform min..max widths (one tiny agg, fine for evenly
    * spread data). The manifest stores RAW column min/max per file
    * either way (`c1min`/`c1max`/`c2min`/… — 1-indexed in caller
    * column order), so [[readN]] is binning-agnostic. */
  def writeN(df: DataFrame, path: String, cols: Seq[String],
             filesTarget: Int = 64, equiDepth: Boolean = true): Unit = {
    require(cols.size >= 2 && cols.size <= 7,
      s"z-order takes 2-7 columns, got ${cols.size}")
    val spark = df.sparkSession
    val n = 1 << Bits
    val z =
      if (equiDepth) {
        val probs = typedlit((1 until n).map(_.toDouble / n))
        val st = df.agg(
          percentile_approx(col(cols.head).cast("double"), probs, lit(1000)),
          cols.tail.map(c =>
            percentile_approx(col(c).cast("double"), probs, lit(1000))): _*
        ).head
        // percentile_approx yields NULL for an empty frame or an
        // all-null column — degrade to no boundaries (single bin 0)
        // instead of NPEing, like the uniform path's clamp does
        def bounds(i: Int): Array[Double] =
          if (st.isNullAt(i)) Array.empty[Double]
          else st.getSeq[Double](i).toArray
        interleaveBitsN(cols.zipWithIndex.map { case (c, i) =>
          graft.functions.BinExprs.sorted_bin(col(c), bounds(i))
        }, Bits)
      } else {
        val aggs = cols.flatMap(c =>
          Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
        val st = df.agg(aggs.head, aggs.tail: _*).head
        def d(i: Int): Double = // null agg (empty/all-null) → bin 0
          if (st.isNullAt(i)) 0.0 else st.getDouble(i)
        interleaveBitsN(cols.zipWithIndex.map { case (c, i) =>
          bin(col(c), d(2 * i), d(2 * i + 1))
        }, Bits)
      }
    df.withColumn("__z", z)
      .repartitionByRange(filesTarget, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
    // per-file n-D zones, natively typed; bounded by FILE count
    val zoneAggs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(min(col(c)).as(s"c${i + 1}min"), max(col(c)).as(s"c${i + 1}max"))
    }
    val agg = spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(zoneAggs.head, zoneAggs.tail: _*)
    val fs = SnapshotManifest.fsOf(spark, path)
    val qroot = fs.makeQualified(new Path(path)).toString
    val rows = agg.collect().map { r =>
      val p = fs.makeQualified(
        new Path(new java.net.URI(r.getString(0)))).toString
      Row.fromSeq(p.stripPrefix(qroot).stripPrefix("/") +:
        (1 to 2 * cols.size).map(r.get))
    }
    SnapshotManifest.commit(spark, path,
      Seq(SnapshotManifest.stageRows(spark, path, agg.schema, rows)))
  }

  /** The live n-D zone manifest. */
  def manifest(spark: SparkSession, path: String): DataFrame =
    SnapshotManifest.currentParts(spark, path).map { parts =>
      spark.read.parquet(
        parts.map(p => SnapshotManifest.partPath(path, p)): _*)
    }.getOrElse(throw new java.io.FileNotFoundException(
      s"$path/${SnapshotManifest.LatestFile}"))

  /** Manifest rows surviving the zone overlap test — the files a
    * pruned read opens (exposed for plan/skip assertions). `ranges`
    * aligns positionally with the write's column order; None = no
    * predicate on that axis. */
  def pruneZonesN(spark: SparkSession, path: String,
                  ranges: Seq[Option[(Column, Column)]]): DataFrame =
    ranges.zipWithIndex.foldLeft(manifest(spark, path)) {
      case (m, (Some((lo, hi)), i)) =>
        m.filter(col(s"c${i + 1}max") >= lo && col(s"c${i + 1}min") <= hi)
      case (m, (None, _)) => m
    }

  /** 2-D [[pruneZonesN]]. */
  def pruneZones(spark: SparkSession, path: String,
                 c1Range: Option[(Column, Column)],
                 c2Range: Option[(Column, Column)]): DataFrame =
    pruneZonesN(spark, path, Seq(c1Range, c2Range))

  /** Pruned n-D read: zone-skip on any subset of the dimensions from
    * manifest metadata, then re-apply the exact predicates — always
    * ≡ the plain filter over the full table (the s16/s25 oracles).
    * `cols`/`ranges` align positionally with the write's order. */
  def readN(spark: SparkSession, path: String, cols: Seq[String],
            ranges: Seq[Option[(Column, Column)]]): DataFrame = {
    require(cols.size == ranges.size,
      s"cols (${cols.size}) and ranges (${ranges.size}) must align")
    val files = pruneZonesN(spark, path, ranges)
      .select(col("file")).collect()
      .map(r => new Path(path, r.getString(0)).toString
        .replaceAll("([{}\\[\\]*?\\\\])", "\\\\$1"))
    val base =
      if (files.isEmpty) spark.read.parquet(path).limit(0)
      else spark.read.option("basePath", path).parquet(files.toIndexedSeq: _*)
    cols.zip(ranges).foldLeft(base) {
      case (df, (c, Some((lo, hi)))) =>
        df.filter(col(c) >= lo && col(c) <= hi)
      case (df, (_, None)) => df
    }
  }

  /** 2-D [[readN]]. */
  def read(spark: SparkSession, path: String, c1: String, c2: String,
           c1Range: Option[(Column, Column)] = None,
           c2Range: Option[(Column, Column)] = None): DataFrame =
    readN(spark, path, Seq(c1, c2), Seq(c1Range, c2Range))
}
