package layerbench

import java.nio.file.Paths
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import graft.catalog.{Layout, SnapshotManifest}
import Lifecycle._

/** Workload `table_lifecycle`: one client mixing reads and writes on a
  * graft.catalog.Layout table (clustered by symbol, zoned by ts), with
  * compact, expireBefore and vacuum every [[Lifecycle.MaintEvery]] writes.
  * Every read is checked against the model at the version it read. */
final class TableLifecycle(h: Harness, seed: Long, work: String) extends Workload {
  private val spark = h.spark
  private val Buckets = 2
  private val FilesPerBucket = 1
  private val schema = StructType(Seq(StructField("symbol", StringType), StructField("ts", LongType),
    StructField("price", DoubleType), StructField("qty", LongType)))

  private var path: String = _
  private var gen: Gen = _
  private var model: State = Map.empty
  /** Model state at each snapshot the client committed. */
  private val atSnap = mutable.Map.empty[String, State]
  private var retained: Seq[String] = Nil
  private var files: Map[String, Long] = Map.empty
  /** (op, what it returned, what the model says) per read */
  private val reads = mutable.ArrayBuffer.empty[(Op, Any, Any)]
  /** (op, files written, bytes written) per write or maintenance op */
  private val written = mutable.ArrayBuffer.empty[(Op, Int, Long)]
  private val dataBytesAtRead = mutable.Map.empty[Long, Long]
  private var userBytes = 0L

  private def df(rows: Seq[Tick]): DataFrame =
    spark.createDataFrame(rows.map(t => Row(t.symbol, t.ts, t.price, t.qty)).asJava, schema)

  private def create(dir: String, g: Gen): Unit = {
    path = dir
    gen = g
    Layout.writeClusteredZoned(df(g.base), path, "symbol", "ts", Buckets, FilesPerBucket)
    model = g.base.foldLeft(Map.empty: State)((s, t) => Lifecycle(s, Append(Seq(t))))
    atSnap.clear()
    track()
  }

  /** Record the snapshot the last op left current, and the table's files. */
  private def track(): Unit = {
    retained = Layout.snapshots(spark, path)
    retained.lastOption.foreach(atSnap(_) = model)
    files = Disk.sizes(Paths.get(path))
  }

  def prepare(): Unit = ()

  /** Create the table from the base rows. */
  def setup(round: Int): Unit = create(s"$work/lc_$round", new Gen(seed))

  /** Every op kind once on the first round's table, which later rounds
    * replace. */
  def warmUp(): Unit = gen.everyKind(model).foreach(run)

  private def read(symbol: String, snap: Option[String]): Seq[Tick] =
    h.collect(h.call("catalog", if (snap.isEmpty) "read" else "read_asof")(
      Layout.read(spark, path, "symbol", "ts", Buckets, symbolEq = Some(symbol), asOfSnap = snap))
      .select("symbol", "ts", "price", "qty"))
      .map(r => Tick(r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq.sortBy(_.ts)

  private def run(op: Op): Unit = {
    val before = files
    val dataBytes = files.filter(_._1.startsWith("sym_bucket=")).values.sum
    val earlier = retained.dropRight(1).filter(atSnap.contains)
    val res: Option[(Any, Any)] = op match {
      case Read(s) => h.op(op.cls, op.name)(read(s, None)).map(_ -> rowsOf(model, s))
      case Count => h.op(op.cls, op.name)(h.call("catalog", "count")(Layout.countFast(spark, path)))
        .map(_ -> model.size.toLong)
      case ReadAsOf(s, back) =>
        val snap = earlier.lift(earlier.size - back).orElse(earlier.headOption)
        h.op(op.cls, op.name)(read(s, snap))
          .map(_ -> rowsOf(snap.map(atSnap).getOrElse(model), s))
      case Append(rows) =>
        h.op(op.cls, op.name)(h.call("catalog", op.name)(
          Layout.appendClusteredZoned(df(rows), path, "symbol", "ts", Buckets, FilesPerBucket))); None
      case Delete(s, lo, hi) =>
        h.op(op.cls, op.name)(h.call("catalog", op.name)(Layout.deleteWhere(spark, path, "ts",
          _.filter(col("symbol") === s && col("ts").between(lo, hi))))); None
      case Upsert(rows) =>
        h.op(op.cls, op.name)(h.call("catalog", op.name)(Layout.applyChanges(
          df(rows).withColumn("_change_type", lit("insert")), path, "symbol", "ts",
          Seq("symbol", "ts"), Buckets, FilesPerBucket))); None
      case Compact =>
        h.op(op.cls, op.name)(h.call("catalog", op.name)(
          Layout.compact(spark, path, "symbol", "ts", FilesPerBucket))); None
      case Expire(cutoff) =>
        h.op(op.cls, op.name)(h.call("catalog", op.name)(
          Layout.expireBefore(spark, path, "ts", lit(cutoff)))); None
      case Vacuum =>
        h.op(op.cls, op.name)(h.call("catalog", op.name)(Layout.vacuum(spark, path))); None
    }
    if (!h.recording) res.foreach { case (got, want) =>
      require(got == want, s"warm-up ${op.name} returned a wrong result")
    }
    if (op.cls != "read") {
      model = Lifecycle(model, op)
      track()
      if (h.recording) {
        val fresh = files.filter { case (f, n) => !before.get(f).contains(n) }
        written += ((op, fresh.size, fresh.values.sum))
        op match {
          case Append(rows) => userBytes += rows.size.toLong * RowBytes
          case Upsert(rows) => userBytes += rows.size.toLong * RowBytes
          case _ =>
        }
      }
    } else if (h.recording) res.foreach { case (got, want) =>
      reads += ((op, got, want))
      dataBytesAtRead(h.ops.last.id) = dataBytes
    }
  }

  /** One whole maintenance cycle: reads and writes up to the
    * [[Lifecycle.MaintEvery]]-th write, then compact, expire and vacuum.
    * Every run then holds the heavy maintenance ops in the same share. */
  def step(): Unit = {
    var op: Op = null
    while (op != Vacuum) { op = gen.next(model); run(op) }
  }

  def finish(layers: Option[Layers]): Outcome = {
    val bad = reads.count { case (_, got, want) => got != want }
    reads.filter(r => r._2 != r._3).take(3).foreach { case (op, got, want) =>
      System.err.println(s"layerbench: check failed for $op: got $got, want $want".take(400))
    }
    val ops = h.ops.toSeq
    def p50(name: String) = Stats.median(ops.filter(o => o.ok && o.name == name).map(_.ms))
    val writes = ops.filter(o => o.ok && o.cls == "write")
    val ws = written.filter(_._1.cls == "write")
    // live rows written once as one parquet file: the space baseline
    val once = s"$work/lc_live_once"
    df(model.iterator.map { case ((s, ts), (p, q)) => Tick(s, ts, p, q) }.toSeq.sortBy(t => (t.symbol, t.ts)))
      .coalesce(1).write.mode("overwrite").parquet(once)
    val onceBytes = Disk.bytesUnder(Paths.get(once))
    val tableBytes = files.values.sum
    val traced = layers.map(l => (l, writes.filter(_.traced), ops.filter(o => o.traced && o.cls == "read")))
    val layerMetrics = traced.map { case (l, tw, tr) =>
      val scanned = tr.map(o => l.inputBytes(o.id)).sum.toDouble
      val table = tr.map(o => dataBytesAtRead.getOrElse(o.id, 0L)).sum.toDouble
      Map(
        "catalog.jobs_per_write" -> M(if (tw.isEmpty) 0.0 else tw.map(o => l.jobCount(o.id)).sum.toDouble / tw.size, "count"),
        "catalog.read_bytes_frac" -> M(if (table == 0) 0.0 else scanned / table, "ratio"))
    }.getOrElse(Map.empty)
    val opNames = Seq("append", "delete", "upsert", "read", "count", "read_asof", "compact", "expire", "vacuum")
    Outcome(
      attempted = ops.size,
      failed = ops.count(!_.ok) + bad,
      reads = ops.filter(o => o.ok && o.cls == "read").map(o => o.name -> o.ms),
      readMix = Lifecycle.Reads.toMap,
      writes = writes.map(_.ms),
      metrics = opNames.map(n => s"catalog.${n}_ms" -> M(p50(n), "ms")).toMap ++ layerMetrics ++ Map(
        "catalog.files_written_per_write" -> M(if (ws.isEmpty) 0.0 else ws.map(_._2).sum.toDouble / ws.size, "count"),
        "catalog.bytes_written_per_write" -> M(if (ws.isEmpty) 0.0 else ws.map(_._3).sum.toDouble / ws.size, "B"),
        "catalog.live_files" -> M(Layout.manifest(spark, path).map(_.count().toDouble).getOrElse(0.0), "count"),
        "catalog.manifest_parts" -> M(SnapshotManifest.currentParts(spark, path).map(_.size).getOrElse(0).toDouble, "count"),
        "catalog.snapshots" -> M(Layout.snapshots(spark, path).size.toDouble, "count"),
        "write_amp" -> M(if (userBytes == 0) 0.0 else written.map(_._3).sum.toDouble / userBytes, "ratio"),
        "space_amp" -> M(if (onceBytes == 0) 0.0 else tableBytes.toDouble / onceBytes, "ratio")),
      sizes = Map("rows" -> model.size.toDouble, "bytes_on_disk" -> tableBytes.toDouble,
        "live_once_bytes" -> onceBytes.toDouble, "files" -> files.size.toDouble))
  }
}
