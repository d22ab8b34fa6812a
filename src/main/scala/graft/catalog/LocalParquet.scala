package graft.catalog

import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Type, Types}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._

/** Driver-side parquet I/O for MANIFEST PARTS and FOOTERS — the
  * metadata plane of [[Layout]]'s snapshot log (zone rows, provenance
  * markers, per-file stats and row counts): O(file-count) rows at ANY
  * table scale, so routing them through a Spark job is pure overhead
  * (~150 ms planning + task + commit protocol per part, measured r20).
  * Data-plane writes (table files, deletion vectors — O(rows)) stay
  * distributed.
  *
  * Every read opens each file ONCE, with read options built from the
  * caller's conf: parquet-mr's option-less `ParquetFileReader.open`
  * cost 12–13 ms per open and the `ParquetReader.builder` path 14–17
  * ms, against 0.3–0.5 ms with options (medians, 4-core host, a zone
  * manifest part). [[readAll]] over a two-part manifest went from
  * 59 ms (two option-less opens per file) to 2.6 ms.
  *
  * Fidelity contract: a part written here must read back through
  * `spark.read.parquet` with the SAME schema (names, types,
  * nullability) and values as one written by
  * `spark.createDataFrame(rows).coalesce(1).write.parquet` — pinned by
  * LocalParquetSpec's round-trip matrix. Date/timestamp values convert
  * through Spark's own [[DateTimeUtils]], so the epoch arithmetic is
  * identical by construction. Types outside the supported set make
  * [[supports]] false and the caller falls back to the Spark path. */
object LocalParquet {

  /** Can every field be written with exact Spark-read-back fidelity? */
  def supports(schema: StructType): Boolean =
    schema.fields.forall(f => f.dataType match {
      case StringType | LongType | IntegerType | DoubleType |
           BooleanType | DateType | TimestampType => true
      case _ => false
    })

  private def parquetType(f: StructField): Type = {
    val rep =
      if (f.nullable) Type.Repetition.OPTIONAL else Type.Repetition.REQUIRED
    f.dataType match {
      case StringType =>
        Types.primitive(PrimitiveType.PrimitiveTypeName.BINARY, rep)
          .as(LogicalTypeAnnotation.stringType()).named(f.name)
      case LongType =>
        Types.primitive(PrimitiveType.PrimitiveTypeName.INT64, rep)
          .named(f.name)
      case IntegerType =>
        Types.primitive(PrimitiveType.PrimitiveTypeName.INT32, rep)
          .named(f.name)
      case DoubleType =>
        Types.primitive(PrimitiveType.PrimitiveTypeName.DOUBLE, rep)
          .named(f.name)
      case BooleanType =>
        Types.primitive(PrimitiveType.PrimitiveTypeName.BOOLEAN, rep)
          .named(f.name)
      case DateType =>
        Types.primitive(PrimitiveType.PrimitiveTypeName.INT32, rep)
          .as(LogicalTypeAnnotation.dateType()).named(f.name)
      case TimestampType =>
        // INT64 µs adjusted-to-UTC — Spark reads it as TimestampType
        // under any session zone. Spark's own writer uses this form only
        // with `spark.sql.parquet.outputTimestampType = TIMESTAMP_MICROS`;
        // its default is INT96, whose footer statistics are unusable
        Types.primitive(PrimitiveType.PrimitiveTypeName.INT64, rep)
          .as(LogicalTypeAnnotation.timestampType(true,
            LogicalTypeAnnotation.TimeUnit.MICROS)).named(f.name)
      case dt => throw new IllegalArgumentException(s"unsupported: $dt")
    }
  }

  private def message(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach(f => b.addField(parquetType(f)))
    b.named("spark_schema") // the name Spark's own writer uses
  }

  private def add(g: Group, name: String, dt: DataType, v: Any): Unit =
    dt match {
      case StringType => g.append(name, v.asInstanceOf[String])
      case LongType => g.append(name, v.asInstanceOf[Long])
      case IntegerType => g.append(name, v.asInstanceOf[Int])
      case DoubleType => g.append(name, v.asInstanceOf[Double])
      case BooleanType => g.append(name, v.asInstanceOf[Boolean])
      case DateType =>
        val days = v match {
          case d: java.sql.Date => DateTimeUtils.fromJavaDate(d)
          case d: java.time.LocalDate => DateTimeUtils.localDateToDays(d)
        }
        g.append(name, days)
      case TimestampType =>
        val micros = v match {
          case t: java.sql.Timestamp => DateTimeUtils.fromJavaTimestamp(t)
          case t: java.time.Instant => DateTimeUtils.instantToMicros(t)
        }
        g.append(name, micros)
      case _ => throw new IllegalArgumentException(s"unsupported: $dt")
    }

  // ---- driver-side reads: manifest parts, footers ------------------

  /** Max total bytes [[readAll]] will pull onto the driver. Manifest
    * parts are O(file-count) rows; even a million-file table's zone
    * manifest is ~tens of MB. Anything bigger falls back to the
    * distributed read. */
  val MaxLocalReadBytes: Long = 64L * 1024 * 1024

  /** The key under which Spark's parquet writer stores the file's
    * Spark schema as JSON — the schema `spark.read.parquet` infers
    * from the footer whenever it is present. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** ONE reader per file, opened with read options built once per
    * call from the caller's conf — without them every open costs
    * 12–13 ms instead of 0.3–0.5 ms (see the object doc). */
  private def withReaders[A](conf: Configuration,
                             files: Seq[FileStatus])
                            (f: ParquetFileReader => A): Seq[A] = {
    val opts = HadoopReadOptions.builder(conf).build()
    files.map { st =>
      val fr = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf), opts)
      try f(fr) finally fr.close()
    }
  }

  /** Spark-read fields are always nullable (`spark.read` forces
    * `asNullable` on every file schema), so a REQUIRED column maps to
    * a nullable field here too. */
  private def sparkField(t: Type): Option[StructField] = {
    if (!t.isPrimitive) return None
    val p = t.asPrimitiveType()
    if (t.getRepetition == Type.Repetition.REPEATED) return None
    val lta = p.getLogicalTypeAnnotation
    val dt: Option[DataType] =
      (p.getPrimitiveTypeName, lta) match {
        case (PrimitiveType.PrimitiveTypeName.BINARY,
              _: LogicalTypeAnnotation.StringLogicalTypeAnnotation) =>
          Some(StringType)
        case (PrimitiveType.PrimitiveTypeName.INT64, null) => Some(LongType)
        case (PrimitiveType.PrimitiveTypeName.INT64,
              ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation)
            if ts.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS &&
              ts.isAdjustedToUTC => Some(TimestampType)
        case (PrimitiveType.PrimitiveTypeName.INT32, null) => Some(IntegerType)
        case (PrimitiveType.PrimitiveTypeName.INT32,
              _: LogicalTypeAnnotation.DateLogicalTypeAnnotation) =>
          Some(DateType)
        case (PrimitiveType.PrimitiveTypeName.DOUBLE, null) => Some(DoubleType)
        case (PrimitiveType.PrimitiveTypeName.BOOLEAN, null) =>
          Some(BooleanType)
        case _ => None
      }
    dt.map(StructField(t.getName, _))
  }

  private def sparkSchema(msg: MessageType): Option[StructType] = {
    val fields = (0 until msg.getFieldCount)
      .map(i => sparkField(msg.getType(i)))
    if (fields.forall(_.isDefined)) Some(StructType(fields.map(_.get)))
    else None
  }

  private def value(g: Group, i: Int, dt: DataType): Any = dt match {
    case StringType => g.getString(i, 0)
    case LongType => g.getLong(i, 0)
    case IntegerType => g.getInteger(i, 0)
    case DoubleType => g.getDouble(i, 0)
    case BooleanType => g.getBoolean(i, 0)
    case DateType => DateTimeUtils.toJavaDate(g.getInteger(i, 0))
    case TimestampType => DateTimeUtils.toJavaTimestamp(g.getLong(i, 0))
    case other => throw new IllegalArgumentException(s"unsupported: $other")
  }

  /** Read a set of parquet data files entirely on the driver —
    * (schema, rows) exactly as `spark.read.parquet` + `collect` would
    * produce them (same type mapping, all fields nullable, same
    * [[DateTimeUtils]] conversions; LocalParquetSpec pins the
    * equivalence for parts of both writers). The footer and the row
    * groups come from the same reader. None when any file uses a type
    * outside the supported set, the files' schemas differ, or the
    * total size exceeds [[MaxLocalReadBytes]] — callers then fall back
    * to the distributed read. */
  def readAll(conf: Configuration, files: Seq[FileStatus])
      : Option[(StructType, Array[Row])] = {
    if (files.isEmpty) return None
    if (files.map(_.getLen).sum > MaxLocalReadBytes) return None
    try {
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      var schema: StructType = null
      withReaders(conf, files) { fr =>
        val msg = fr.getFooter.getFileMetaData.getSchema
        val s = sparkSchema(msg).getOrElse(return None)
        if (schema == null) schema = s
        else if (schema != s) return None
        val io = new ColumnIOFactory().getColumnIO(msg)
        var pages = fr.readNextRowGroup()
        while (pages != null) {
          val records = io.getRecordReader(pages, new GroupRecordConverter(msg))
          var n = 0L
          while (n < pages.getRowCount) {
            val g = records.read()
            val vals = new Array[Any](s.fields.length)
            var i = 0
            while (i < s.fields.length) {
              vals(i) =
                if (g.getFieldRepetitionCount(i) == 0) null
                else value(g, i, s.fields(i).dataType)
              i += 1
            }
            out += Row.fromSeq(vals.toIndexedSeq)
            n += 1
          }
          pages = fr.readNextRowGroup()
        }
      }
      Some((schema, out.toArray))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Σ physical row counts of `files`, from their footers alone — what
    * `spark.read.parquet(files).count()` returns, without a job. */
  def footerRows(conf: Configuration, files: Seq[FileStatus]): Long =
    withReaders(conf, files) { fr =>
      fr.getFooter.getBlocks.asScala.map(_.getRowCount).sum
    }.sum

  /** The Spark schema Spark's writer recorded in `file`'s footer —
    * exactly what `spark.read.parquet` infers from that footer — or
    * None when the key is absent or unreadable (a non-Spark writer). */
  def sparkSchemaOf(conf: Configuration, file: Path): Option[StructType] =
    try {
      val st = file.getFileSystem(conf).getFileStatus(file)
      withReaders(conf, Seq(st)) { fr =>
        Option(fr.getFooter.getFileMetaData.getKeyValueMetaData
          .get(SparkSchemaKey))
      }.head.map(DataType.fromJson).collect { case s: StructType => s }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Per-file zone stats straight from the parquet FOOTERS —
    * (row_count, min, max) of `column` for each of `files`, min/max as
    * the same external JVM values `min(col)/max(col)` + collect would
    * produce. Exact by the format: row-group statistics for these
    * physical types are full-width (no truncation), so the bounds
    * equal the data's true min/max. None when, in any file, the
    * column is missing, a row group lacks statistics, or the type is
    * outside the integer/long/date/timestamp set — notably STRINGS,
    * whose binary stats MAY be truncated, and DOUBLES, whose stats
    * drop NaN and widen a zero bound to the other signed zero (the
    * reason Spark never pushes float min/max aggregates into parquet)
    * — callers fall back to the aggregation job. All-null columns
    * yield Some((n, null, null)), matching the agg's null min/max. */
  def footerZones(conf: Configuration, files: Seq[FileStatus],
                  column: String, dt: DataType)
      : Option[Seq[(Long, Any, Any)]] = {
    val ordering: Ordering[Any] = (dt match {
      case LongType | TimestampType => Ordering.Long
      case IntegerType | DateType => Ordering.Int
      case _ => return None
    }).asInstanceOf[Ordering[Any]]
    def ext(v: Option[Any]): Any = v match {
      case None => null
      case Some(x) => dt match {
        case DateType => DateTimeUtils.toJavaDate(x.asInstanceOf[Int])
        case TimestampType =>
          DateTimeUtils.toJavaTimestamp(x.asInstanceOf[Long])
        case _ => x
      }
    }
    try Some(withReaders(conf, files) { fr =>
      var nRows = 0L
      var mn: Option[Any] = None
      var mx: Option[Any] = None
      for (b <- fr.getFooter.getBlocks.asScala) {
        nRows += b.getRowCount
        val cc = b.getColumns.asScala.find(c =>
          c.getPath.toDotString == column).getOrElse(return None)
        val stats = cc.getStatistics
        if (stats == null || !stats.isNumNullsSet) return None
        if (stats.getNumNulls < b.getRowCount) {
          if (!stats.hasNonNullValue) return None
          val (l, h) = (stats.genericGetMin, stats.genericGetMax) match {
            case (a: java.lang.Integer, b0: java.lang.Integer) =>
              (a.intValue: Any, b0.intValue: Any)
            case (a: java.lang.Long, b0: java.lang.Long) =>
              (a.longValue: Any, b0.longValue: Any)
            case _ => return None
          }
          mn = Some(mn.fold(l)(m => ordering.min(m, l)))
          mx = Some(mx.fold(h)(m => ordering.max(m, h)))
        }
      }
      (nRows, ext(mn), ext(mx))
    })
    catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Write `rows` as ONE parquet file at `file` (no temp/rename — the
    * caller owns atomicity, same contract as the Spark path). */
  def write(conf: Configuration, file: Path, schema: StructType,
            rows: Iterable[Row]): Unit = {
    val msg = message(schema)
    val wConf = new Configuration(conf)
    GroupWriteSupport.setSchema(msg, wConf)
    val writer = ExampleParquetWriter.builder(
        org.apache.parquet.hadoop.util.HadoopOutputFile
          .fromPath(file, wConf))
      .withConf(wConf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try {
      val factory = new SimpleGroupFactory(msg)
      rows.foreach { r =>
        val g = factory.newGroup()
        schema.fields.zipWithIndex.foreach { case (f, i) =>
          val v = r.get(i)
          if (v == null) {
            if (!f.nullable)
              throw new IllegalArgumentException(
                s"null in non-nullable field ${f.name}")
          } else add(g, f.name, f.dataType, v)
        }
        writer.write(g)
      }
    } finally writer.close()
  }
}
