package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}

/** Table registry over the driver's parquet layout (`TESTDATA.md`):
  * one parquet file per table under a scale-factor directory.
  *
  * At 100 TB each of these would be a partitioned/bucketed parquet (or
  * Iceberg/Delta) table; the loader API is the single seam where that
  * swap happens — query code only ever sees DataFrames by table name.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Small dimension tables — always broadcastable in joins. */
  val dims: Set[String] = Set("region", "nation", "supplier", "part", "customer")

  /** Schema catalog for the registry's IMMUTABLE input tables: a
    * path-based `spark.read.parquet` re-infers the schema (a driver
    * footer read) on EVERY call, and the suite loads these tables
    * hundreds of times per run. A real deployment reads them through a
    * catalog that holds the schema; this memo is that catalog seam —
    * METADATA only (never rows, never results), keyed by path, for
    * files the harness never mutates. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      (Long, Long, org.apache.spark.sql.types.StructType)]()

  /** (mtime, length) of `path` — the cache validity stamp. A parquet
    * path regenerated with a different schema in the same JVM changes
    * its stamp, so the stale entry is dropped instead of silently
    * null-filling columns through `spark.read.schema(stale)` (r19
    * advice: the immutability contract is now asserted, not assumed).
    * A stat failure (exotic FS) stamps (-1,-1): cache still works,
    * validation degrades to the old keyed-by-path behavior. */
  private def stamp(spark: SparkSession, path: String): (Long, Long) =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p)
      (st.getModificationTime, st.getLen)
    } catch { case _: Throwable => (-1L, -1L) }

  private def readCached(spark: SparkSession, path: String): DataFrame = {
    val (mt, len) = stamp(spark, path)
    val e = schemaCache.get(path)
    if (e != null && e._1 == mt && e._2 == len)
      spark.read.schema(e._3).parquet(path)
    else {
      val df = spark.read.parquet(path)
      schemaCache.put(path, (mt, len, df.schema))
      df
    }
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped as both parquet TIMESTAMP(NANOS) —
      // which Spark 4 rejects outright unless read as a long — and
      // plain TIMESTAMP(MICROS); normalize either encoding to a
      // session-zone TIMESTAMP so every downstream query sees one
      // type (the oracle's DuckDB read agrees under the UTC session).
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = readCached(spark, s"$sfDir/$name.parquet")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          // nanos-as-long: truncate to µs with integer DIV, not `/` —
          // epoch-nanos exceed 2^53, so double division is off by ±1µs
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn("ts", col("ts").cast("timestamp"))
        case _ => df
      }
    } else readCached(spark, s"$sfDir/$name.parquet")
}
