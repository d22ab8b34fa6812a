package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.SparkSpec

/** Pins [[LocalParquet]]'s fidelity contract: a part written on the
  * driver must be indistinguishable — schema (names, types,
  * nullability) AND values — from one written through
  * `spark.createDataFrame(rows).coalesce(1).write.parquet`, for every
  * type the manifest plane uses. A drift here would corrupt zone
  * pruning bounds, so the matrix covers null handling and the
  * date/timestamp epoch conversions. */
class LocalParquetSpec extends SparkSpec {

  private def roundTrip(schema: StructType, rows: Seq[Row]): Unit = {
    val base = scratchDir("local_parquet_spec")
    val sparkDir = s"$base/spark"
    val localDir = s"$base/local"
    spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.parquet(sparkDir)
    val fs = new Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(localDir))
    LocalParquet.write(spark.sparkContext.hadoopConfiguration,
      new Path(localDir, "part-00000.parquet"), schema, rows)
    val viaSpark = spark.read.parquet(sparkDir)
    val viaLocal = spark.read.parquet(localDir)
    assert(viaLocal.schema === viaSpark.schema,
      s"schema drift:\nlocal  ${viaLocal.schema}\nspark  ${viaSpark.schema}")
    val l = viaLocal.collect().map(_.toString).sorted.toSeq
    val s = viaSpark.collect().map(_.toString).sorted.toSeq
    assert(l === s, "value drift between local and spark-written parts")
  }

  test("zone-manifest schema round-trips (date bounds, nulls)") {
    assert(LocalParquet.supports(StructType(Seq(
      StructField("file", StringType),
      StructField("sym_bucket", LongType),
      StructField("zmin", DateType),
      StructField("zmax", DateType),
      StructField("n_rows", LongType, nullable = false)))))
    roundTrip(
      StructType(Seq(
        StructField("file", StringType),
        StructField("sym_bucket", LongType),
        StructField("zmin", DateType),
        StructField("zmax", DateType),
        StructField("n_rows", LongType, nullable = false))),
      Seq(
        Row("sym_bucket=0/a.parquet", 0L,
          java.sql.Date.valueOf("1992-01-02"),
          java.sql.Date.valueOf("1998-12-01"), 1234L),
        Row("sym_bucket=1/b.parquet", 1L, null, null, 0L),
        Row(null, 3L,
          java.sql.Date.valueOf("1970-01-01"),
          java.sql.Date.valueOf("2038-01-19"), 7L)))
  }

  test("timestamp/int/double/boolean round-trip") {
    roundTrip(
      StructType(Seq(
        StructField("ts", TimestampType),
        StructField("i", IntegerType),
        StructField("d", DoubleType),
        StructField("b", BooleanType))),
      Seq(
        Row(java.sql.Timestamp.valueOf("1997-06-15 12:34:56.789123"),
          42, 3.5, true),
        Row(null, null, null, null),
        Row(java.sql.Timestamp.valueOf("1969-12-31 23:59:59.999999"),
          -1, -0.0, false)))
  }

  test("readAll returns spark.read's schema and rows for parts of both writers") {
    val schema = StructType(Seq(
      StructField("file", StringType),
      StructField("n_rows", LongType, nullable = false), // REQUIRED
      StructField("d", DateType),
      StructField("ts", TimestampType),
      StructField("x", DoubleType)))
    val rows = Seq(
      Row("sym_bucket=0/a.parquet", 3L, java.sql.Date.valueOf("1998-12-01"),
        java.sql.Timestamp.valueOf("1997-06-15 12:34:56.789123"), -0.0),
      Row(null, 0L, null, null, null))
    val base = scratchDir("local_parquet_read")
    val conf = spark.sparkContext.hadoopConfiguration
    // Spark's default INT96 timestamps are outside readAll's set (it
    // declines them); manifest parts carry INT64 microseconds
    val tsType = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(tsType)
    spark.conf.set(tsType, "TIMESTAMP_MICROS")
    try spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.parquet(s"$base/spark")
    finally spark.conf.set(tsType, prev)
    val fs = new Path(base).getFileSystem(conf)
    fs.mkdirs(new Path(s"$base/local"))
    LocalParquet.write(conf, new Path(s"$base/local", "part-00000.parquet"),
      schema, rows)
    for (dir <- Seq(s"$base/spark", s"$base/local")) {
      val files = fs.listStatus(new Path(dir)).toSeq.filter(st =>
        st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
      val (gotSchema, got) = LocalParquet.readAll(conf, files).get
      val want = spark.read.parquet(dir)
      assert(gotSchema === want.schema, dir)
      assert(got.map(_.toString).sorted.toSeq ===
        want.collect().map(_.toString).sorted.toSeq, dir)
    }
  }

  test("unsupported types are declined, not mangled") {
    assert(!LocalParquet.supports(StructType(Seq(
      StructField("x", DecimalType(18, 2))))))
    assert(!LocalParquet.supports(StructType(Seq(
      StructField("x", ArrayType(LongType))))))
  }
}
