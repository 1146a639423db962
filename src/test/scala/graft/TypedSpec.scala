package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Typed API-edge views: Dataset[T] lifts of handler results with
  * compile-time field access and Option-mapped nulls.
  */
class TypedSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")

  test("prices lift to Dataset[PriceRow] with null -> None") {
    val root = Files.createTempDirectory("graft-typed").toString
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(Seq(
        Row(1L, "AAA", ts("2020-01-01"), ts("2020-01-05"))).asJava,
      StructType(Seq(StructField("asset_id", LongType), StructField("ticker", StringType),
        StructField("first_date", TimestampType), StructField("last_date", TimestampType))))
      .write.parquet(s"$root/data_meta/assets_master.parquet")
    spark.createDataFrame(Seq(
        Row(1L, ts("2020-01-02"), 10.0, 11.0, 9.0, 10.5, null, null, null,
          1000L, null, "AAA")).asJava,
      Schemas.pricesDaily)
      .write.parquet(s"$root/data_processed/prices_daily.parquet")

    val handler = new LocalParquetDataHandler(spark, root)
    val typed = Typed.prices(handler, Some(Seq("AAA")))
    val row = typed.collect().head
    assert(row.ticker == "AAA")              // compile-time field access
    assert(row.close.contains(10.5))
    assert(row.adj_close.isEmpty)            // null column -> None
    // typed transformations compose
    val closes = typed.filter(_.close.isDefined).map(_.close.get)(
      org.apache.spark.sql.Encoders.scalaDouble).collect()
    assert(closes.toSeq == Seq(10.5))
  }
}
