package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.sources.{EquitySource, StubMacroSource}

/** End-to-end ingest test: a deterministic in-memory [[EquitySource]]
  * drives the full 17-step DAG into a temp root, then the produced
  * datasets are queried back through [[LocalParquetDataHandler]] — the
  * complete platform loop (source → ingest → storage → query API) with
  * no network.
  */
class IngestSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")

  private class SyntheticEquitySource(spark: SparkSession) extends EquitySource {
    import scala.jdk.CollectionConverters._
    private def df(schema: StructType, rows: Row*): DataFrame =
      spark.createDataFrame(rows.asJava, schema)
    private def S(fields: (String, DataType)*) =
      StructType(fields.map { case (n, t) => StructField(n, t) })

    def universe(start: String, end: String): DataFrame = df(
      S("permno" -> LongType, "start_date" -> TimestampType, "end_date" -> TimestampType),
      Row(1L, ts("2020-01-01"), ts("2020-12-31")),
      Row(2L, ts("2020-01-01"), ts("2020-06-30")))

    def nameRecords(permnos: Seq[Long]): DataFrame = df(
      S("asset_id" -> LongType, "ticker" -> StringType,
        "first_date" -> TimestampType, "last_date" -> TimestampType),
      Row(1L, "AAA", ts("2010-01-01"), ts("2015-12-31")),
      Row(1L, "AAN", ts("2016-01-01"), ts("2020-12-31")), // renamed ticker
      Row(2L, "BBB", ts("2010-01-01"), ts("2020-06-30")))

    def ipoDates(permnos: Seq[Long]): DataFrame = df(
      S("asset_id" -> LongType, "ipodate" -> TimestampType),
      Row(1L, ts("2009-05-01")))

    def pricesDaily(permnos: Seq[Long], start: String, end: String): DataFrame = df(
      S("date" -> TimestampType, "permno" -> LongType, "open" -> DoubleType,
        "high" -> DoubleType, "low" -> DoubleType, "close" -> DoubleType,
        "cfacpr" -> DoubleType, "ret" -> DoubleType, "shrout" -> LongType,
        "volume" -> LongType),
      Row(ts("2020-01-02"), 1L, 10.0, 11.0, 9.0, 10.0, 2.0, 0.01, 100L, 1000L),
      Row(ts("2020-01-03"), 1L, 10.5, 11.5, 9.5, 10.5, 2.0, 0.05, 100L, 1100L),
      Row(ts("2020-01-02"), 2L, 20.0, 21.0, 19.0, 20.0, 1.0, 0.02, 200L, 2000L),
      Row(ts("2020-01-03"), 2L, 20.4, 21.4, 19.4, 20.4, 1.0, 0.02, 200L, 2100L))

    def delistEvents(permnos: Seq[Long], start: String, end: String): DataFrame = df(
      S("asset_id" -> LongType, "date" -> TimestampType, "delret" -> DoubleType),
      Row(2L, ts("2020-01-03"), -0.5)) // exercises delret rename + compounding

    def ccmLinks(permnos: Seq[Long], end: String): DataFrame = df(
      S("gvkey" -> StringType, "permno" -> LongType,
        "linkdt" -> TimestampType, "linkenddt" -> TimestampType),
      Row("G1", 1L, ts("2010-01-01"), null),
      Row("G2", 2L, ts("2010-01-01"), ts("2020-12-31")))

    def fundamentals(gvkeys: Seq[String], start: String, end: String): DataFrame = df(
      S("gvkey" -> StringType, "datadate" -> TimestampType, "revt" -> DoubleType,
        "ni" -> DoubleType, "at" -> DoubleType),
      Row("G1", ts("2020-03-31"), 1000.0, 100.0, 5000.0),
      Row("G2", ts("2020-03-31"), 2000.0, 200.0, 6000.0))

    def ibesIds(end: String): DataFrame = df(
      S("ticker" -> StringType, "cusip" -> StringType, "cname" -> StringType,
        "start_date" -> TimestampType, "end_date" -> TimestampType),
      Row("AAAI", "11111110", "Alpha Corp", ts("2015-01-01"), null),
      Row("BBBI", "22222220", "Beta Corp", ts("2015-01-01"), null))

    def crspCusipNames(permnos: Seq[Long], start: String, end: String): DataFrame = df(
      S("asset_id" -> LongType, "ncusip" -> StringType,
        "start_date" -> TimestampType, "end_date" -> TimestampType),
      Row(1L, "11111110", ts("2010-01-01"), null),
      Row(2L, "22222220", ts("2010-01-01"), null))

    def consensusSummary(tickers: Seq[String], start: String, end: String): DataFrame = df(
      S("statpers" -> TimestampType, "ticker" -> StringType, "oftic" -> StringType,
        "cusip" -> StringType, "cname" -> StringType, "buypct" -> DoubleType,
        "holdpct" -> DoubleType, "sellpct" -> DoubleType, "meanrec" -> DoubleType,
        "medrec" -> DoubleType, "stdev" -> DoubleType, "numup" -> LongType,
        "numdown" -> LongType, "numrec" -> LongType, "usfirm" -> LongType),
      Row(ts("2020-01-15"), "AAAI", "AAA", "11111110", "Alpha Corp",
        60.0, 30.0, 10.0, 1.8, 2.0, 0.4, 2L, 1L, 10L, 1L),
      // duplicate (date, asset) row with null mean — dedup must fill from first
      Row(ts("2020-01-15"), "AAAI", "AAA", "11111110", "Alpha Corp",
        null, null, null, null, 2.0, 0.4, 2L, 1L, 10L, 1L))

    def ratingsDetail(tickers: Seq[String], start: String, end: String): DataFrame = df(
      S("ticker" -> StringType, "anndats" -> TimestampType, "analys" -> LongType,
        "ireccd" -> DoubleType, "etext" -> StringType, "itext" -> StringType,
        "statpers" -> TimestampType),
      Row("AAAI", ts("2020-02-01"), 77L, 1.0, "up", "Strong Buy", ts("2020-02-01")),
      Row("BBBI", ts("2020-03-01"), 88L, 3.0, "down", "Hold", ts("2020-03-01")))

    def ffFactors(start: String, end: String): DataFrame = df(
      S("date" -> TimestampType, "mktrf" -> DoubleType, "smb" -> DoubleType,
        "hml" -> DoubleType, "rmw" -> DoubleType, "cma" -> DoubleType,
        "rf" -> DoubleType, "umd" -> DoubleType),
      Row(ts("2020-01-02"), 1.0, 0.5, -0.2, 0.1, 0.05, 0.01, 2.0),
      Row(ts("2020-01-03"), -0.5, null, 0.3, null, null, 0.01, -1.0))

    def pricesMonthly(permnos: Seq[Long], start: String, end: String): DataFrame = df(
      S("date" -> TimestampType, "permno" -> LongType, "close" -> DoubleType,
        "ret" -> DoubleType, "volume" -> LongType, "shrout" -> LongType),
      Row(ts("2020-01-31"), 1L, 11.0, 0.10, 30000L, 100L),
      Row(ts("2020-01-31"), 2L, 19.0, -0.05, 40000L, 200L))

    def dividends(permnos: Seq[Long], start: String, end: String): DataFrame = df(
      S("asset_id" -> LongType, "distcd" -> LongType, "divamt" -> DoubleType,
        "facpr" -> DoubleType, "facshr" -> DoubleType, "date" -> TimestampType),
      Row(1L, 1232L, 0.5, null, null, ts("2020-01-31")),
      Row(1L, 1232L, 0.25, null, null, ts("2020-01-31"))) // same day → summed

    def benchmark(start: String, end: String): DataFrame = df(
      S("date" -> TimestampType, "ret" -> DoubleType),
      Row(ts("2020-01-02"), 0.01), Row(ts("2020-01-03"), -0.02))
  }

  test("degraded warehouse: reduced funda columns + det_rec fallback still populate") {
    // §2.12 ladders end-to-end (VERDICT.md "What's missing" #1): the
    // warehouse only serves the CORE fundamentals column set (the full
    // request must fail), and the recddet detail table is absent — only a
    // det_rec-shaped variant (statpers-dated, rec/actioncode/recdef
    // columns) exists. Both datasets must still come out populated.
    val src = new SyntheticEquitySource(spark) {
      import scala.jdk.CollectionConverters._
      override def fundamentals(gvkeys: Seq[String], start: String,
          end: String): DataFrame = spark.createDataFrame(
        Seq(
          Row("G1", ts("2020-03-31"), 1000.0, 100.0, 5000.0, 40.0, 7.0),
          Row("G2", ts("2020-03-31"), 2000.0, 200.0, 6000.0, 50.0, 8.0)).asJava,
        StructType(Seq(
          StructField("gvkey", StringType), StructField("datadate", TimestampType),
          StructField("revt", DoubleType), StructField("ni", DoubleType),
          StructField("at", DoubleType), StructField("dltt", DoubleType),
          StructField("oancf", DoubleType))))
      override def ratingsDetailLadder(tickers: Seq[String], start: String,
          end: String): Seq[() => DataFrame] = Seq(
        () => throw new RuntimeException("recddet absent"),
        () => spark.createDataFrame(
          Seq(
            Row("AAAI", ts("2020-02-01"), 77L, 1.0, "3", "Strong Buy"),
            Row("BBBI", ts("2020-03-01"), 88L, 3.0, "2", "Hold")).asJava,
          StructType(Seq(
            StructField("ticker", StringType), StructField("statpers", TimestampType),
            StructField("amaskcd", LongType), StructField("rec", DoubleType),
            StructField("actioncode", StringType), StructField("recdef", StringType)))))
    }
    val root = Files.createTempDirectory("graft-ingest-degraded").toString
    Ingest.run(spark, src, new StubMacroSource(spark), root,
      start = "2020-01-01", end = "2020-12-31")

    // fundamentals: the core-set rung populated rows; absent columns are
    // null-filled by conformance, present core columns carry through.
    val f = spark.read.parquet(s"$root/data_processed/fundamentals_quarterly.parquet")
    assert(f.count() == 2)
    val row = f.filter("asset_id = 1").collect().head
    assert(row.getAs[Double]("revenue") == 1000.0)
    assert(row.isNullAt(row.fieldIndex("capital_expenditures"))) // not in the core set

    // ratings: the det_rec rung mapped through its alternate column names
    val rh = spark.read.parquet(
      s"$root/data_processed/analyst_ratings_history.parquet").orderBy("date").collect()
    assert(rh.length == 2)
    assert(rh.head.getAs[Double]("rating") == 1.0) // from `rec`
    assert(rh.head.getAs[Long]("analyst_id") == 77L) // from `amaskcd`
    assert(rh.head.getAs[String]("rating_text") == "Strong Buy") // from `recdef`

    // K4: the run wrote a per-run log file with step timings
    val logs = new java.io.File(s"$root/logs").listFiles()
    assert(logs != null && logs.nonEmpty)
    val logText = Files.readString(logs.head.toPath)
    assert(logText.contains("[17/17]"))
    assert(logText.contains("Ingest finished"))
    assert(logText.contains("fundamentals degraded to a reduced column set"))
  }

  test("partitioned ingest writes pruned panel layouts, same data") {
    val root = Files.createTempDirectory("graft-ingest-part").toString
    Ingest.run(spark, new SyntheticEquitySource(spark),
      new StubMacroSource(spark), root,
      start = "2020-01-01", end = "2020-12-31", partitionPanels = true)
    // panel written under _p_year/_p_month directories...
    val dirs = new java.io.File(s"$root/data_processed/prices_daily.parquet")
      .listFiles().map(_.getName).filter(_.startsWith("_p_year="))
    assert(dirs.nonEmpty)
    // ...and readDateRange round-trips with the original row count
    val all = Layout.readDateRange(spark,
      s"$root/data_processed/prices_daily.parquet", "date",
      "2020-01-01", "2020-12-31")
    assert(all.count() == 4)
    assert(all.columns.toSet.intersect(Set("_p_year", "_p_month")).isEmpty)
  }

  test("full 17-step ingest produces queryable datasets end-to-end") {
    val root = Files.createTempDirectory("graft-ingest").toString
    val result = Ingest.run(spark, new SyntheticEquitySource(spark),
      new StubMacroSource(spark), root,
      start = "2020-01-01", end = "2020-12-31", saveRaw = true)
    assert(result.steps.size == 17)

    def read(p: String) = spark.read.parquet(s"$root/$p")

    // assets master deduped: ticker as of latest name record
    val am = read("data_meta/assets_master.parquet").orderBy("asset_id").collect()
    assert(am.map(_.getAs[String]("ticker")).toSeq == Seq("AAN", "BBB"))
    assert(am(0).getAs[Timestamp]("ipodate") == ts("2009-05-01"))

    // membership expands intervals over business days only
    val memb = read("data_processed/sp500_membership.parquet")
    assert(memb.filter("asset_id = 2").count() == 130) // Jan..Jun 2020 weekdays
    assert(memb.filter("asset_id = 1").count() == 262) // all 2020 weekdays

    // prices carry adj_close = close * cfacpr and attached tickers
    val px = read("data_processed/prices_daily.parquet")
      .filter("asset_id = 1 AND date = '2020-01-02'").collect().head
    assert(px.getAs[Double]("adj_close") == 20.0)
    assert(px.getAs[String]("ticker") == "AAN")

    // returns: delist compounding on (2, 2020-01-03): (1.02)*(0.5)-1
    val r2 = read("data_processed/returns_daily.parquet")
      .filter("asset_id = 2 AND date = '2020-01-03'").collect().head
    assert(math.abs(r2.getAs[Double]("ret_1d") - (1.02 * 0.5 - 1)) < 1e-12)

    // fundamentals linked + friendly-renamed
    val f = read("data_processed/fundamentals_quarterly.parquet")
    assert(f.columns.contains("revenue") && f.columns.contains("net_income"))
    assert(f.count() == 2)

    // consensus deduped to one row with first-non-null fill
    val c = read("data_processed/analyst_consensus.parquet").collect()
    assert(c.length == 1)
    assert(c.head.getAs[Double]("mean_rating") == 1.8)
    assert(c.head.getAs[Long]("asset_id") == 1L)

    // ratings history mapped via cusip-interval idxref
    val rh = read("data_processed/analyst_ratings_history.parquet")
      .orderBy("date").collect()
    assert(rh.map(_.getAs[Long]("asset_id")).toSeq == Seq(1L, 2L))
    assert(rh.head.getAs[String]("rating_text") == "Strong Buy")

    // factors: long format, scaled once (MOM from umd)
    val fac = read("data_processed/style_factor_returns.parquet")
    assert(fac.filter("factor_name = 'MOM'").count() == 2)
    val mkt = fac.filter("factor_name = 'MKT' AND date = '2020-01-02'")
      .collect().head.getAs[Double]("ret")
    assert(mkt == 0.01)

    // benchmark level: 100 * cumprod(1+ret)
    val b = read("data_processed/benchmarks.parquet").orderBy("date").collect()
    assert(math.abs(b(0).getAs[Double]("level") - 101.0) < 1e-9)
    assert(math.abs(b(1).getAs[Double]("level") - 101.0 * 0.98) < 1e-9)

    // dividends: same-day amounts summed, yield from monthly close
    val d = read("data_processed/dividends_monthly.parquet").collect().head
    assert(d.getAs[Double]("divamt") == 0.75)
    assert(math.abs(d.getAs[Double]("dividend_yield") - 0.75 / 11.0) < 1e-12)

    // macro via the FRED JSON plan: values parsed, "." rows dropped
    val m = read("data_processed/macro_timeseries.parquet")
    assert(m.select("series_name").distinct().count() == 3)
    assert(m.filter("value IS NULL").count() == 0)

    // every written dataset has exactly the columns, order and types its
    // graft.Schemas entry declares (internal _p_* partition columns aside)
    def cols(s: StructType) = s.fields.toSeq
      .filterNot(_.name.startsWith("_p_")).map(c => (c.name, c.dataType))
    val drift = for {
      dir <- Seq("data_processed", "data_meta")
      f <- new java.io.File(s"$root/$dir").listFiles().toSeq.sortBy(_.getName)
      if f.getName.endsWith(".parquet")
      name = f.getName.stripSuffix(".parquet")
      got = cols(read(s"$dir/${f.getName}").schema)
      if got != cols(Schemas.all(name))
    } yield s"$name writes $got"
    assert(drift.size == 0, drift.mkString("; "))

    // manifests exist
    assert(Files.exists(java.nio.file.Paths.get(s"$root/data_meta/data_sources.yml")))
    assert(Files.exists(java.nio.file.Paths.get(s"$root/reference/field_manifest.csv")))

    // and the produced root is queryable through the handler API
    val handler = new LocalParquetDataHandler(spark, root)
    val got = handler.getPrices(Some(Seq("AAN")), Some("2020-01-02"),
      Some("2020-01-03"), Some(Seq("close", "adj_close")))
    assert(got.count() == 2)
    assert(got.columns.toSeq == Seq("date", "asset_id", "ticker", "close", "adj_close"))
  }
}
