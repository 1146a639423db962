package graft

import org.apache.spark.sql.{DataFrame, SparkSession, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

/** Canonical schemas for every dataset the engine reads or writes.
  *
  * The reference hard-codes expected column lists per dataset and conforms
  * query results to them defensively (missing columns injected as nulls,
  * canonical order restored) — see `wrds_ingestion.py:326-347,520-533,
  * 749-788` and the generated catalog `reference/field_manifest.csv`.
  * Here each dataset is an explicit `StructType`, used for typed empty
  * fallbacks (`emptyOf`) and schema conformance (`conformTo`, operator U3).
  *
  * Types follow SURVEY.md §1.4: TimestampType for every date column (the
  * reference round-trips datetime64), DoubleType for money/returns (never
  * Decimal — float math is the API contract), LongType ids.
  */
object Schemas {

  private def ts(n: String) = StructField(n, TimestampType, nullable = true)
  private def dbl(n: String) = StructField(n, DoubleType, nullable = true)
  private def lng(n: String) = StructField(n, LongType, nullable = true)
  private def str(n: String) = StructField(n, StringType, nullable = true)
  private def bool(n: String) = StructField(n, BooleanType, nullable = true)

  /** `data_meta/assets_master.parquet` (`wrds_ingestion.py:235-253`): the
    * deduped name records plus the optional IPO date.
    */
  val assetsMaster: StructType = StructType(Seq(
    lng("asset_id"), str("ticker"), ts("first_date"), ts("last_date"),
    ts("ipodate")))

  /** `data_meta/trading_calendar.parquet` (`wrds_ingestion.py:155-157`). */
  val tradingCalendar: StructType = StructType(Seq(ts("date"), bool("is_trading_day")))

  /** `data_meta/universe_sp500.parquet` (`wrds_ingestion.py:160-166`). */
  val universeSp500: StructType = StructType(Seq(
    ts("date"), lng("asset_id"), bool("in_universe")))

  /** `data_processed/prices_daily.parquet` (field_manifest.csv): the
    * `crsp.dsf` columns as downloaded, then `adj_close` and the attached
    * ticker.
    */
  val pricesDaily: StructType = StructType(Seq(
    lng("asset_id"), ts("date"), dbl("open"), dbl("high"), dbl("low"),
    dbl("close"), dbl("cfacpr"), dbl("ret"), lng("shrout"), lng("volume"),
    dbl("adj_close"), str("ticker")))

  /** `data_processed/returns_daily.parquet` (`wrds_ingestion.py:446-449`). */
  val returnsDaily: StructType = StructType(Seq(
    lng("asset_id"), ts("date"), str("ticker"), dbl("ret_1d")))

  /** `data_processed/returns_monthly.parquet` (`wrds_ingestion.py:466-478`):
    * raw `ret` is kept alongside the delist-adjusted `ret_1m`.
    */
  val returnsMonthly: StructType = StructType(Seq(
    lng("asset_id"), ts("date"), dbl("ret"), dbl("ret_1m"), dbl("price"),
    lng("volume"), lng("shrout")))

  /** `data_processed/sp500_membership.parquet`. */
  val sp500Membership: StructType = StructType(Seq(
    ts("date"), lng("asset_id"), bool("in_sp500")))

  /** `data_processed/fundamentals_quarterly.parquet` after the friendly
    * rename (`config/wrds_field_map.yml`, applied `wrds_ingestion.py:539-541`).
    */
  val fundamentalsQuarterly: StructType = StructType(Seq(
    ts("report_date"), lng("asset_id"), dbl("revenue"), dbl("sales"),
    dbl("net_income"), dbl("total_assets"), dbl("common_equity"),
    dbl("total_debt_long_term"), dbl("preferred_stock"),
    dbl("cash_flow_from_operations"), dbl("capital_expenditures"),
    dbl("research_and_development")))

  /** `data_processed/macro_timeseries.parquet` (`wrds_ingestion.py:946-981`). */
  val macroTimeseries: StructType = StructType(Seq(
    ts("date"), str("series_name"), dbl("value")))

  /** `data_processed/style_factor_returns.parquet` (`wrds_ingestion.py:927-941`). */
  val styleFactorReturns: StructType = StructType(Seq(
    ts("date"), str("factor_name"), dbl("ret")))

  /** `data_processed/benchmarks.parquet` (`wrds_ingestion.py:984-1001`). */
  val benchmarks: StructType = StructType(Seq(
    ts("date"), str("benchmark_name"), dbl("level"), dbl("ret")))

  /** `data_processed/risk_free.parquet` (`wrds_ingestion.py:920-924`). */
  val riskFree: StructType = StructType(Seq(ts("date"), dbl("rf")))

  /** `data_processed/analyst_consensus.parquet` (`wrds_ingestion.py:732-747`);
    * [[Ingest.buildConsensus]] conforms to these columns in this order.
    */
  val analystConsensus: StructType = StructType(Seq(
    ts("date"), lng("asset_id"), str("ticker"), dbl("mean_rating"),
    dbl("median_rating"), dbl("stdev_rating"), lng("num_analysts"),
    dbl("buy_percent"), dbl("hold_percent"), dbl("sell_percent"),
    lng("num_up"), lng("num_down"), lng("usfirm"),
    str("ibes_official_ticker"), str("ibes_cusip"), str("company_name")))

  /** `data_processed/analyst_ratings_history.parquet` (`wrds_ingestion.py:855-891`);
    * [[Ingest.buildRatingsHistory]] selects these columns in this order.
    */
  val analystRatingsHistory: StructType = StructType(Seq(
    ts("date"), lng("asset_id"), lng("analyst_id"), str("ticker"),
    dbl("rating"), str("action_code"), str("rating_text"), ts("statistic_date")))

  /** `data_processed/dividends_monthly.parquet` (`wrds_ingestion.py:293-322`). */
  val dividendsMonthly: StructType = StructType(Seq(
    lng("asset_id"), ts("date"), dbl("divamt"), lng("distcd"), dbl("facpr"),
    dbl("facshr"), dbl("close"), dbl("dividend_yield")))

  /** Raw-source fallback schemas for the ingest degradation probes. */
  val ipoDates: StructType = StructType(Seq(lng("asset_id"), ts("ipodate")))
  val delists: StructType = StructType(Seq(
    lng("asset_id"), ts("date"), dbl("delret")))
  val recdsum: StructType = StructType(Seq(
    ts("statpers"), str("ticker"), str("oftic"), str("cusip"), str("cname"),
    dbl("buypct"), dbl("holdpct"), dbl("sellpct"), dbl("meanrec"),
    dbl("medrec"), dbl("stdev"), lng("numup"), lng("numdown"),
    lng("numrec"), lng("usfirm")))
  val recddet: StructType = StructType(Seq(
    str("ticker"), ts("anndats"), lng("analys"), dbl("ireccd"),
    str("etext"), str("itext"), ts("statpers")))
  val dividendsRaw: StructType = StructType(Seq(
    lng("asset_id"), lng("distcd"), dbl("divamt"), dbl("facpr"),
    dbl("facshr"), ts("date")))
  /** Raw `comp.funda` request shape (`wrds_ingestion.py:493-500`) — the
    * ladder's schema-stable fallback when every rung fails.
    */
  val funda: StructType = StructType(Seq(
    str("gvkey"), ts("datadate"), dbl("revt"), dbl("sale"), dbl("ni"),
    dbl("at"), dbl("ceq"), dbl("dltt"), dbl("pstk"), dbl("oancf"),
    dbl("capx"), dbl("xrd")))

  /** All named dataset schemas, keyed by dataset name. */
  val all: Map[String, StructType] = Map(
    "ipo_dates" -> ipoDates,
    "delists" -> delists,
    "recdsum" -> recdsum,
    "recddet" -> recddet,
    "funda" -> funda,
    "dividends_raw" -> dividendsRaw,
    "assets_master" -> assetsMaster,
    "trading_calendar" -> tradingCalendar,
    "universe_sp500" -> universeSp500,
    "prices_daily" -> pricesDaily,
    "returns_daily" -> returnsDaily,
    "returns_monthly" -> returnsMonthly,
    "sp500_membership" -> sp500Membership,
    "fundamentals_quarterly" -> fundamentalsQuarterly,
    "macro_timeseries" -> macroTimeseries,
    "style_factor_returns" -> styleFactorReturns,
    "benchmarks" -> benchmarks,
    "risk_free" -> riskFree,
    "analyst_consensus" -> analystConsensus,
    "analyst_ratings_history" -> analystRatingsHistory,
    "dividends_monthly" -> dividendsMonthly)

  /** Schema-stable empty frame — the degraded-plan fallback the reference
    * returns on source failure (`wrds_ingestion.py:152,227,380,637-652`).
    */
  def emptyOf(spark: SparkSession, name: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], all(name))

  /** U3: conform a frame to a canonical schema — inject missing columns as
    * typed nulls, cast present ones, restore canonical order
    * (`wrds_ingestion.py:374-377,431-434,534-538`).
    */
  def conformTo(df: DataFrame, schema: StructType): DataFrame = {
    val present = df.columns.toSet
    schema.fields.foldLeft(df) { (d, f) =>
      if (present.contains(f.name)) d
      else d.withColumn(f.name, lit(null).cast(f.dataType))
    }.select(schema.fields.toIndexedSeq.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
  }
}
