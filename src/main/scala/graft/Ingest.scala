package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{EquitySource, MacroSource}

/** The 17-step ingestion DAG (`wrds_ingestion.py:1022-1249`, SURVEY.md
  * §3.1), rebuilt as lazy Spark plans materialized only at their parquet
  * writes. Each step is pure composition of [[sources.EquitySource]] reads
  * and [[Transforms]]; the per-step timing log mirrors the reference's
  * `[N/17] step ... ✔ (x.xs)` progress format (`wrds_ingestion.py:1026-1034`).
  */
object Ingest {

  case class Result(root: String, steps: Seq[(String, Double)])

  private val defaultStart = "2000-01-01" // wrds_ingestion.py:19-20
  private val defaultEnd = "2025-01-01"

  /** @param partitionPanels write the big panel datasets (prices_daily,
    *   returns_daily, sp500_membership) date-partitioned via
    *   [[Layout.writeDatePartitioned]] instead of flat — the layout a
    *   100 TB deployment needs for partition pruning. Dimension-sized and
    *   per-quarter datasets stay flat (partitioning them would just make
    *   small files).
    */
  def run(spark: SparkSession, equity: EquitySource, macroSrc: MacroSource,
      root: String, start: String = defaultStart, end: String = defaultEnd,
      saveRaw: Boolean = false,
      macroSeries: Seq[String] = Seq("CPIAUCSL", "UNRATE", "INDPRO"),
      partitionPanels: Boolean = false): Result = {

    val processed = s"$root/data_processed"
    val meta = s"$root/data_meta"
    val raw = s"$root/data_raw"
    Seq(processed, meta, raw).foreach(p => new java.io.File(p).mkdirs())

    // K4: per-run log file with step timings under <root>/logs, mirroring
    // the reference's console+file logging (`wrds_ingestion.py:36-54`,
    // `<root>/logs/wrds_ingestion_<UTC>.log`, "%(asctime)s %(levelname)s
    // %(message)s" lines).
    val runLog = RunLog.open(root)
    try {
    runLog.info(s"Ingest run starting: root=$root start=$start end=$end saveRaw=$saveRaw")

    val steps = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def step[T](name: String)(body: => T): T = {
      val n = steps.size + 1
      runLog.info(f"[$n/17] $name ...")
      val t0 = System.nanoTime()
      val out = body
      val secs = (System.nanoTime() - t0) / 1e9
      steps += name -> secs
      runLog.info(f"  + $name ($secs%.1fs)")
      out
    }
    def write(df: DataFrame, path: String): Unit =
      df.write.mode("overwrite").parquet(path)
    // Ladder rung: force execution so remote/scan failures surface inside
    // Transforms.firstAvailable's Try instead of at first materialization.
    def forced(body: => DataFrame): DataFrame = {
      val df = body; df.limit(1).collect(); df
    }
    // §2.12 degraded plans at the EXECUTION boundary: Spark frames are
    // lazy, so a missing warehouse table only surfaces when the plan
    // runs. Probe with limit(1) (the analog of the reference's
    // list_tables/try-except availability checks) and degrade optional
    // sources to schema-stable empties instead of aborting the run.
    def probeOrEmpty(body: => DataFrame, schemaName: String): DataFrame =
      scala.util.Try(forced(body)).getOrElse {
        runLog.warn(s"optional source unavailable; continuing with empty $schemaName")
        Schemas.emptyOf(spark, schemaName)
      }

    step("Connect to source") { () } // boundary held by the EquitySource impl

    val universe = step("Build SP500 universe") {
      equity.universe(start, end).cache()
    }
    // Entity IN-lists are small (S&P 500 ≈ 1.2k permnos over 25y); the
    // collect mirrors the reference's `_sql_list` (`wrds_ingestion.py:24-28`)
    // and feeds the source-side pushdown.
    val permnos = universe.select(col("permno").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq

    val assetsMaster = step("Build assets master") {
      val names = equity.nameRecords(permnos)
      // optional table (wrds_ingestion.py:148-152 catches and skips)
      val ipo = probeOrEmpty(equity.ipoDates(permnos), "ipo_dates")
      val enriched =
        if (ipo.isEmpty) names
        else names.join(ipo, Seq("asset_id"), "left")
      Transforms.dedupeAssetsMaster(enriched).cache()
    }

    val (calendar, membership) = step("Build trading calendar and membership") {
      val cal = Transforms.tradingCalendar(spark, start, end)
      (cal, Transforms.universeDaily(universe, cal))
    }

    val idxref = step("Build IBES-CRSP mapping (CUSIP)") {
      Transforms.ibesCrspMapping(
        equity.ibesIds(end), equity.crspCusipNames(permnos, start, end),
        start, end).cache()
    }
    val ibesTickers = idxref.select("ticker").distinct()
      .collect().map(_.getString(0)).toSeq

    val (prices, returns, delists) = step("Download daily prices/returns") {
      val p = equity.pricesDaily(permnos, start, end)
        .withColumnRenamed("permno", "asset_id")
        .withColumn("adj_close", col("close") * col("cfacpr")) // F1
      // cached: the frame feeds returns, the dividends close-attach, the
      // raw snapshot and the processed write — uncached, each write
      // would re-run the full warehouse download (and could observe
      // different warehouse state mid-run)
      val withTickers = Transforms.attachTickers(p, assetsMaster).cache()
      // probed once here; the monthly step reuses the frame
      val dl = probeOrEmpty(equity.delistEvents(permnos, start, end), "delists")
      (withTickers,
        Transforms.applyDelistReturns(Transforms.buildReturns(withTickers), dl),
        dl)
    }

    val fundamentals = step("Download fundamentals") {
      val links = equity.ccmLinks(permnos, end).cache()
      val gvkeys = links.select("gvkey").distinct()
        .collect().map(_.getString(0)).toSeq
      // §2.12 ladder (`wrds_ingestion.py:501-513`): the full column set,
      // then the reference's reduced core set, then whatever columns the
      // source does expose (downstream conformance null-fills the rest),
      // then a schema-stable empty. A column-poor warehouse degrades
      // instead of yielding an empty frame.
      val funda = Transforms.firstAvailable(spark, Schemas.all("funda"), Seq(
        () => forced(equity.fundamentals(gvkeys, start, end)
          .select(fundaFullCols.map(col): _*)),
        () => forced(equity.fundamentalsCore(gvkeys, start, end)
          .select(fundaCoreCols.map(col): _*)),
        () => forced(equity.fundamentals(gvkeys, start, end))))
      if (!funda.columns.contains("sale")) {
        runLog.warn("fundamentals degraded to a reduced column set: " +
          funda.columns.mkString(", "))
      }
      // S4: friendly names come from config/wrds_field_map.yml when
      // present (`wrds_ingestion.py:73-81`), else the built-in constant.
      Transforms.linkFundamentals(funda, links, Config.fundamentalsFieldMap())
    }

    val consensus = step("Download analyst consensus") {
      buildConsensus(
        probeOrEmpty(equity.consensusSummary(ibesTickers, start, end), "recdsum"),
        idxref)
    }

    val ratings = step("Download analyst rating history") {
      // §2.12 ladder (`wrds_ingestion.py:810-840`): probe each candidate
      // detail table in order (recddet, then the det_rec variants); the
      // first that READS wins — an empty-but-present table is a valid
      // result, matching the reference's break-on-success. All absent →
      // schema-stable empty.
      val detail = Transforms.firstAvailable(spark, Schemas.all("recddet"),
        equity.ratingsDetailLadder(ibesTickers, start, end)
          .map(c => () => forced(c())))
      buildRatingsHistory(detail, idxref)
    }

    val (factors, riskFree, ffRaw) = step("Download style factors and risk-free") {
      val ff = equity.ffFactors(start, end)
      (Transforms.factorsWideToLong(ff),
        ff.select(col("date"), (col("rf") / 100.0).as("rf")), ff)
    }

    val macroTs = step("Download macro series") {
      macroSrc.series(macroSeries, start, end)
    }

    val benchmark = step("Download benchmark") {
      Transforms.benchmarkLevel(
        equity.benchmark(start, end).withColumn("benchmark_name", lit("^GSPC")))
        .select("date", "benchmark_name", "level", "ret")
    }

    val (pricesMonthly, returnsMonthly) = step("Download monthly prices/returns") {
      val pm = equity.pricesMonthly(permnos, start, end)
        .withColumnRenamed("permno", "asset_id")
        .cache() // reused by returns_monthly, dividends and the raw write
      // keep the raw ret alongside the delist-adjusted ret_1m, matching
      // the reference's output schema (wrds_ingestion.py:466-478)
      val rm = Transforms.applyDelistReturns(
        pm.select(col("date"), col("asset_id"), col("ret"),
          col("ret").as("ret_1m"), col("close").as("price"), col("volume"),
          col("shrout")),
        delists, retCol = "ret_1m")
      (pm, rm)
    }

    val dividends = step("Download dividends") {
      val raw = probeOrEmpty(equity.dividends(permnos, start, end), "dividends_raw")
      if (raw.isEmpty) raw
      else {
        val withClose = raw.join(pricesMonthly.select("asset_id", "date", "close"),
          Seq("asset_id", "date"), "left")
        // hash EVERY column for the dedup ordering: two same-day rows with
        // equal divamt but different distcd must not tie
        Transforms.cleanDividends(
          withClose.withColumn("ord",
            xxhash64(struct(withClose.columns.toIndexedSeq.map(col): _*))),
          prices, "ord")
      }
    }

    step(if (saveRaw) "Write raw snapshots" else "Skip raw snapshots") {
      if (saveRaw) {
        // full raw-snapshot set of wrds_ingestion.py:1117-1133
        write(prices, s"$raw/prices_raw.parquet")
        write(universe, s"$raw/sp500_membership_raw.parquet")
        write(assetsMaster, s"$raw/assets_master_raw.parquet")
        write(fundamentals, s"$raw/fundamentals_raw.parquet")
        write(idxref, s"$raw/ibes_idxref_raw.parquet")
        write(consensus, s"$raw/analyst_consensus_raw.parquet")
        write(ratings, s"$raw/analyst_ratings_history_raw.parquet")
        write(ffRaw, s"$raw/style_factors_raw.parquet")
        write(macroTs, s"$raw/macro_raw.parquet")
        write(benchmark, s"$raw/benchmark_raw.parquet")
        write(pricesMonthly, s"$raw/prices_monthly_raw.parquet")
        write(dividends, s"$raw/dividends_monthly_raw.parquet")
      }
    }

    step("Write processed datasets") {
      def writePanel(df: DataFrame, path: String): Unit =
        if (partitionPanels) Layout.writeDatePartitioned(df, path)
        else write(df, path)
      writePanel(prices, s"$processed/prices_daily.parquet")
      writePanel(returns, s"$processed/returns_daily.parquet")
      writePanel(membership, s"$processed/sp500_membership.parquet")
      write(fundamentals, s"$processed/fundamentals_quarterly.parquet")
      write(consensus, s"$processed/analyst_consensus.parquet")
      write(ratings, s"$processed/analyst_ratings_history.parquet")
      write(macroTs, s"$processed/macro_timeseries.parquet")
      write(riskFree, s"$processed/risk_free.parquet")
      write(factors, s"$processed/style_factor_returns.parquet")
      write(benchmark, s"$processed/benchmarks.parquet")
      write(returnsMonthly, s"$processed/returns_monthly.parquet")
      write(dividends, s"$processed/dividends_monthly.parquet")
    }

    step("Write metadata and manifests") {
      write(assetsMaster, s"$meta/assets_master.parquet")
      write(membership.withColumnRenamed("in_sp500", "in_universe"),
        s"$meta/universe_sp500.parquet")
      write(calendar, s"$meta/trading_calendar.parquet")
      writeManifests(spark, root, processed, meta, start, end, saveRaw)
    }

    val total = steps.map(_._2).sum
    runLog.info(f"Ingest finished: ${steps.size} steps, $total%.1fs total")
    steps.zipWithIndex.foreach { case ((name, secs), i) =>
      runLog.fileOnly(f"step ${i + 1}%2d/${steps.size} $secs%8.1fs  $name")
    }
    Result(root, steps.toSeq)
    // the log file closes even when a step throws mid-run
    } finally runLog.close()
  }

  /** Fundamentals column ladder (`wrds_ingestion.py:495-513`): the full
    * request set and the reduced core set the reference retries with.
    */
  private[graft] val fundaFullCols = Seq("gvkey", "datadate", "revt", "sale",
    "ni", "at", "ceq", "dltt", "pstk", "oancf", "capx", "xrd")
  private[graft] val fundaCoreCols =
    Seq("gvkey", "datadate", "revt", "ni", "at", "dltt", "oancf")

  /** K4: per-run console+file logger (`wrds_ingestion.py:36-54`): every
    * line goes to stdout and to `<root>/logs/ingestion_<UTC>.log` as
    * `<ISO-instant> LEVEL message`.
    */
  private[graft] final class RunLog(val path: java.nio.file.Path,
      writer: java.io.PrintWriter) {
    private def stamp(level: String, msg: String): String =
      s"${java.time.Instant.now()} $level $msg"
    def info(msg: String): Unit = { val l = stamp("INFO", msg)
      println(l); writer.println(l); writer.flush() }
    def warn(msg: String): Unit = { val l = stamp("WARNING", msg)
      println(l); writer.println(l); writer.flush() }
    def fileOnly(msg: String): Unit = {
      writer.println(stamp("INFO", msg)); writer.flush() }
    def close(): Unit = writer.close()
  }

  private[graft] object RunLog {
    def open(root: String): RunLog = {
      val dir = java.nio.file.Paths.get(root, "logs")
      java.nio.file.Files.createDirectories(dir)
      val ts = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss'Z'")
        .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now())
      val path = dir.resolve(s"ingestion_$ts.log")
      new RunLog(path, new java.io.PrintWriter(
        java.nio.file.Files.newBufferedWriter(path,
          java.nio.charset.StandardCharsets.UTF_8)))
    }
  }

  /** J6 + F11: consensus summary → permno-mapped canonical frame
    * (`wrds_ingestion.py:728-790`): left join on IBES ticker, keep rows
    * whose statpers falls inside the mapping validity window, rename to
    * friendly names, conform, drop rows without (date, asset_id), dedup
    * first-non-null per (date, asset_id).
    *
    * `orderCol`: optional name of a column already on `recdsum` giving the
    * deterministic dedup order. Production ingestion omits it (the
    * reference's frame order is meaningless after a shuffle, so the
    * default derives a content hash); the DuckDB-oracle'd
    * `j6_mapping_validity` query passes an explicit unique sequence the
    * oracle can mirror (xxhash64 has no DuckDB analog).
    */
  def buildConsensus(recdsum: DataFrame, idxref: DataFrame,
      orderCol: Option[String] = None): DataFrame = {
    val renames = Seq("statpers" -> "date", "meanrec" -> "mean_rating",
      "medrec" -> "median_rating", "stdev" -> "stdev_rating",
      "numrec" -> "num_analysts", "buypct" -> "buy_percent",
      "holdpct" -> "hold_percent", "sellpct" -> "sell_percent",
      "numup" -> "num_up", "numdown" -> "num_down",
      "oftic" -> "ibes_official_ticker", "cusip" -> "ibes_cusip",
      "cname" -> "company_name")
    val expected = Schemas.analystConsensus.fieldNames.toSeq
    val mapped = recdsum
      .join(idxref.select("ticker", "asset_id", "start_date", "end_date"),
        Seq("ticker"), "left")
      .where(col("statpers") >= col("start_date") &&
        col("statpers") <= col("end_date"))
    val renamed = renames.foldLeft(mapped) { case (d, (from, to)) =>
      if (d.columns.contains(from)) d.withColumnRenamed(from, to) else d
    }
    val present = renamed.columns.toSet
    val keep = expected ++ orderCol.filter(present.contains)
    val conformed = expected.foldLeft(renamed)((d, c) =>
      if (present.contains(c)) d else d.withColumn(c, lit(null)))
      .select(keep.map(col): _*)
      .na.drop(Seq("date", "asset_id"))
    val (ordName, withOrd) = orderCol.filter(present.contains) match {
      case Some(c) => (c, conformed)
      case None => ("ord", conformed.withColumn("ord",
        xxhash64(struct(expected.toIndexedSeq.map(col): _*))))
    }
    Transforms.dedupeConsensus(withOrd, ordName)
      .select(expected.map(col): _*)
  }

  /** J7 + F7: detail recommendation history → canonical point-in-time
    * frame (`wrds_ingestion.py:845-891`): map via idxref validity, pick
    * the first present column for each canonical field (analys/amaskcd,
    * ireccd/rec, ereccd/actioncode, itext/recdef, statpers/anndats),
    * drop unmapped rows, dedup per (date, asset_id, analyst_id).
    *
    * `orderCol`: optional pre-existing deterministic dedup-order column on
    * `detail` (see [[buildConsensus]] — same contract, same reason).
    */
  def buildRatingsHistory(detail: DataFrame, idxref: DataFrame,
      orderCol: Option[String] = None): DataFrame = {
    val cols = detail.columns.toSet
    val mapped = detail
      .join(idxref.select("ticker", "asset_id", "start_date", "end_date"),
        Seq("ticker"), "left")
      .where({
        val dateField =
          if (cols.contains("statpers")) "statpers"
          else if (cols.contains("anndats")) "anndats" else null
        if (dateField == null) lit(true)
        else col(dateField) >= col("start_date") && col(dateField) <= col("end_date")
      })
    def firstPresent(cands: Seq[String]): Column =
      cands.find(cols.contains).map(col).getOrElse(lit(null))
    val dateCol = Seq("anndats_act", "anndats", "statpers", "actdats", "revdats")
      .find(cols.contains).map(col).getOrElse(lit(null))
    val canonicalCols = Seq(
      dateCol.as("date"),
      col("asset_id"),
      col("ticker"),
      firstPresent(Seq("analys", "amaskcd")).cast("long").as("analyst_id"),
      firstPresent(Seq("ireccd", "rec")).cast("double").as("rating"),
      firstPresent(Seq("ereccd", "actioncode")).cast("string").as("action_code"),
      firstPresent(Seq("itext", "recdef")).cast("string").as("rating_text"),
      firstPresent(Seq("statpers", "anndats")).cast("timestamp").as("statistic_date"))
    val ordOpt = orderCol.filter(cols.contains)
    val canonical = mapped
      .select(canonicalCols ++ ordOpt.map(col): _*)
      .na.drop(Seq("date", "asset_id"))
    val (ordName, withOrd) = ordOpt match {
      case Some(c) => (c, canonical)
      case None => ("ord", canonical.withColumn("ord",
        xxhash64(struct(canonical.columns.toIndexedSeq.map(col): _*))))
    }
    Transforms.dedupeRatingsHistory(withOrd, ordName)
      .select(Schemas.analystRatingsHistory.fieldNames.toSeq.map(col): _*)
  }

  /** K2/K3: provenance + field manifests (`wrds_ingestion.py:1155-1245`). */
  private def writeManifests(spark: SparkSession, root: String,
      processed: String, meta: String, start: String, end: String,
      saveRaw: Boolean): Unit = {
    val datasets = Seq(
      "prices_daily" -> "wrds_crsp_dsf", "returns_daily" -> "wrds_crsp_dsf",
      "sp500_membership" -> "wrds_crsp_dsp500list",
      "fundamentals_quarterly" -> "wrds_comp_funda",
      "analyst_consensus" -> "wrds_tr_ibes_recdsum",
      "analyst_ratings_history" -> "wrds_tr_ibes_recddet",
      "macro_timeseries" -> "fred_api", "risk_free" -> "ff_all",
      "style_factor_returns" -> "ff_all", "benchmarks" -> "wrds_crsp_dsp500",
      "returns_monthly" -> "wrds_crsp_msf",
      "dividends_monthly" -> "wrds_crsp_msedist")
    val yml = new StringBuilder
    yml ++= s"ingested_at_utc: '${java.time.Instant.now()}'\n"
    yml ++= s"params:\n  start: '$start'\n  end: '$end'\n  source: wrds\n  save_raw: $saveRaw\n"
    yml ++= "datasets:\n"
    datasets.foreach { case (name, src) =>
      yml ++= s"  $name:\n    source: $src\n    path: $processed/$name.parquet\n"
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$meta/data_sources.yml"), yml.toString)

    // Column-level field manifest across all written datasets (K2,
    // `wrds_ingestion.py:1200-1244`); internal partition columns are not
    // part of any dataset's schema.
    val metaDatasets = Seq("assets_master", "universe_sp500", "trading_calendar")
    val rows =
      datasets.map(n => (n._1, s"$processed/${n._1}.parquet")) ++
        metaDatasets.map(n => (n, s"$meta/$n.parquet"))
    val lines = rows.flatMap { case (name, path) =>
      scala.util.Try(spark.read.parquet(path).schema).toOption.toSeq
        .flatMap(_.fields
          .filterNot(f => f.name == "_p_year" || f.name == "_p_month")
          .map(f => s"$name,${f.name},${f.dataType.simpleString}"))
    }
    val csv = ("dataset,field,dtype" +: lines).mkString("\n")
    new java.io.File(s"$root/reference").mkdirs()
    // written to both locations, like the reference (`wrds_ingestion.py:1241-1243`)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/reference/field_manifest.csv"), csv)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$meta/field_manifest.csv"), csv)
  }
}
