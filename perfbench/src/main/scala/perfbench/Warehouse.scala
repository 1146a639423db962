package perfbench

import java.time.{DayOfWeek, LocalDate}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import ParquetOut.{F64, I64, Str, Ts}

/** Seeded generator of a WRDS warehouse snapshot in the layout
  * `graft.sources.SnapshotEquitySource` reads (`<dir>/<table>.parquet`),
  * shaped like the paper's universe: an S&P-500-sized set of permnos over
  * a multi-year daily span, with the irregularities the ingest DAG exists
  * to handle — mid-span index joins and exits, delistings, renamed
  * tickers, duplicate consensus rows, same-day dividend rows, permnos
  * outside the requested span.
  *
  * Values come from one seeded generator in a fixed order, so the same
  * seed yields byte-identical files. The generator also
  * returns the row count each processed dataset must have after
  * `graft.Ingest.run` over [start, end], derived from its own construction
  * rather than from the ingest code.
  */
object Warehouse {

  final case class Shape(permnos: Int, start: String, end: String)

  /** 500 permnos over two calendar years (2020-2021, the years the stub
    * macro source covers).
    */
  val Default: Shape = Shape(500, "2020-01-01", "2021-12-31")

  final case class Snapshot(dir: String, shape: Shape, tickers: IndexedSeq[String],
      expected: Map[String, Long]) {
    def startDate: String = shape.start
    def endDate: String = shape.end
  }

  /** Stub macro source rules (`graft.sources.StubMacroSource`): 24 monthly
    * observations from 2020-01, every 11th one a FRED "." missing marker.
    */
  private def macroRows(start: LocalDate, end: LocalDate, series: Int): Long =
    (0 until 24).count { i =>
      val d = LocalDate.of(2020 + i / 12, i % 12 + 1, 1)
      i % 11 != 10 && !d.isBefore(start) && !d.isAfter(end)
    }.toLong * series

  private def businessDays(s: LocalDate, e: LocalDate): IndexedSeq[LocalDate] =
    Iterator.iterate(s)(_.plusDays(1)).takeWhile(!_.isAfter(e))
      .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY &&
        d.getDayOfWeek != DayOfWeek.SUNDAY).toIndexedSeq

  private def r2(x: Double): Double = math.rint(x * 100) / 100

  def generate(dir: String, seed: Long, shape: Shape = Default): Snapshot = {
    val rnd = new scala.util.Random(seed)
    val start = LocalDate.parse(shape.start)
    val end = LocalDate.parse(shape.end)
    val days = businessDays(start, end)
    val monthEnds = days.groupBy(d => (d.getYear, d.getMonthValue))
      .values.map(_.max).toIndexedSeq.sortBy(_.toEpochDay)
    val quarterEnds = monthEnds.filter(_.getMonthValue % 3 == 0)
    val n = shape.permnos
    val outside = n / 50 // permnos whose index interval ends before the span
    val all = n + outside
    def table(name: String, cols: (String, ParquetOut.Kind)*)(rows: Iterable[Seq[Any]]): Unit =
      ParquetOut.write(dir, name, cols, rows)

    // unique 4-letter codes, seeded order: CRSP tickers, old tickers, IBES tickers
    val codes = rnd.shuffle((0 until 26 * 26 * 26 * 26).toIndexedSeq).iterator
      .map(i => Seq(i / 17576, i / 676 % 26, i / 26 % 26, i % 26)
        .map(c => ('A' + c).toChar).mkString)
    val tickers = IndexedSeq.fill(all)(codes.next())
    val oldTickers = IndexedSeq.fill(all)(codes.next())
    val ibesTickers = IndexedSeq.fill(all)(codes.next())
    val permno = IndexedSeq.tabulate(all)(i => 10000L + i * 7 + rnd.nextInt(7))

    // index membership: most permnos span the whole window, some join or
    // leave inside it; the last `outside` left before it started
    val early = LocalDate.of(2005, 1, 1)
    val far = LocalDate.of(2030, 12, 31)
    val intervals = IndexedSeq.tabulate(all) { i =>
      if (i >= n) (LocalDate.of(2008, 1, 1), start.minusDays(30L + rnd.nextInt(300)))
      else rnd.nextInt(10) match {
        case 0 => (days(rnd.nextInt(days.size)), far)
        case 1 => (early, days(rnd.nextInt(days.size)))
        case _ => (early, far)
      }
    }
    table("universe", "permno" -> I64, "start_date" -> Ts, "end_date" -> Ts)(
      (0 until all).map(i => Seq(permno(i), intervals(i)._1, intervals(i)._2)))
    val membership = (0 until n).map { i =>
      val (s, e) = intervals(i)
      days.count(d => !d.isBefore(s) && !d.isAfter(e)).toLong
    }.sum

    // names: a tenth of the permnos were renamed; the latest record wins
    table("name_records", "asset_id" -> I64, "ticker" -> Str, "first_date" -> Ts,
      "last_date" -> Ts)((0 until all).flatMap { i =>
      val current = Seq(permno(i), tickers(i), LocalDate.of(2016, 1, 1), far)
      if (i % 10 == 3) Seq(Seq(permno(i), oldTickers(i), LocalDate.of(2004, 1, 1),
        LocalDate.of(2015, 12, 31)), current)
      else Seq(current)
    })
    table("ipo_dates", "asset_id" -> I64, "ipodate" -> Ts)(
      (0 until all by 2).map(i =>
        Seq(permno(i), LocalDate.of(1980 + rnd.nextInt(35), 1 + rnd.nextInt(12), 1))))

    // delisting returns on the exit day of permnos that leave the index
    table("delists", "asset_id" -> I64, "date" -> Ts, "delret" -> F64)(
      (0 until n).filter(i => intervals(i)._2.isBefore(end))
        .map(i => Seq(permno(i), intervals(i)._2, -r2(30 * rnd.nextDouble()) / 100)))

    // CRSP daily prices: every permno, every business day of the span
    table("prices_daily_raw", "date" -> Ts, "permno" -> I64, "open" -> F64,
      "high" -> F64, "low" -> F64, "close" -> F64, "cfacpr" -> F64, "ret" -> F64,
      "shrout" -> I64, "volume" -> I64)((0 until all).flatMap { i =>
      val base = 10 + rnd.nextDouble() * 190
      val cfacpr = if (rnd.nextInt(10) == 0) 2.0 else 1.0
      val shrout = 1000L + rnd.nextInt(900000)
      days.map { d =>
        val close = r2(base * (0.75 + rnd.nextDouble() * 0.5))
        Seq(d, permno(i), r2(close * (0.98 + rnd.nextDouble() * 0.04)),
          r2(close * (1.0 + rnd.nextDouble() * 0.03)), r2(close * (0.97 + rnd.nextDouble() * 0.03)),
          close, cfacpr, math.rint((rnd.nextDouble() - 0.5) * 80000) / 1e6, shrout,
          rnd.nextInt(5000000).toLong)
      }
    })

    // Compustat: one gvkey per permno, quarterly statements
    val gvkey = IndexedSeq.tabulate(all)(i => f"${100000 + i * 3}%06d")
    table("ccm_links", "gvkey" -> Str, "permno" -> I64, "linkdt" -> Ts, "linkenddt" -> Ts)(
      (0 until all).map(i => Seq(gvkey(i), permno(i), LocalDate.of(2000, 1, 1), null)))
    val fundaCols = Seq("revt", "sale", "ni", "at", "ceq", "dltt", "pstk", "oancf", "capx", "xrd")
    table("funda", (Seq("gvkey" -> Str, "datadate" -> Ts) ++ fundaCols.map(_ -> F64)): _*)(
      for (i <- 0 until all; q <- quarterEnds)
        yield Seq(gvkey(i), q) ++ fundaCols.map(_ => r2(rnd.nextDouble() * 10000)))

    // I/B/E/S identities and CUSIP histories, one cusip per firm; the
    // multiplier 7919 is coprime to 9e6, so no two firms share a cusip
    val cusipBase = rnd.nextInt(9000000)
    val cusip = IndexedSeq.tabulate(all)(i =>
      f"${1000000 + (i.toLong * 7919 + cusipBase) % 9000000}%07d${i % 10}")
    table("ibes_ids", "ticker" -> Str, "cusip" -> Str, "cname" -> Str,
      "start_date" -> Ts, "end_date" -> Ts)((0 until all).map(i =>
      Seq(ibesTickers(i), cusip(i), s"FIRM ${tickers(i)} INC", LocalDate.of(2003, 1, 1), null)))
    table("crsp_cusip_names", "asset_id" -> I64, "ncusip" -> Str, "start_date" -> Ts,
      "end_date" -> Ts)((0 until all).map(i =>
      Seq(permno(i), cusip(i), LocalDate.of(2002, 6, 1), null)))

    // monthly consensus per firm; one row in twenty is duplicated with
    // nulls, which the first-non-null dedup must fold back
    val statDays = monthEnds.map(_.withDayOfMonth(15))
    val consensus = for (i <- 0 until all; d <- statDays) yield {
      val buy = math.rint(rnd.nextDouble() * 1000) / 10
      Seq(d, ibesTickers(i), tickers(i), cusip(i), s"FIRM ${tickers(i)} INC",
        buy, math.rint((100 - buy) * 6) / 10, math.rint((100 - buy) * 4) / 10,
        1 + r2(rnd.nextDouble() * 4), (1 + rnd.nextInt(5)).toDouble,
        r2(rnd.nextDouble() * 1.5), rnd.nextInt(5).toLong, rnd.nextInt(5).toLong,
        1L + rnd.nextInt(30), 1L)
    }
    val consensusDups = consensus.zipWithIndex.collect {
      case (r, k) if k % 20 == 7 => r.take(5) ++ Seq.fill(5)(null) ++ r.drop(10)
    }
    table("recdsum", "statpers" -> Ts, "ticker" -> Str, "oftic" -> Str, "cusip" -> Str,
      "cname" -> Str, "buypct" -> F64, "holdpct" -> F64, "sellpct" -> F64,
      "meanrec" -> F64, "medrec" -> F64, "stdev" -> F64, "numup" -> I64,
      "numdown" -> I64, "numrec" -> I64, "usfirm" -> I64)(consensus ++ consensusDups)

    // analyst-level recommendations, some analysts revising twice a day
    val texts = IndexedSeq("STRONG BUY", "BUY", "HOLD", "UNDERPERFORM", "SELL")
    val detail = for (i <- 0 until all; _ <- 0 until 24)
      yield (i, days(rnd.nextInt(days.size)), 1000L + rnd.nextInt(40), 1 + rnd.nextInt(5))
    table("recddet", "ticker" -> Str, "anndats" -> Ts, "analys" -> I64, "ireccd" -> F64,
      "etext" -> Str, "itext" -> Str, "statpers" -> Ts)(detail.map { case (i, d, a, rec) =>
      Seq(ibesTickers(i), d, a, rec.toDouble, if (rec <= 2) "up" else "down", texts(rec - 1), d)
    })
    val ratings = detail.filter(_._1 < n).map(d => (d._1, d._2, d._3)).distinct.size.toLong

    // Fama-French daily factors (percent) and the benchmark index returns
    val ffCols = Seq("mktrf", "smb", "hml", "rmw", "cma", "rf", "umd")
    table("ff_factors", (("date" -> Ts) +: ffCols.map(_ -> F64)): _*)(
      days.map(d => d +: ffCols.map(_ => r2((rnd.nextDouble() - 0.45) * 4))))
    table("benchmark_raw", "date" -> Ts, "ret" -> F64)(
      days.map(d => Seq(d, math.rint((rnd.nextDouble() - 0.48) * 4000) / 1e5)))

    // CRSP monthly file on month-end business days; dividends land there too
    table("prices_monthly_raw", "date" -> Ts, "permno" -> I64, "close" -> F64,
      "ret" -> F64, "volume" -> I64, "shrout" -> I64)(
      for (i <- 0 until all; d <- monthEnds) yield Seq(d, permno(i),
        r2(10 + rnd.nextDouble() * 190), math.rint((rnd.nextDouble() - 0.5) * 20000) / 1e5,
        rnd.nextInt(90000000).toLong, 1000L + rnd.nextInt(900000)))
    val divs = for (i <- 0 until all if i % 5 < 3; q <- quarterEnds;
        k <- 0 until (if (rnd.nextInt(8) == 0) 2 else 1)) yield (i, q, k)
    table("dividends_raw", "asset_id" -> I64, "distcd" -> I64, "divamt" -> F64,
      "facpr" -> F64, "facshr" -> F64, "date" -> Ts)(divs.map { case (i, q, k) =>
      Seq(permno(i), 1232L + k, r2(rnd.nextDouble() * 2), null, null, q)
    })
    val dividendRows = divs.filter(_._1 < n).map(d => (d._1, d._2)).distinct.size.toLong

    val d = days.size.toLong
    Snapshot(dir, shape, tickers.take(n), Map(
      "prices_daily" -> n * d,
      "returns_daily" -> n * d,
      "sp500_membership" -> membership,
      "fundamentals_quarterly" -> n.toLong * quarterEnds.size,
      "analyst_consensus" -> n.toLong * statDays.size,
      "analyst_ratings_history" -> ratings,
      "macro_timeseries" -> macroRows(start, end, 3),
      "risk_free" -> d,
      "style_factor_returns" -> 6 * d,
      "benchmarks" -> d,
      "returns_monthly" -> n.toLong * monthEnds.size,
      "dividends_monthly" -> dividendRows,
      "assets_master" -> n.toLong,
      "universe_sp500" -> membership,
      "trading_calendar" -> d))
  }

  /** Bytes of the parquet data files under `dir` (part files only, so
    * logs and manifests with wall-clock stamps do not enter the figure).
    */
  def parquetBytes(dir: String): Long = Files.walk(dir)
    .filter(p => p.getFileName.toString.startsWith("part-"))
    .map(p => java.nio.file.Files.size(p)).sum

  /** Order-independent content digest of every table of a snapshot. */
  def digest(spark: SparkSession, dir: String): String = {
    val tables = new java.io.File(dir).list().filter(_.endsWith(".parquet")).sorted
    val parts = tables.map { t =>
      val df = spark.read.parquet(s"$dir/$t")
      val r = df.select(count(lit(1)),
        coalesce(sum(xxhash64(df.columns.toIndexedSeq.map(col): _*).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)"))).head()
      s"$t:${r.getLong(0)}:${r.get(1)}"
    }
    Files.sha256(parts.mkString("\n"))
  }
}
