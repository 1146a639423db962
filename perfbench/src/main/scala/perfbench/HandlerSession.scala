package perfbench

import java.time.LocalDate

import graft.{DataHandler, LocalParquetDataHandler}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One `DataHandler` request of the session script; `invalid` names what
  * makes a request invalid ("ticker", "field"), empty for a valid one.
  */
final case class Request(method: String, tickers: Option[Seq[String]],
    start: Option[String], end: Option[String], fields: Option[Seq[String]],
    date: Option[String] = None, invalid: String = "") {
  /** Op type: the method, or the kind of invalid request. */
  def kind: String = if (invalid.nonEmpty) s"handler.invalid_$invalid" else s"handler.$method"
  def describe: String = s"$method(${tickers.map(_.size.toString).getOrElse("all")} " +
    s"tickers, ${start.orElse(date).getOrElse("-")}..${end.getOrElse("-")}, " +
    s"fields=${fields.map(_.mkString("+")).getOrElse("-")})"
}

/** The seeded request script of a researcher's backtest session: the nine
  * `DataHandler` methods once each, whose axes rotate over the script —
  * ticker count (1, 10, 100, all, 1 over the five methods that take
  * tickers), window (1 month, 1 year, full span), fields projection on,
  * off, on over the three methods that take one — plus one exact repeat of
  * an earlier request and two invalid requests (an unknown ticker, an
  * unknown field) that must raise. Every request of a method is the same
  * request, so each op type's samples come from one request shape.
  */
object Script {
  val methods: Seq[String] = Seq("getPrices", "getReturns", "getUniverse",
    "getFundamentals", "getAnalystConsensus", "getAnalystRatingsHistory",
    "getMacro", "getStyleFactorReturns", "getBenchmarkReturns")
  private val tickerMethods = Set("getPrices", "getReturns", "getFundamentals",
    "getAnalystConsensus", "getAnalystRatingsHistory")
  private val fieldSets: Map[String, Seq[String]] = Map(
    "getPrices" -> Seq("adj_close", "volume"),
    "getAnalystConsensus" -> Seq("mean_rating"),
    "getAnalystRatingsHistory" -> Seq("analyst_id", "rating_text"))
  val repeats = 1
  private val tickerCounts = Seq(1, 10, 100, 0) // 0: no ticker filter (all)

  def build(seed: Long, snap: Warehouse.Snapshot): Seq[Request] = {
    val rnd = new scala.util.Random(seed * 31 + 7)
    val s0 = LocalDate.parse(snap.startDate)
    val spanDays = (LocalDate.parse(snap.endDate).toEpochDay - s0.toEpochDay).toInt
    def window(kind: Int): (Option[String], Option[String]) = kind match {
      case 0 => val s = s0.plusDays(rnd.nextInt(spanDays - 31).toLong)
        (Some(s.toString), Some(s.plusDays(30).toString))
      case 1 => val s = s0.plusDays(rnd.nextInt(spanDays - 365).toLong)
        (Some(s.toString), Some(s.plusDays(364).toString))
      case _ => (Some(snap.startDate), Some(snap.endDate))
    }
    // rotation counters: all requests, ticker-taking and field-taking ones
    var (k, t, f) = (0, 0, 0)
    val fresh = methods.map { m =>
      val (s, e) = window(k % 3)
      k += 1
      val fields = fieldSets.get(m).filter(_ => { f += 1; f % 2 == 1 })
      if (m == "getUniverse") {
        val d = s0.plusDays(rnd.nextInt(spanDays).toLong)
        Request(m, None, None, None, None,
          Some(d.minusDays(math.max(0, d.getDayOfWeek.getValue - 5).toLong).toString))
      } else if (tickerMethods(m)) {
        val c = tickerCounts(t % 4)
        t += 1
        Request(m, if (c == 0) None else Some(rnd.shuffle(snap.tickers).take(c)), s, e, fields)
      } else Request(m, None, s, e, fields)
    }
    val repeated = Seq.fill(repeats)(fresh(rnd.nextInt(fresh.size)))
    val unknownTicker = Request("getPrices", Some(Seq(snap.tickers.head, "ZZZZ9")),
      Some(snap.startDate), Some(snap.endDate), None, invalid = "ticker")
    val unknownField = Request("getAnalystConsensus", Some(Seq(snap.tickers.last)),
      Some(snap.startDate), Some(snap.endDate), Some(Seq("no_such_field")), invalid = "field")
    val (a, b) = fresh.splitAt(fresh.size / 2)
    (a :+ unknownTicker) ++ repeated ++ (b :+ unknownField)
  }

  def call(h: DataHandler, r: Request): DataFrame = r.method match {
    case "getPrices" => h.getPrices(r.tickers, r.start, r.end, r.fields)
    case "getReturns" => h.getReturns(r.tickers, r.start, r.end)
    case "getUniverse" => h.getUniverse(r.date)
    case "getFundamentals" => h.getFundamentals(r.tickers, r.start, r.end)
    case "getAnalystConsensus" => h.getAnalystConsensus(r.tickers, r.start, r.end, r.fields)
    case "getAnalystRatingsHistory" =>
      h.getAnalystRatingsHistory(r.tickers, r.start, r.end, r.fields)
    case "getMacro" => h.getMacro(r.start, r.end)
    case "getStyleFactorReturns" => h.getStyleFactorReturns(r.start, r.end)
    case "getBenchmarkReturns" => h.getBenchmarkReturns("^GSPC", r.start, r.end)
  }
}

/** Independent reference for handler results, computed in the harness from
  * plain reads of the store: inclusive date filter, asset filter (tickers
  * resolved through assets_master, unknown ones raising), mandatory-column
  * projection, documented sort. The API orders rows only by the documented
  * key, so results are compared as a multiset digest after checking that
  * they are sorted by that key.
  */
final class Reference(spark: SparkSession, root: String) {
  private final class Dataset(val cols: IndexedSeq[String], val rows: IndexedSeq[Row])
  private val cache = scala.collection.mutable.Map.empty[String, Dataset]
  private def ds(rel: String): Dataset = cache.getOrElseUpdate(rel, {
    val df = spark.read.parquet(s"$root/$rel.parquet")
    val keep = df.columns.filterNot(_.startsWith("_p_")).toIndexedSeq
    new Dataset(keep, df.select(keep.map(org.apache.spark.sql.functions.col): _*)
      .collect().toIndexedSeq)
  })
  private lazy val tickerIds: Map[String, Long] = {
    val d = ds("data_meta/assets_master")
    val (t, a) = (d.cols.indexOf("ticker"), d.cols.indexOf("asset_id"))
    d.rows.map(r => r.getString(t) -> r.getLong(a)).toMap
  }
  private val files: Map[String, (String, String)] = Map(
    "getPrices" -> ("data_processed/prices_daily", "date"),
    "getReturns" -> ("data_processed/returns_daily", "date"),
    "getUniverse" -> ("data_meta/universe_sp500", "date"),
    "getFundamentals" -> ("data_processed/fundamentals_quarterly", "report_date"),
    "getAnalystConsensus" -> ("data_processed/analyst_consensus", "date"),
    "getAnalystRatingsHistory" -> ("data_processed/analyst_ratings_history", "date"),
    "getMacro" -> ("data_processed/macro_timeseries", "date"),
    "getStyleFactorReturns" -> ("data_processed/style_factor_returns", "date"),
    "getBenchmarkReturns" -> ("data_processed/benchmarks", "date"))
  private def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")

  /** Expected multiset digest; throws IllegalArgumentException where the
    * API contract says the request must raise.
    */
  def expected(r: Request): String = {
    val (file, dateCol) = files(r.method)
    val d = ds(file)
    val ids = r.tickers.filter(_.nonEmpty).map { t =>
      val missing = t.filterNot(tickerIds.contains)
      if (missing.nonEmpty) throw new IllegalArgumentException(s"unknown tickers $missing")
      t.map(tickerIds).toSet
    }
    val cols = r.fields.filter(_.nonEmpty) match {
      case None => d.cols
      case Some(fs) =>
        val keep = (Seq("date", "asset_id", "ticker") ++ fs).distinct
        if (keep.exists(c => !d.cols.contains(c)))
          throw new IllegalArgumentException(s"unknown fields $fs")
        keep.toIndexedSeq
    }
    val (di, ai, bi) = (d.cols.indexOf(dateCol), d.cols.indexOf("asset_id"),
      d.cols.indexOf("benchmark_name"))
    val pick = cols.map(d.cols.indexOf)
    val (lo, hi) = (r.start.orElse(r.date).map(ts), r.end.orElse(r.date).map(ts))
    val rows = d.rows.iterator.filter { row =>
      val t = row.getAs[java.sql.Timestamp](di)
      lo.forall(x => !t.before(x)) && hi.forall(x => !t.after(x)) &&
        ids.forall(s => s.contains(row.getLong(ai))) &&
        (r.method != "getBenchmarkReturns" || row.getString(bi) == "^GSPC")
    }.map(row => Row.fromSeq(pick.map(row.get)))
    Digest.multiset(cols, rows)
  }
}

/** Documented sort keys of the nine methods (`graft.DataHandler`). */
object SortKeys {
  val of: Map[String, Seq[String]] = Map(
    "getPrices" -> Seq("date", "asset_id"), "getReturns" -> Seq("date", "asset_id"),
    "getUniverse" -> Seq("date", "asset_id"),
    "getFundamentals" -> Seq("report_date", "asset_id"),
    "getAnalystConsensus" -> Seq("date", "asset_id"),
    "getAnalystRatingsHistory" -> Seq("date", "asset_id"),
    "getMacro" -> Seq("date", "series_name"),
    "getStyleFactorReturns" -> Seq("date", "factor_name"),
    "getBenchmarkReturns" -> Seq("date"))

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.compareTo(y)
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: String, y: String) => x.compareTo(y)
    case _ => Digest.render(a).compareTo(Digest.render(b))
  }

  /** True when rows are non-decreasing in the method's documented key. */
  def sorted(method: String, cols: Seq[String], rows: Array[Row]): Boolean = {
    val idx = of(method).map(cols.indexOf)
    idx.forall(_ >= 0) && (1 until rows.length).forall { i =>
      idx.iterator.map(k => cmp(rows(i - 1).get(k), rows(i).get(k)))
        .find(_ != 0).forall(_ < 0)
    }
  }
}

/** handler_session: setup ingests the generated snapshot once (the paper's
  * batch job, measured as set-up); a pass is the fixed request script
  * against one `LocalParquetDataHandler`.
  */
final class HandlerSession(shape: Warehouse.Shape = Warehouse.Default) extends Workload {
  val name = "handler_session"
  val nominalPassS = 2.9
  /** The calls keep speeding up through the first four or five passes
    * (JIT), so the session warms up for three.
    */
  override val warmupPasses = 3
  private var snap: Warehouse.Snapshot = _
  private var handler: LocalParquetDataHandler = _
  private var script: Seq[Request] = Nil
  /** Expected digest per request; None when the request must raise. */
  private var expected: Map[Request, Option[String]] = Map.empty
  private var inputBytes = 0L
  private var storeBytes = 0L

  def setup(h: Harness): Unit = {
    snap = h.phase("generate")(Warehouse.generate(s"${h.runDir}/snapshot", h.seed, shape))
    inputBytes = Warehouse.parquetBytes(snap.dir)
    val root = s"${h.runDir}/store"
    storeBytes = h.phase("ingest")(IngestRun.measured(h, snap, root))
    script = Script.build(h.seed, snap)
    expected = h.phase("reference") {
      val ref = new Reference(h.spark, root)
      script.distinct.map { r =>
        val want = try Some(ref.expected(r)) catch { case _: IllegalArgumentException => None }
        require(want.isEmpty == r.invalid.nonEmpty,
          s"reference ${if (want.isEmpty) "rejects" else "accepts"} ${r.describe}")
        r -> want
      }.toMap
    }
    handler = new LocalParquetDataHandler(h.spark, root)
    val first = script.head
    h.op("handler.first_call")(Script.call(handler, first))(collect)(check(h, first))
    h.sample("handler.first_call_ms", h.ops.last.latencyMs)
  }

  private def collect(df: DataFrame): (Seq[String], Array[Row]) =
    (df.columns.toSeq, df.collect())

  private def check(h: Harness, r: Request)(
      res: Either[Throwable, (Seq[String], Array[Row])]): Outcome =
    (expected(r), res) match {
      case (None, Left(_: IllegalArgumentException)) => Outcome(ok = true)
      case (None, other) => Outcome(ok = false, s"${r.describe} should raise, got $other")
      case (Some(_), Left(e)) => Outcome(ok = false, s"${r.describe} threw $e")
      case (Some(want), Right((cols, rows))) =>
        h.sample("handler.rows_returned", rows.length.toDouble)
        if (!SortKeys.sorted(r.method, cols, rows))
          Outcome(ok = false, s"${r.describe} not sorted by ${SortKeys.of(r.method)}")
        else {
          val got = Digest.multiset(cols, rows.iterator)
          Outcome(got == want, s"${r.describe} digest $got != reference $want")
        }
    }

  def pass(h: Harness): Unit = script.foreach { r =>
    h.op(r.kind)(Script.call(handler, r))(collect)(check(h, r))
  }

  def storeBytesPerInputByte(h: Harness): Double = storeBytes.toDouble / inputBytes

  override def info(h: Harness): Seq[(String, String)] = Seq(
    "input_rows.prices_daily_raw" -> snap.expected("prices_daily").toString,
    "input_bytes" -> inputBytes.toString, "store_bytes" -> storeBytes.toString,
    "calls_per_pass" -> script.size.toString,
    "repeat_share" -> f"${Script.repeats.toDouble / script.count(_.invalid.isEmpty)}%.2f",
    "invalid_per_pass" -> script.count(_.invalid.nonEmpty).toString)
}
