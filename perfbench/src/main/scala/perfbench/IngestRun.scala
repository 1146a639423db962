package perfbench

import graft.{Ingest, Schemas}
import graft.sources.{SnapshotEquitySource, StubMacroSource}

import scala.collection.mutable.ArrayBuffer

/** One checked `Ingest.run` over a generated snapshot: the set-up of the
  * handler_session workload, and its Ingest and Layout per-layer figures.
  */
object IngestRun {
  val processed: Seq[String] = Seq("prices_daily", "returns_daily",
    "sp500_membership", "fundamentals_quarterly", "analyst_consensus",
    "analyst_ratings_history", "macro_timeseries", "risk_free",
    "style_factor_returns", "benchmarks", "returns_monthly", "dividends_monthly")
  val meta: Seq[String] = Seq("assets_master", "universe_sp500", "trading_calendar")
  val manifests: Seq[String] = Seq("data_meta/data_sources.yml",
    "data_meta/field_manifest.csv", "reference/field_manifest.csv")

  /** The 17 step names `Ingest.run` reports, as metric slugs. */
  val stepSlugs: Seq[String] = Seq("connect_to_source", "build_sp500_universe",
    "build_assets_master", "build_trading_calendar_and_membership",
    "build_ibes_crsp_mapping_cusip", "download_daily_prices_returns",
    "download_fundamentals", "download_analyst_consensus",
    "download_analyst_rating_history", "download_style_factors_and_risk_free",
    "download_macro_series", "download_benchmark",
    "download_monthly_prices_returns", "download_dividends",
    "skip_raw_snapshots", "write_processed_datasets",
    "write_metadata_and_manifests")

  def slug(step: String): String =
    step.toLowerCase.replaceAll("[^a-z0-9]+", "_").stripPrefix("_").stripSuffix("_")

  def run(h: Harness, snap: Warehouse.Snapshot, root: String): Ingest.Result =
    Ingest.run(h.spark, new SnapshotEquitySource(h.spark, snap.dir),
      new StubMacroSource(h.spark), root, start = snap.startDate,
      end = snap.endDate, partitionPanels = true)

  /** One checked `Ingest.run` op into `root`, recording its step times and
    * the files and bytes the layout wrote. Returns the store's parquet bytes.
    */
  def measured(h: Harness, snap: Warehouse.Snapshot, root: String): Long = {
    val res = h.op("ingest.run")(())(_ => run(h, snap, root)) {
      case Left(e) => Outcome(ok = false, s"threw ${e.getClass.getName}: ${e.getMessage}")
      case Right(r) =>
        val bad = check(h, snap, root)
        if (r.steps.size != stepSlugs.size) Outcome(ok = false, s"${r.steps.size} steps")
        else Outcome(bad.isEmpty, bad.mkString("; "))
    }
    if (res != null) {
      // steps run back to back from the op's start; each becomes a child span
      var t = h.ops.last.startNs
      res.steps.foreach { case (step, secs) =>
        h.sample(s"ingest.step.${slug(step)}_s", secs)
        val d = (secs * 1e9).toLong
        h.tracer.record(h.lastOpSpan, h.ops.size, s"ingest.step.${slug(step)}", t, t + d)
        t += d
      }
    }
    h.harnessStep {
      val files = Files.walk(root).filterNot(_.toString.contains("/logs/"))
      h.sample("layout.files_written", files.size.toDouble)
      h.sample("layout.bytes_written", files.map(p => java.nio.file.Files.size(p)).sum.toDouble)
      Warehouse.parquetBytes(root)
    }
  }

  /** Row counts against the generator's, column types against
    * `graft.Schemas` and manifests present. Returns the mismatches, and
    * records (as `schema_drift`, not as a failure) each dataset whose
    * column names or order differ from `graft.Schemas`: the ingest writes
    * several datasets with extra, missing or reordered columns, so exact
    * schema equality does not hold on the measured code (BENCHMARK.json).
    */
  def check(h: Harness, snap: Warehouse.Snapshot, root: String): Seq[String] = {
    val bad = ArrayBuffer.empty[String]
    def dataset(name: String, path: String): Unit =
      scala.util.Try(h.spark.read.parquet(path).schema) match {
        case scala.util.Failure(e) => bad += s"$name unreadable: ${e.getClass.getSimpleName}"
        case scala.util.Success(schema) =>
          val n = footerRows(path)
          if (n != snap.expected(name)) bad += s"$name rows $n != ${snap.expected(name)}"
          val got = schema.fields.filterNot(_.name.startsWith("_p_"))
            .map(f => f.name -> f.dataType).toSeq
          val want = Schemas.all(name).fields.map(f => f.name -> f.dataType).toSeq
          val wantTypes = want.toMap
          got.collect { case (c, t) if wantTypes.get(c).exists(_ != t) =>
            bad += s"$name.$c is ${t.simpleString}, graft.Schemas says ${wantTypes(c).simpleString}"
          }
          if (got.map(_._1) != want.map(_._1)) h.note("schema_drift", name)
      }
    processed.foreach(n => dataset(n, s"$root/data_processed/$n.parquet"))
    meta.foreach(n => dataset(n, s"$root/data_meta/$n.parquet"))
    manifests.filterNot(m => new java.io.File(s"$root/$m").isFile)
      .foreach(m => bad += s"missing manifest $m")
    bad.toSeq
  }

  /** Row count of a parquet dataset from its file footers (no Spark job). */
  def footerRows(path: String): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    Files.walk(path).filter(_.getFileName.toString.endsWith(".parquet")).map { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toString), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }
}
