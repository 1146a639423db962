package perfbench

/** The traced run's per-layer metrics. Names are fixed (BENCHMARK.json
  * lists them); a layer the workload leaves idle reports 0.
  */
object PerLayer {
  val handlerMethods: Seq[String] = Script.methods
  val panelQueries: Seq[String] = OperatorPanel.queries

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
  private def per(total: Long, n: Int): Double = ratio(total.toDouble, n.toDouble)

  /** (name, unit) of every per-layer metric, in report order. */
  val names: Seq[(String, String)] =
    IngestRun.stepSlugs.map(s => s"ingest.step.${s}_s" -> "s") ++ Seq(
      "ingest.jobs" -> "count", "ingest.tasks" -> "count",
      "ingest.task_cpu_ms" -> "ms", "ingest.shuffle_bytes" -> "bytes",
      "ingest.output_bytes" -> "bytes", "ingest.gc_ms" -> "ms",
      "ingest.slot_use" -> "ratio",
      "layout.files_written" -> "count", "layout.bytes_written" -> "bytes",
      "handler.rows_read_per_row_returned" -> "ratio",
      "handler.bytes_read_per_call" -> "bytes") ++
      handlerMethods.flatMap(m => Seq(s"handler.$m.construct_ms" -> "ms",
        s"handler.$m.execute_ms" -> "ms")) ++ Seq(
      "handler.jobs_per_call" -> "count", "handler.tasks_per_call" -> "count",
      "handler.first_call_ms" -> "ms") ++
      panelQueries.flatMap(q => Seq(s"panel.$q.construct_ms" -> "ms",
        s"panel.$q.execute_ms" -> "ms", s"panel.$q.jobs" -> "count",
        s"panel.$q.task_cpu_ms" -> "ms", s"panel.$q.shuffle_bytes" -> "bytes",
        s"panel.$q.slot_use" -> "ratio")) ++ Seq(
      "panel.standing_build_s" -> "s",
      "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
      "spark.tasks_per_op" -> "count", "spark.gc_ms_per_pass" -> "ms",
      "host.calib_ms" -> "ms", "trace.pass_s" -> "s")

  def all(w: Workload, h: Harness, calib0: Double, calib1: Double): Seq[(String, Double, String)] = {
    val v = scala.collection.mutable.Map.empty[String, Double]
    def perOp(rs: Seq[OpRecord])(f: Counters => Double): Double =
      med(rs.map(r => f(h.windowCounters(r.window))))
    def slotUse(rs: Seq[OpRecord]): Double = med(rs.map(r =>
      ratio(h.windowCounters(r.window).taskRunMs.toDouble, r.latencyMs * h.cores)))

    IngestRun.stepSlugs.foreach(s => v(s"ingest.step.${s}_s") = med(h.samples(s"ingest.step.${s}_s")))
    val ingest = h.opsOf("ingest.run")
    v("ingest.jobs") = perOp(ingest)(_.jobs.toDouble)
    v("ingest.tasks") = perOp(ingest)(_.tasks.toDouble)
    v("ingest.task_cpu_ms") = perOp(ingest)(_.taskCpuMs)
    v("ingest.shuffle_bytes") = perOp(ingest)(_.shuffleBytes.toDouble)
    v("ingest.output_bytes") = perOp(ingest)(_.outputBytes.toDouble)
    v("ingest.gc_ms") = perOp(ingest)(_.gcMs.toDouble)
    v("ingest.slot_use") = slotUse(ingest)
    v("layout.files_written") = med(h.samples("layout.files_written"))
    v("layout.bytes_written") = med(h.samples("layout.bytes_written"))

    val calls = handlerMethods.flatMap(m => h.opsOf(s"handler.$m"))
    val callCounters = h.countersOf(calls)
    v("handler.rows_read_per_row_returned") =
      ratio(callCounters.inputRecords.toDouble, h.samples("handler.rows_returned").sum)
    v("handler.bytes_read_per_call") = per(callCounters.inputBytes, calls.size)
    handlerMethods.foreach { m =>
      val rs = h.opsOf(s"handler.$m")
      v(s"handler.$m.construct_ms") = med(rs.map(_.constructNs / 1e6))
      v(s"handler.$m.execute_ms") = med(rs.map(_.executeNs / 1e6))
    }
    v("handler.jobs_per_call") = per(callCounters.jobs, calls.size)
    v("handler.tasks_per_call") = per(callCounters.tasks, calls.size)
    v("handler.first_call_ms") = med(h.samples("handler.first_call_ms"))

    panelQueries.foreach { q =>
      val rs = h.opsOf(s"panel.$q")
      v(s"panel.$q.construct_ms") = med(rs.map(_.constructNs / 1e6))
      v(s"panel.$q.execute_ms") = med(rs.map(_.executeNs / 1e6))
      v(s"panel.$q.jobs") = perOp(rs)(_.jobs.toDouble)
      v(s"panel.$q.task_cpu_ms") = perOp(rs)(_.taskCpuMs)
      v(s"panel.$q.shuffle_bytes") = perOp(rs)(_.shuffleBytes.toDouble)
      v(s"panel.$q.slot_use") = slotUse(rs)
    }
    // the first warm-up pass's cold excess over a timed pass: standing
    // builds and first-run compilation
    val cold = panelQueries.flatMap(q => h.ops.find(o => o.pass == 0 && o.kind == s"panel.$q"))
    if (cold.nonEmpty) v("panel.standing_build_s") = math.max(0.0,
      cold.map(_.latencyMs).sum / 1e3 - med(h.timedPasses.map(_.wallNs / 1e9)))

    val timed = h.timedOps
    val all = h.countersOf(timed)
    v("spark.jobs_per_op") = per(all.jobs, timed.size)
    v("spark.stages_per_op") = per(all.stages, timed.size)
    v("spark.tasks_per_op") = per(all.tasks, timed.size)
    v("spark.gc_ms_per_pass") = med(h.timedPasses.map(_.gcMs.toDouble))
    v("host.calib_ms") = (calib0 + calib1) / 2
    v("trace.pass_s") = med(h.timedPasses.map(_.wallNs / 1e9))
    names.map { case (n, unit) => (n, v.getOrElse(n, 0.0), unit) }
  }
}
