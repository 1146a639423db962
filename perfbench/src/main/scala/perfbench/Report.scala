package perfbench

/** Computes a run's metrics from the harness records and writes them to
  * `<out>/result.json`.
  */
object Report {

  def endToEnd(w: Workload, h: Harness, setupS: Double, heapMb: Double): Seq[(String, Double, String)] = {
    val passes = h.timedPasses
    val samples = h.timedOps.map(r => r.kind -> r.latencyMs)
    val ops = h.ops.size
    Seq(
      ("setup_s", setupS, "s"),
      ("pass_s", Stats.median(passes.map(_.wallNs / 1e9)), "s"),
      ("cpu_s", Stats.median(passes.map(_.cpuNs / 1e9)), "s"),
      ("op_p50_gm_ms", Stats.perTypeGeomean(samples, 0.5), "ms"),
      ("op_p90_gm_ms", Stats.perTypeGeomean(samples, 0.9), "ms"),
      ("store_bytes_per_input_byte", w.storeBytesPerInputByte(h), "ratio"),
      ("live_heap_mb", heapMb, "MB"),
      ("error_rate", h.ops.count(!_.ok).toDouble / ops, "ratio"))
  }

  def write(out: String, w: Workload, h: Harness, setupS: Double, heapMb: Double,
      calib0: Double, calib1: Double): Unit = {
    val e2e = endToEnd(w, h, setupS, heapMb)
    val layers = if (h.tracer.enabled) PerLayer.all(w, h, calib0, calib1) else Nil
    val samples = h.timedOps
    val info = Seq(
      "workload" -> w.name, "seed" -> h.seed.toString, "cores" -> h.cores.toString,
      "timed_passes" -> h.timedPasses.size.toString,
      "pass_wall_s" -> h.timedPasses.map(p => f"${p.wallNs / 1e9}%.3f").mkString(" "),
      "ops_per_pass" -> (samples.size / math.max(1, h.timedPasses.size)).toString,
      "op_types" -> samples.map(_.kind).distinct.size.toString,
      "min_samples_per_type" -> Stats.minPerType(samples.map(r => r.kind -> r.latencyMs)).toString,
      "host.calib_start_ms" -> f"$calib0%.3f", "host.calib_end_ms" -> f"$calib1%.3f",
      "spans" -> h.tracer.size.toString) ++ w.info(h) ++
      h.phases.map { case (k, v) => s"setup.$k" -> f"$v%.3f s" } ++
      h.notes.map { case (k, vs) => k -> s"${vs.size}: ${vs.mkString(",")}" }
    def metric(t: (String, Double, String)) =
      t._1 -> Json.obj(Seq("value" -> Json.num(t._2), "unit" -> Json.str(t._3)))
    val json = Json.obj(Seq(
      "attempted" -> h.ops.size.toString,
      "failed" -> h.ops.count(!_.ok).toString,
      "failures" -> Json.arr(h.failures.take(20).map(Json.str).toSeq),
      "ops_by_kind" -> Json.obj(h.ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, rs) =>
        k -> Json.obj(Seq("attempted" -> rs.size.toString,
          "failed" -> rs.count(!_.ok).toString))
      }),
      "end_to_end" -> Json.obj(e2e.map(metric)),
      "per_layer" -> Json.obj(layers.map(metric)),
      "info" -> Json.obj(info.map { case (k, v) => k -> Json.str(v) })))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/result.json"), json)
  }
}
