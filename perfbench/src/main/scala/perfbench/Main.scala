package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point: one fresh JVM per run, one workload, one seed.
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>
  * }}}
  * Writes `<out>/result.json` (and `<out>/spans.jsonl` when tracing).
  * `perfbench/run.py` builds the classpath, launches this, runs the DuckDB
  * oracle for the operator panel and prints the final result line.
  */
object Main {
  val workloads: Map[String, () => Workload] = Map(
    "handler_session" -> (() => new HandlerSession),
    "operator_panel" -> (() => new OperatorPanel))

  /** Pinned session: local[N] with N = min(4, cores), N shuffle partitions,
    * UTC, nanosAsLong, and a private spark.local.dir and warehouse under
    * the run directory (so standing artifacts are built by every run).
    */
  def session(runDir: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Host-speed diagnostic: a fixed pure-JVM integer loop, best of three.
    * Reported beside the timings; never used to normalise them.
    */
  def calibMs(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) println("")
    (System.nanoTime() - t0) / 1e6
  }.min

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val make = workloads.getOrElse(name, sys.error(
      s"unknown workload $name; known: ${workloads.keys.toSeq.sorted.mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val out = opts("out")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val calib0 = calibMs()
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    new java.io.File(out).mkdirs()
    val spark = session(out, cores)
    try {
      val w = make()
      val h = new Harness(spark, seed, out, new Tracer(trace))
      h.phases += "jvm_and_session" -> (System.currentTimeMillis() - jvmStartMs) / 1e3
      w.setup(h)
      h.phase("warmup")((1 to w.warmupPasses).foreach(_ => h.runPass(0)(w.pass(h))))
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      val passes = math.max(1, math.round(seconds / w.nominalPassS).toInt)
      (1 to passes).foreach(i => h.runPass(i)(w.pass(h)))
      // retained heap: the least of three post-GC readings, each after a
      // pause that lets Spark's ContextCleaner drop the broadcast and shuffle
      // state of collected plans, so its timing does not enter the figure
      val heap = (1 to 3).map { _ =>
        System.gc()
        Thread.sleep(300)
        System.gc()
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      }.min
      val calib1 = calibMs()
      Report.write(out, w, h, setupS, heap, calib0, calib1)
      h.tracer.write(java.nio.file.Paths.get(s"$out/spans.jsonl"))
    } finally spark.stop()
  }
}
