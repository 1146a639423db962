package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** One op's outcome against its expected outcome. */
final case class Outcome(ok: Boolean, detail: String = "")

/** One executed op: `kind` is its op type; construct is the client-side
  * frame build (including any eager jobs it runs), execute the
  * materialisation.
  */
final case class OpRecord(pass: Int, kind: String, startNs: Long, constructNs: Long,
    executeNs: Long, ok: Boolean, detail: String, window: Int) {
  def latencyMs: Double = (constructNs + executeNs) / 1e6
}

/** Wall, process-CPU and GC cost of one pass over a workload's fixed op
  * sequence.
  */
final case class PassRecord(pass: Int, wallNs: Long, cpuNs: Long, gcMs: Long)

/** The single-client closed loop: ops run one after another on the calling
  * thread; each op's next request is issued only when the previous one
  * has returned. With tracing on, a [[Probe]] is installed and every op
  * and harness step opens a window (see [[Probe.attribute]]).
  */
final class Harness(val spark: SparkSession, val seed: Long, val runDir: String,
    val tracer: Tracer) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val probe: Option[Probe] = if (tracer.enabled) Some(Probe.install(spark)) else None

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }

  val ops = ArrayBuffer.empty[OpRecord]
  val passes = ArrayBuffer.empty[PassRecord]
  val failures = ArrayBuffer.empty[String]
  /** (start ms, label): op windows carry the op kind, harness work "-". */
  val windows = ArrayBuffer.empty[(Long, String)]
  /** -1 while setting up, 0 in the warm-up passes, then 1, 2, ... */
  private var pass = -1
  private var opSpan = 0
  private val sampled = ArrayBuffer.empty[(Int, String, Double)]

  /** A workload-recorded per-layer sample, tagged with the current pass. */
  def sample(name: String, v: Double): Unit = sampled += ((pass, name, v))

  /** Samples of `name` from the timed passes; from set-up when the timed
    * passes record none (e.g. the set-up ingest of handler_session).
    * Warm-up samples never count.
    */
  def samples(name: String): Seq[Double] = {
    val timed = sampled.filter(s => s._1 > 0 && s._2 == name).map(_._3).toSeq
    if (timed.nonEmpty) timed else sampled.filter(s => s._1 < 0 && s._2 == name).map(_._3).toSeq
  }

  /** Distinct diagnostic notes (reported, never counted as failures). */
  val notes = scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.LinkedHashSet[String]]
  def note(topic: String, what: String): Unit =
    notes.getOrElseUpdate(topic, scala.collection.mutable.LinkedHashSet.empty) += what

  /** Ops of `kind` by the same rule as [[samples]]. */
  def opsOf(kind: String): Seq[OpRecord] = {
    val timed = ops.filter(o => o.pass > 0 && o.kind == kind).toSeq
    if (timed.nonEmpty) timed else ops.filter(o => o.pass < 0 && o.kind == kind).toSeq
  }

  // events carry scheduler timestamps, so a window needs no bus drain here
  private def openWindow(label: String): Int = {
    windows += (System.currentTimeMillis() -> label)
    windows.size - 1
  }

  /** Wall seconds of the named set-up phases, in order. */
  val phases = ArrayBuffer.empty[(String, Double)]
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally phases += name -> (System.nanoTime() - t0) / 1e9
  }

  /** Harness-side work (checks, cleanup) between ops, kept out of op windows. */
  def harnessStep[T](body: => T): T = { openWindow("-"); body }

  /** Runs one op: `construct` builds the frame, `execute` materialises it and
    * returns the value `check` compares with the expected outcome. A throw
    * from either phase is handed to `check` as `Left`.
    */
  def op[F, R](kind: String)(construct: => F)(execute: F => R)(
      check: Either[Throwable, R] => Outcome): R = {
    val w = openWindow(kind)
    val t0 = System.nanoTime()
    var t1 = t0
    val res: Either[Throwable, R] =
      try {
        val f = construct
        t1 = System.nanoTime()
        Right(execute(f))
      } catch { case e: Exception => if (t1 == t0) t1 = System.nanoTime(); Left(e) }
    val t2 = System.nanoTime()
    val outcome = harnessStep(check(res))
    ops += OpRecord(pass, kind, t0, t1 - t0, t2 - t1, outcome.ok, outcome.detail, w)
    if (!outcome.ok) failures += s"pass $pass $kind: ${outcome.detail}"
    if (tracer.enabled) {
      opSpan = tracer.record(0, ops.size, kind, t0, t2, Seq("pass" -> pass.toDouble))
      tracer.record(opSpan, ops.size, s"$kind.construct", t0, t1)
      tracer.record(opSpan, ops.size, s"$kind.execute", t1, t2)
    }
    res.getOrElse(null.asInstanceOf[R])
  }

  /** Span of the op recorded last, for children such as ingest steps. */
  def lastOpSpan: Int = opSpan

  /** Runs one pass; pass 0 is the untimed warm-up (every warm-up pass). */
  def runPass(i: Int)(body: => Unit): Unit = {
    pass = i
    openWindow("-")
    val (c0, g0, t0) = (cpuNs, gcMs, System.nanoTime())
    body
    passes += PassRecord(i, System.nanoTime() - t0, cpuNs - c0, gcMs - g0)
    openWindow("-")
  }

  def timedOps: Seq[OpRecord] = ops.filter(_.pass > 0).toSeq
  def timedPasses: Seq[PassRecord] = passes.filter(_.pass > 0).toSeq

  /** Engine counters per window (tracing only), tiling the run from the
    * first window to now.
    */
  lazy val windowCounters: IndexedSeq[Counters] = probe match {
    case Some(p) =>
      Probe.drain(spark)
      p.attribute(windows.map(_._1).toSeq, Long.MaxValue).toIndexedSeq
    case None => IndexedSeq.fill(windows.size)(Counters())
  }

  def countersOf(rs: Seq[OpRecord]): Counters =
    rs.map(r => windowCounters(r.window)).foldLeft(Counters())(_ + _)

}

/** A workload: set-up (inputs, set-up ingest, standing builds) and one pass
  * over its fixed, seeded op sequence.
  */
trait Workload {
  def name: String
  /** Wall seconds of one pass on the reference host; a run makes
    * round(--seconds / nominalPassS) timed passes (at least one), so the
    * timed work is fixed by --seconds and never by the speed of the run.
    */
  def nominalPassS: Double
  /** Untimed warm-up passes before timing. */
  def warmupPasses: Int = 1
  def setup(h: Harness): Unit
  def pass(h: Harness): Unit
  /** Bytes the workload persisted per byte of its generated input. */
  def storeBytesPerInputByte(h: Harness): Double
  /** Values to print with the result (sizes, counts); not metrics. */
  def info(h: Harness): Seq[(String, String)] = Nil
}
