package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** Engine counters over a time window; task times are executor-side sums,
  * kept integral so window sums are exact in any order.
  */
final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskRunMs: Long = 0, taskCpuNs: Long = 0, gcMs: Long = 0,
    shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
    inputBytes: Long = 0, inputRecords: Long = 0,
    outputBytes: Long = 0, outputRecords: Long = 0) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, taskRunMs + o.taskRunMs, taskCpuNs + o.taskCpuNs,
    gcMs + o.gcMs, shuffleWriteBytes + o.shuffleWriteBytes,
    shuffleReadBytes + o.shuffleReadBytes, inputBytes + o.inputBytes,
    inputRecords + o.inputRecords, outputBytes + o.outputBytes,
    outputRecords + o.outputRecords)
  def shuffleBytes: Long = shuffleWriteBytes + shuffleReadBytes
  def taskCpuMs: Double = taskCpuNs / 1e6
}

/** A SparkListener that keeps every job, stage and task event in memory
  * with its engine timestamp. Attribution is by time window: the harness
  * runs one client in a closed loop, so every event stamped between the
  * start of op i and the start of op i+1 belongs to op i — including jobs
  * submitted from pool threads (`graft.Par`) inside the op, which a
  * thread-local job group would not follow reliably.
  */
final class Probe extends SparkListener {
  import Probe.Ev
  private val events = ArrayBuffer.empty[Ev]

  private def add(atMs: Long, c: Counters): Unit = events.synchronized {
    events += Ev(atMs, c)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    add(e.time, Counters(jobs = 1))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()),
      Counters(stages = 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      add(e.taskInfo.finishTime, Counters(tasks = 1,
        taskRunMs = m.executorRunTime,
        taskCpuNs = m.executorCpuTime,
        gcMs = m.jvmGCTime,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        inputBytes = m.inputMetrics.bytesRead,
        inputRecords = m.inputMetrics.recordsRead,
        outputBytes = m.outputMetrics.bytesWritten,
        outputRecords = m.outputMetrics.recordsWritten))
    } else add(e.taskInfo.finishTime, Counters(tasks = 1))
  }

  /** Sum of the events stamped in [fromMs, untilMs). */
  def window(fromMs: Long, untilMs: Long): Counters = events.synchronized {
    events.iterator.filter(e => e.atMs >= fromMs && e.atMs < untilMs)
      .foldLeft(Counters())(_ + _.c)
  }

  /** Splits [starts.head, until) at the given op starts (ascending): op i
    * owns [starts(i), starts(i+1)), the last op owns [starts.last, until).
    * The windows tile the interval, so the per-op sums add up to
    * `window(starts.head, until)` exactly.
    */
  def attribute(starts: Seq[Long], until: Long): Seq[Counters] =
    starts.indices.map { i =>
      window(starts(i), if (i + 1 < starts.size) starts(i + 1) else until)
    }
}

object Probe {
  private final case class Ev(atMs: Long, c: Counters)
  def install(spark: org.apache.spark.sql.SparkSession): Probe = {
    val p = new Probe
    spark.sparkContext.addSparkListener(p)
    p
  }
  def drain(spark: org.apache.spark.sql.SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
