package perfbench

import graft.SparkEntry
import org.apache.spark.sql.Row

import scala.jdk.CollectionConverters._

/** operator_panel: a pass runs a fixed panel of `SparkEntry.queries` once
  * each, in a fixed order, over generated tables. Every result must
  * digest equal to the warm-up pass's; the warm-up results are written to
  * `<out>/results/<query>` with `<out>/oracle_sql.json`, which
  * `perfbench/run.py` checks against the DuckDB oracle.
  */
final class OperatorPanel extends Workload {
  val name = "operator_panel"
  val nominalPassS = 4.1
  /** The queries keep speeding up through the first four or five passes
    * (JIT), so the panel warms up for three.
    */
  override val warmupPasses = 3
  private var dir: String = _
  private var rows: Map[String, Long] = Map.empty
  private val reference = scala.collection.mutable.Map.empty[String, String]

  def setup(h: Harness): Unit = {
    dir = s"${h.runDir}/tables"
    rows = h.phase("generate")(PanelTables.generate(dir, h.seed, OperatorPanel.scale))
    val sql = OperatorPanel.queries.map(q => q -> Json.str(SparkEntry.oracleSql(q)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${h.runDir}/oracle_sql.json"),
      Json.obj(sql))
  }

  def pass(h: Harness): Unit = OperatorPanel.queries.foreach { q =>
    val warmup = !reference.contains(q)
    h.op(s"panel.$q")(SparkEntry.queries(q)(h.spark, dir))(df => (df, df.collect())) {
      case Left(e) => Outcome(ok = false, s"$q threw ${e.getClass.getName}: ${e.getMessage}")
      case Right((df, got)) =>
        val d = Digest.of(df.columns.toSeq, got.iterator)
        if (warmup) {
          reference(q) = d
          h.spark.createDataFrame(got.toSeq.asJava, df.schema).coalesce(1)
            .write.mode("overwrite").parquet(s"${h.runDir}/results/$q")
          Outcome(ok = true)
        } else Outcome(d == reference(q), s"$q digest $d != warm-up ${reference(q)}")
    }
  }

  /** Bytes of the standing artifacts the queries persisted in the
    * warehouse per input byte (the harness's own answer dumps for the
    * oracle are not counted).
    */
  def storeBytesPerInputByte(h: Harness): Double = {
    val stored = Files.walk(s"${h.runDir}/warehouse")
      .filter(_.getFileName.toString.startsWith("part-"))
      .map(p => java.nio.file.Files.size(p)).sum
    stored.toDouble / Warehouse.parquetBytes(dir)
  }

  override def info(h: Harness): Seq[(String, String)] =
    Seq("scale_sf" -> OperatorPanel.scale.toString) ++
      rows.toSeq.sortBy(_._1).map { case (t, n) => s"input_rows.$t" -> n.toString } :+
      ("input_bytes" -> Warehouse.parquetBytes(dir).toString)
}

object OperatorPanel {
  /** Scale factor of the generated tables (lineitem = 6M x scale rows). */
  val scale = 0.001
  /** scan, shuffle/CPU-bound dedup, exchange-heavy join, and a join over
    * standing co-bucketed tables (built by the first call, reused after).
    */
  val queries: Seq[String] =
    Seq("s1_scan_project", "j6_mapping_validity", "dd_ppjoin", "q3_bucketed")
}
