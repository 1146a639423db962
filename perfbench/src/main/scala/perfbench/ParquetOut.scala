package perfbench

import java.nio.file.{Files => JFiles, Paths}
import java.time.LocalDate

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** Writes generated tables straight through parquet-mr, without Spark jobs,
  * as `<dir>/<name>.parquet/part-00000.parquet` (the layout Spark writes and
  * reads). Column kinds map to the Spark types the readers expect: bigint,
  * int, double, string, and timestamp (micros; values are LocalDates at
  * midnight).
  */
object ParquetOut {
  sealed abstract class Kind(val primitive: String, val annotation: String = "")
  case object I64 extends Kind("int64")
  case object I32 extends Kind("int32")
  case object F64 extends Kind("double")
  case object Str extends Kind("binary", " (STRING)")
  case object Ts extends Kind("int64", " (TIMESTAMP(MICROS,true))")
  /** Local (zone-less) timestamp, as the repository's sf testdata stores them. */
  case object LocalTs extends Kind("int64", " (TIMESTAMP(MICROS,false))")

  def write(dir: String, name: String, cols: Seq[(String, Kind)],
      rows: Iterable[Seq[Any]]): Long = {
    val schema = MessageTypeParser.parseMessageType(
      cols.map { case (n, k) => s"optional ${k.primitive} $n${k.annotation};" }.mkString("message t { ", " ", " }"))
    val out = Paths.get(dir, s"$name.parquet", "part-00000.parquet")
    JFiles.createDirectories(out.getParent)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(out)).withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    val groups = new SimpleGroupFactory(schema)
    var n = 0L
    try rows.foreach { r =>
      val g = groups.newGroup()
      r.lazyZip(cols).foreach { case (v, (c, k)) =>
        if (v != null) k match {
          case I64 => g.append(c, v.asInstanceOf[Long])
          case I32 => g.append(c, v.asInstanceOf[Int])
          case F64 => g.append(c, v.asInstanceOf[Double])
          case Str => g.append(c, v.asInstanceOf[String])
          case Ts | LocalTs => g.append(c, v.asInstanceOf[LocalDate].toEpochDay * 86400000000L)
        }
      }
      w.write(g)
      n += 1
    } finally w.close()
    n
  }
}
