package perfbench

import org.apache.spark.sql.Row

/** Canonical content digest of a result, shared by the handler reference
  * and the operator panel's cross-pass comparison.
  *
  * Values are rendered type-exactly (timestamps as epoch micros, doubles
  * by their IEEE bits), so two results digest equal only if they hold the
  * same values in the same order.
  */
object Digest {
  def render(v: Any): String = v match {
    case null => "~"
    case t: java.sql.Timestamp => s"t${t.getTime * 1000 + (t.getNanos / 1000) % 1000}"
    case d: java.sql.Date => s"d${d.toLocalDate.toEpochDay}"
    case x: Double => s"f${java.lang.Double.doubleToLongBits(if (x == 0.0) 0.0 else x)}"
    case x: Float => s"f${java.lang.Double.doubleToLongBits(x.toDouble)}"
    case x: Long => s"i$x"
    case x: Int => s"i$x"
    case x: Short => s"i$x"
    case s: String => "s" + s.length + ":" + s
    case b: Boolean => if (b) "T" else "F"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
    case other => "o" + other.toString
  }

  def row(r: Row): String = r.toSeq.map(render).mkString("|")

  def of(columns: Seq[String], rows: Iterator[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(columns.mkString(",").getBytes("UTF-8"))
    var n = 0L
    rows.foreach { r => md.update(row(r).getBytes("UTF-8")); md.update('\n'.toByte); n += 1 }
    s"$n:" + md.digest().take(12).map(b => f"$b%02x").mkString
  }

  /** Order-independent digest: row count and two wrapping sums of 32-bit
    * row hashes under independent seeds.
    */
  def multiset(columns: Seq[String], rows: Iterator[Row]): String = {
    import scala.util.hashing.MurmurHash3.stringHash
    var (n, a, b) = (0L, 0L, 0L)
    rows.foreach { r =>
      val s = row(r)
      a += stringHash(s, 0x5bd1e995) & 0xffffffffL
      b += stringHash(s, 0x1b873593).toLong << 16
      n += 1
    }
    s"$n:${columns.mkString(",")}:$a:$b"
  }
}
