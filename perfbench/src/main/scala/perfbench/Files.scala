package perfbench

import java.nio.file.{Files => JFiles, Path, Paths}

import scala.jdk.CollectionConverters._

/** Small filesystem helpers for run directories and store accounting. */
object Files {
  def walk(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!JFiles.exists(root)) Nil
    else {
      val s = JFiles.walk(root)
      try s.iterator().asScala.filter(JFiles.isRegularFile(_)).toList
      finally s.close()
    }
  }

  def delete(dir: String): Unit = {
    val root = Paths.get(dir)
    if (JFiles.exists(root)) {
      val s = JFiles.walk(root)
      try s.iterator().asScala.toList.reverse.foreach(JFiles.deleteIfExists)
      finally s.close()
    }
  }

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
}
