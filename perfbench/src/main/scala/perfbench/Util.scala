package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Minimal JSON writer: the result line and the sidecar files are flat. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def num(n: Long): String = n.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

object Files2 {
  def path(s: String): Path = Paths.get(s)

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.foreach(Files.deleteIfExists)
      finally all.close()
    }

  /** Byte-identical copy of a directory tree. */
  def copyTree(src: Path, dst: Path): Unit = {
    delete(dst)
    val all = Files.walk(src)
    try all.iterator().asScala.foreach { f =>
      val t = dst.resolve(src.relativize(f))
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally all.close()
  }

  /** Bytes of every regular file under `p`. */
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val all = Files.walk(p)
      try all.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally all.close()
    }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
