package lakebench

import java.io.File
import java.nio.file.{Files, Paths}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Just enough JSON writing for the result and trace files. */
object Json {
  final case class Raw(text: String)
  def raw(text: String): Raw = Raw(text)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case Raw(t) => t
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

object Files2 {
  def write(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), text.getBytes("UTF-8")); ()
  }

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rm)
    f.delete(); ()
  }

  /** Regular files under `dir` whose name passes `keep` (hidden and
    * underscore-prefixed bookkeeping files excluded by the default). */
  def files(dir: String, keep: String => Boolean = n => !n.startsWith(".") && !n.startsWith("_")): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq.sortBy(_.getName).flatMap(walk)
      else if (keep(f.getName)) Seq(f) else Nil
    walk(new File(dir))
  }

  def bytes(dir: String, keep: String => Boolean = _ => true): Long = files(dir, keep).map(_.length).sum
}
