package kbench

import java.nio.file.{Files => JFiles, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Minimal JSON rendering for the harness's result lines. */
object Json {
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
    case null => "null"
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Local-disk helpers for fixtures (java.nio, so they never touch the
  * Hadoop file system statistics the probes read). */
object Files {
  def mkdirs(p: Path): Unit = JFiles.createDirectories(p)

  def deleteTree(p: Path): Unit =
    if (JFiles.exists(p)) {
      val s = JFiles.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(JFiles.delete)
      finally s.close()
    }

  def copyTree(src: Path, dst: Path): Unit = {
    deleteTree(dst)
    val s = JFiles.walk(src)
    try s.iterator.asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (JFiles.isDirectory(p)) JFiles.createDirectories(t)
      else JFiles.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  /** Regular files under `p`, relative paths sorted. */
  def list(p: Path): Seq[String] =
    if (!JFiles.exists(p)) Nil
    else {
      val s = JFiles.walk(p)
      try s.iterator.asScala.filter(JFiles.isRegularFile(_))
        .map(f => p.relativize(f).toString).toVector.sorted
      finally s.close()
    }

  def bytes(p: Path): Long =
    list(p).map(f => JFiles.size(p.resolve(f))).sum
}
