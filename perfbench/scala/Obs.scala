package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

/** Observation log: one JSON object per line, kept in memory and
  * written when the run ends, so recording never touches the disk
  * while a timed operation is in flight. The Python side computes every
  * metric and checks every answer from these lines. */
final class Obs {
  private val lines = ArrayBuffer.empty[String]

  def emit(kind: String, fields: (String, Any)*): Unit = {
    val s = Obs.obj(("t" -> kind) +: fields)
    lines.synchronized { lines += s; () }
  }

  def writeTo(path: Path): Unit = lines.synchronized {
    Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    ()
  }
}

object Obs {
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }
      .mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case s: String => str(s)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(String.valueOf(other))
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
