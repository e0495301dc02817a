package graftbench

import java.nio.file.{Files, Path}

/** The few JSON shapes the run record needs: strings, numbers,
  * booleans, arrays and objects. */
object Json {
  sealed trait V
  final case class Str(s: String) extends V
  final case class Num(d: Double) extends V
  final case class Bool(b: Boolean) extends V
  final case class Arr(vs: Seq[V]) extends V
  final case class Obj(kvs: (String, V)*) extends V

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: V): String = v match {
    case Str(s) => quote(s)
    case Num(d) => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case Bool(b) => b.toString
    case Arr(vs) => vs.map(render).mkString("[", ",", "]")
    case Obj(kvs @ _*) => kvs.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
  }

  def write(p: Path, v: V): Unit = Files.write(p, render(v).getBytes("UTF-8"))
}
