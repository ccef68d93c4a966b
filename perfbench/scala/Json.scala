package graftbench

/** Minimal streaming JSON writer for the result file (the benchmark JVM has
  * no JSON library of its own on the classpath it is allowed to assume). */
final class Json {
  private val sb = new StringBuilder
  private var first = List(true)

  private def sep(): Unit = {
    if (!first.head) sb.append(',')
    first = false :: first.tail
  }

  def obj(body: => Unit): Unit = {
    sep(); sb.append('{'); first = true :: first
    body
    first = first.tail; sb.append('}')
  }

  def arr[T](xs: Seq[T])(f: T => Unit): Unit = {
    sep(); sb.append('['); first = true :: first
    xs.foreach(f)
    first = first.tail; sb.append(']')
  }

  /** Writes `"k":`; the next value follows without a separator. */
  def key(k: String): Unit = {
    sep(); str(k); sb.append(':'); first = true :: first.tail
  }

  def field(k: String, v: Any): Unit = { key(k); value(v) }

  def value(v: Any): Unit = v match {
    case null | None => sep(); sb.append("null")
    case b: Boolean => sep(); sb.append(b)
    case d: Double => sep(); sb.append(if (d.isNaN || d.isInfinite) "null" else d.toString)
    case f: Float => value(f.toDouble)
    case n: Number => sep(); sb.append(n.toString)
    case xs: Seq[_] => arr(xs)(value)
    case x => sep(); str(x.toString)
  }

  private def str(s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  def result: String = sb.toString
}
