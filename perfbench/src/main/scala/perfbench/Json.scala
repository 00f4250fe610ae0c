package perfbench

/** A minimal JSON writer for the benchmark's result line and artifacts:
  * maps (insertion order kept), sequences, options, strings, numbers and
  * booleans. Non-finite numbers are written as null. */
object Json {
  def apply(v: Any): String = { val sb = new StringBuilder; write(sb, v); sb.toString }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => write(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb.append(b)
    case d: Double => if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
    case n: Int => sb.append(n)
    case n: Long => sb.append(n)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      m.iterator.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb.append(',')
        str(sb, k.toString); sb.append(':'); write(sb, x)
      }
      sb.append('}')
    case xs: Iterable[_] =>
      sb.append('[')
      xs.iterator.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); write(sb, x) }
      sb.append(']')
    case other => str(sb, other.toString)
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case '\r' => sb.append("\\r")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
}
