package perfbench

/** Minimal JSON writer for the result object and the trace. */
object Json {
  def render(v: Any): String = {
    val b = new StringBuilder
    write(v, b)
    b.toString
  }

  private def write(v: Any, b: StringBuilder): Unit = v match {
    case null => b.append("null")
    case s: String => quote(s, b)
    case x: Boolean => b.append(x)
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, "non-finite number in JSON output")
      b.append(d)
    case f: Float => write(f.toDouble, b)
    case n: Number => b.append(n.toString)
    case m: scala.collection.Map[_, _] =>
      b.append('{')
      m.iterator.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) b.append(',')
        quote(k.toString, b); b.append(':'); write(x, b)
      }
      b.append('}')
    case xs: Iterable[_] =>
      b.append('[')
      xs.iterator.zipWithIndex.foreach { case (x, i) => if (i > 0) b.append(','); write(x, b) }
      b.append(']')
    case o => quote(o.toString, b)
  }

  private def quote(s: String, b: StringBuilder): Unit = {
    b.append('"')
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"')
  }
}
