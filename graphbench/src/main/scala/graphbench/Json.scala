package graphbench

/** Minimal JSON rendering for results and page bodies. */
object Json {
  /** A JSON object with fields in the given order. */
  final case class Obj(fields: Seq[(String, Any)])
  /** A JSON array. */
  final case class Arr(items: Seq[Any])

  def quote(s: String): String = {
    val b = new java.lang.StringBuilder(s.length + 2)
    b.append('"')
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"' => b.append("\\\"")
        case '\\' => b.append("\\\\")
        case '\n' => b.append("\\n")
        case '\r' => b.append("\\r")
        case '\t' => b.append("\\t")
        case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
        case c => b.append(c)
      }
      i += 1
    }
    b.append('"').toString
  }

  def render(v: Any): String = {
    val b = new java.lang.StringBuilder
    write(b, v)
    b.toString
  }

  def write(b: java.lang.StringBuilder, v: Any): Unit = v match {
    case null => b.append("null")
    case s: String => b.append(quote(s))
    case x: Boolean => b.append(x)
    case x: Int => b.append(x)
    case x: Long => b.append(x)
    case x: Double =>
      if (x.isNaN || x.isInfinite) b.append("null") else b.append(x)
    case Obj(fs) =>
      b.append('{')
      var first = true
      fs.foreach { case (k, x) =>
        if (!first) b.append(',')
        first = false
        b.append(quote(k)).append(':')
        write(b, x)
      }
      b.append('}')
    case Arr(xs) =>
      b.append('[')
      var first = true
      xs.foreach { x =>
        if (!first) b.append(',')
        first = false
        write(b, x)
      }
      b.append(']')
    case other => b.append(quote(other.toString))
  }
}
