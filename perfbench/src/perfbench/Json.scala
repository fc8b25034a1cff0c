package perfbench

/** Minimal JSON writer for the benchmark's result files (maps, sequences,
  * numbers, strings, booleans, null). */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case '\n' => sb ++= "\\n"
        case '\r' => sb ++= "\\r"
        case '\t' => sb ++= "\\t"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(x: Any): Unit = x match {
      case null | None => sb ++= "null"
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb ++= b.toString
      case d: Double =>
        if (d.isNaN || d.isInfinite) sb ++= "null" else sb ++= java.lang.Double.toString(d)
      case f: Float => go(f.toDouble)
      case n: Int => sb ++= n.toString
      case n: Long => sb ++= n.toString
      case m: scala.collection.Map[_, _] =>
        sb += '{'
        var first = true
        m.foreach { case (k, y) =>
          if (!first) sb += ','
          first = false
          str(k.toString); sb += ':'; go(y)
        }
        sb += '}'
      case it: Iterable[_] =>
        sb += '['
        var first = true
        it.foreach { y => if (!first) sb += ','; first = false; go(y) }
        sb += ']'
      case a: Array[_] => go(a.toSeq)
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
