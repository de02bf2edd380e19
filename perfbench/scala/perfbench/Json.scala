package perfbench

/** Minimal JSON writer for the run record (maps, sequences, numbers,
  * strings, booleans). Non-finite doubles are written as null. */
object Json {
  def render(v: Any): String = { val sb = new StringBuilder; write(v, sb); sb.toString }

  private def write(v: Any, sb: StringBuilder): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => write(x, sb)
    case s: String => quote(s, sb)
    case b: Boolean => sb.append(b)
    case d: Double => if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
    case f: Float => write(f.toDouble, sb)
    case i: Int => sb.append(i)
    case l: Long => sb.append(l)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        quote(k.toString, sb); sb.append(':'); write(x, sb)
      }
      sb.append('}')
    case a: Array[_] => write(a.toSeq, sb)
    case it: Iterable[_] =>
      sb.append('[')
      var first = true
      it.foreach { x => if (!first) sb.append(','); first = false; write(x, sb) }
      sb.append(']')
    case other => quote(other.toString, sb)
  }

  private def quote(s: String, sb: StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
}
