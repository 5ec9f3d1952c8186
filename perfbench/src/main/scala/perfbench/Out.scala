package perfbench

/** JSON-lines writer for the run record run.py reads back. */
final class Out(path: String) {
  private val w = new java.io.PrintWriter(new java.io.BufferedWriter(
    new java.io.OutputStreamWriter(new java.io.FileOutputStream(path), "UTF-8")))

  def obj(fields: (String, Any)*): Unit = synchronized {
    w.println(fields.map { case (k, v) => Out.quote(k) + ":" + Out.json(v) }
      .mkString("{", ",", "}"))
    w.flush()
  }

  def close(): Unit = w.close()
}

object Out {
  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + json(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case xs: Array[_] => json(xs.toSeq)
    case other => quote(other.toString)
  }
}
