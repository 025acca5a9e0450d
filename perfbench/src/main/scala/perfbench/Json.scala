package perfbench

/** Minimal JSON writer for the result file (maps, sequences, strings,
  * numbers, booleans and null). */
object Json {
  def write(v: Any): String = v match {
    case null             => "null"
    case s: String        => quote(s)
    case b: Boolean       => b.toString
    case d: Double        => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int           => n.toString
    case n: Long          => n.toString
    case m: Map[_, _]     =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_]   => s.map(write).mkString("[", ",", "]")
    case other            => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch   => b += ch
    }
    b += '"'
    b.toString
  }
}
