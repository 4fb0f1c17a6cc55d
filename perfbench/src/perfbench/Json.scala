package perfbench

/** Minimal JSON writer for the harness's result and ledger files (the
  * harness depends on nothing beyond the Spark jars the program uses).
  */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case '\n'         => "\\n"
      case '\r'         => "\\r"
      case '\t'         => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    } + "\""

  def apply(v: Any): String = v match {
    case null                  => "null"
    case r: RawJson            => r.text
    case s: String             => str(s)
    case b: Boolean            => b.toString
    case d: Double             => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float              => apply(f.toDouble)
    case n: Int                => n.toString
    case n: Long               => n.toString
    case o: Option[_]          => o.map(apply).getOrElse("null")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_]       => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_]          => xs.map(apply).mkString("[", ",", "]")
    case other                 => str(other.toString)
  }
}
