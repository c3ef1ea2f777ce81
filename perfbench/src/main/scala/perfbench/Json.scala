package perfbench

/** Minimal JSON rendering for the result line and result files. Values are
  * Map/Seq/String/Boolean/integral/floating/None; maps keep insertion order
  * when given a ListMap or SeqMap.
  */
object Json {
  def render(v: Any): String = v match {
    case null | None             => "null"
    case Some(x)                 => render(x)
    case s: String               => quote(s)
    case b: Boolean              => b.toString
    case i: Int                  => i.toString
    case l: Long                 => l.toString
    case d: Double               =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
      d.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]         => xs.map(render).mkString("[", ",", "]")
    case other                   => quote(other.toString)
  }

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'          => sb.append("\\\"")
      case '\\'         => sb.append("\\\\")
      case '\n'         => sb.append("\\n")
      case '\t'         => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c            => sb.append(c)
    }
    sb.append('"').toString
  }
}
