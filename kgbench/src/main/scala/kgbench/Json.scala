package kgbench

/** Minimal JSON rendering for the result line and the trace file. */
object Json {

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  /** Renders Scala values: maps (insertion order kept for ListMap/Seq of
    * pairs), sequences, strings, booleans and numbers. Non-finite doubles
    * become null. */
  def render(v: Any): String = v match {
    case null                  => "null"
    case s: String             => str(s)
    case b: Boolean            => b.toString
    case d: Double             => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float              => render(f.toDouble)
    case n: Int                => n.toString
    case n: Long               => n.toString
    case Some(x)               => render(x)
    case None                  => "null"
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]       => xs.iterator.map(render).mkString("[", ",", "]")
    case a: Array[_]           => render(a.toSeq)
    case other                 => str(other.toString)
  }

  /** Ordered object. */
  def obj(kvs: (String, Any)*): scala.collection.immutable.ListMap[String, Any] =
    scala.collection.immutable.ListMap(kvs: _*)
}
