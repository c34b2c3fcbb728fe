package perfbench

/** Minimal JSON rendering for the result line and the run artifact. */
object Json {

  final case class Raw(s: String) { override def toString: String = s }

  def obj(kvs: Seq[(String, Any)]): Raw =
    Raw(kvs.map { case (k, v) => s"${str(k)}:${render(v)}" }.mkString("{", ",", "}"))

  def render(v: Any): String = v match {
    case null => "null"
    case r: Raw => r.s
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => str(s)
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }).s
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** The numeric value of metric `name` in an artifact written by
    * [[PipelineBench]] (the format is ours, so a pattern suffices).
    */
  def metricValue(json: String, name: String): Option[Double] =
    ("\"" + java.util.regex.Pattern.quote(name) + "\":\\{\"value\":([-0-9.Ee]+)").r
      .findFirstMatchIn(json).map(_.group(1).toDouble)
}
