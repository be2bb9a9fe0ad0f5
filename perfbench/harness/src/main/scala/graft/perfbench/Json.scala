package graft.perfbench

/** Just enough JSON writing for the harness's result files. */
object Json {
  final case class Raw(text: String)
  def raw(text: String): Raw = Raw(text)

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case Raw(t) => t
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => arr(xs)
    case other => quote(String.valueOf(other))
  }

  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")

  def arr(vs: Seq[Any]): String = vs.map(value).mkString("[", ",", "]")
}
