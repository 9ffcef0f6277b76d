package perfbench

/** Minimal JSON writer for the result and span files. */
object Json {
  def obj(fields: Iterable[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => sys.error(s"cannot encode ${other.getClass}")
  }

  def str(s: String): String = graft.JsonUtil.jsonEscape(s)
}
