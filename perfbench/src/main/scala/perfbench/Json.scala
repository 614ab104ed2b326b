package perfbench

/** A JSON object whose fields keep the order they are given in. */
final case class Obj(fields: Seq[(String, Any)])

/** Minimal JSON encoder for records: [[Obj]], maps, sequences, strings,
  * numbers, booleans and null.
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case Obj(fields) => fields.map { case (k, x) => quote(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case m: collection.Map[_, _] => apply(Obj(m.toSeq.map { case (k, x) => k.toString -> x }))
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
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
}
