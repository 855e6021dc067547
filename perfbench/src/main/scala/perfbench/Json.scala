package perfbench

/** The few JSON shapes the harness writes: objects keep their key order. */
object Json {
  final case class Obj(fields: Seq[(String, Any)]) {
    def apply(key: String): Any = fields.find(_._1 == key).map(_._2).orNull
  }

  def obj(kv: (String, Any)*): Obj = Obj(kv)

  def render(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case '\n' => sb ++= "\\n"
        case '\r' => sb ++= "\\r"
        case '\t' => sb ++= "\\t"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(x: Any): Unit = x match {
      case null | None => sb ++= "null"
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb ++= b.toString
      case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case f: Float => go(f.toDouble)
      case n: Number => sb ++= n.toString
      case Obj(fs) =>
        sb += '{'
        fs.zipWithIndex.foreach { case ((k, v), i) => if (i > 0) sb += ','; str(k); sb += ':'; go(v) }
        sb += '}'
      case m: Map[_, _] => go(Obj(m.toSeq.map { case (k, v) => k.toString -> v }))
      case it: Iterable[_] =>
        sb += '['
        it.zipWithIndex.foreach { case (v, i) => if (i > 0) sb += ','; go(v) }
        sb += ']'
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
