package graftbench

/** Minimal JSON rendering for the run record (maps, sequences, strings,
  * numbers, booleans, options). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case p: Product if p.productArity > 0 && !p.isInstanceOf[Iterable[_]] =>
      p.productElementNames.zip(p.productIterator)
        .map { case (k, x) => str(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(apply).mkString("[", ",", "]")
    case a: Array[_] => a.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
