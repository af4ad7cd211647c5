package graft.perfbench

/** Minimal JSON writer for run records: maps as ordered pairs, numbers,
  * strings, booleans, sequences and nulls. */
object Json {
  def apply(pairs: Seq[(String, Any)]): String =
    pairs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: java.math.BigDecimal => n.toPlainString
    case n: Number => n.toString
    case s: String => str(s)
    case r: org.apache.spark.sql.Row => value(r.toSeq)
    case m: scala.collection.Map[_, _] => apply(m.toSeq.map { case (k, x) => k.toString -> x })
    case p: Seq[_] if p.forall(_.isInstanceOf[(_, _)]) && p.nonEmpty &&
        p.forall(_.asInstanceOf[(Any, Any)]._1.isInstanceOf[String]) =>
      apply(p.asInstanceOf[Seq[(String, Any)]])
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
