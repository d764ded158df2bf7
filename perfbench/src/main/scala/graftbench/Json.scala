package graftbench

/** Minimal JSON writer for the harness's record files. */
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

  /** A finite double with all its digits; non-finite values become null. */
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString

  def nums(vs: Seq[Double]): String = vs.map(num).mkString("[", ",", "]")
  def strs(vs: Seq[String]): String = vs.map(str).mkString("[", ",", "]")

  /** An object; with `raw` the values are already JSON, otherwise strings. */
  def obj(m: Map[String, String], raw: Boolean = false): String =
    fields(m.toSeq.sortBy(_._1).map { case (k, v) => k -> (if (raw) v else str(v)) })

  def fields(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
