package graft

import java.util.Locale

/** The one JSON writer behind every artifact the mains emit. Values
  * passed to [[obj]] and [[arr]] are already-rendered JSON: numbers
  * and booleans via `toString` or [[num]], strings via [[str]]. */
object Json {
  /** Quoted string. Escapes backslash, quote and ALL control chars
    * (<0x20): a tab or CR in hand-written SQL would otherwise make
    * a reader's json.load fail and silently zero a correctness run. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Fixed-point number with `digits` decimals. Locale.ROOT: the
    * default-locale formatter writes `1,234` (invalid JSON) under e.g.
    * de_DE. NaN and ±Infinity have no JSON token and render as null. */
  def num(v: Double, digits: Int): String =
    if (java.lang.Double.isFinite(v)) String.format(Locale.ROOT, s"%.${digits}f", Double.box(v))
    else "null"

  def obj(fields: Iterable[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(items: Iterable[Any]): String = items.mkString("[", ",", "]")
}
