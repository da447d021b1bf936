package perfbench

import java.util.Locale

/** Minimal JSON writer: every number is formatted with `Locale.ROOT`, every
  * string is fully escaped (quotes, backslash, all control characters).
  * Values are `Map`/`Seq`/`String`/numbers/`Boolean`/`null`; maps keep the
  * caller's key order when given a `ListMap` or `Seq` of pairs.
  */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' || c == '\u2028' || c == '\u2029' =>
        b ++= String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt))
      case c => b += c
    }
    (b += '"').toString
  }

  /** Shortest round-trip representation; NaN/Infinity have no JSON form. */
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite number in JSON output: $d")
    if (d == math.rint(d) && math.abs(d) < 1e15) java.lang.Long.toString(d.toLong)
    else java.lang.Double.toString(d)
  }

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"not JSON-renderable: ${other.getClass}")
  }

  /** Object with keys in the given order. */
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, x) => str(k) + ":" + render(x) }.mkString("{", ",", "}")
}
