package graft.measure

/** The JSON writer every artifact line goes through. */
object Json {

  /** A JSON string literal of `s`, cut to `max` characters BEFORE
    * escaping (a cut after escaping can leave a lone `\` that escapes
    * the closing quote) and with backslash, quote and every control
    * character below 0x20 escaped. */
  def str(s: String, max: Int = Int.MaxValue): String = {
    val b = new StringBuilder("\"")
    s.take(max).foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** `{"k":v,...}` from already-rendered values. */
  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  /** Seconds at millisecond resolution, the artifacts' usual precision. */
  def sec(x: Double): String = f"$x%.3f"

  /** `[a,b,...]` of numbers, each rendered by `fmt`. */
  def arr[T](xs: Iterable[T], fmt: T => String = (x: T) => x.toString): String =
    xs.map(fmt).mkString("[", ",", "]")

  /** `{"k":[...],...}` — every sample vector of a per-name series. */
  def series[T](m: Iterable[(String, Seq[T])], fmt: T => String = (x: T) => x.toString): String =
    obj(m.map { case (k, v) => k -> arr(v, fmt) })
}
