package graft

/** The one timer and the one report of the hand-run drives (`*Drive`,
  * `EncodeBench`): a drive times each step with [[timed]] and prints its
  * results through [[report]], one JSON object per line, so every run
  * leaves a machine-readable record that `grep '"drive":"<name>"'` finds.
  */
object Drive {

  /** Runs `body` once; returns its value and its wall seconds. A failing
    * step is named on stderr before its exception propagates. */
  def timed[A](step: String)(body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    try {
      val out = body
      (out, (System.nanoTime() - t0) / 1e9)
    } catch {
      case e: Throwable =>
        System.err.println(f"[drive] step $step failed after " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f s")
        throw e
    }
  }

  /** Wall seconds as whole milliseconds, for the `*_ms` fields. */
  def ms(seconds: Double): Long = math.round(seconds * 1000)

  /** Prints `{"drive": drive, fields...}` as one line. Values may be
    * strings, booleans, ints, longs, doubles (non-finite ones print as
    * null) and sequences or arrays of these. */
  def report(drive: String, fields: (String, Any)*): Unit =
    println((("drive" -> drive) +: fields)
      .map { case (k, v) => s"${quote(k)}:${value(v)}" }
      .mkString("{", ",", "}"))

  private def value(v: Any): String = v match {
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b @ (_: Boolean | _: Int | _: Long) => b.toString
    case xs: Array[_] => value(xs.toSeq)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(
      s"no JSON form for ${other.getClass.getName}")
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
