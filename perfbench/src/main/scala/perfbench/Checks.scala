package perfbench

import org.apache.spark.sql.DataFrame

/** The output checks, as pure functions so the self-test can show that
  * each one rejects a deliberately wrong expected answer. */
object Checks {
  /** A golden cell: NULL spelled out, doubles as %.6g, bytes as hex. */
  def canon(v: Any): String = v match {
    case null => "NULL"
    case d: Double => f"$d%.6g"
    case f: Float => f"${f.toDouble}%.6g"
    case b: Array[Byte] => "0x" + b.map("%02x".format(_)).mkString
    case x => x.toString
  }

  /** A result as a golden `.out` file holds it: columns sorted by name,
    * rows canonicalized and sorted, one header line. */
  def canonicalize(df: DataFrame): String = {
    val cols = df.columns.sorted
    val rows = df.selectExpr(cols.map(c => s"`$c`"): _*).collect()
      .map(r => (0 until r.length).map(i => canon(r.get(i))).mkString("\t")).sorted
    (cols.mkString("\t") +: rows).mkString("\n") + "\n"
  }

  /** None when `got` is the golden text, else where they first differ. */
  def golden(got: String, want: String): Option[String] =
    if (got == want) None
    else {
      val g = got.linesIterator.toVector
      val w = want.linesIterator.toVector
      val i = g.zipAll(w, "<none>", "<none>").indexWhere { case (a, b) => a != b }
      Some(s"golden diff at line ${i + 1}: got '${g.lift(i).getOrElse("<none>").take(80)}' " +
        s"want '${w.lift(i).getOrElse("<none>").take(80)}'")
    }

  /** Statements in a script: `;`-separated outside quotes and `--` comments. */
  def statements(text: String): Int = {
    var n = 0
    var quote = ' '
    var comment = false
    var body = false
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (comment) { if (c == '\n') comment = false }
      else if (quote != ' ') {
        if (c == '\\') i += 1 else if (c == quote) quote = ' '
      } else if (c == '-' && i + 1 < text.length && text.charAt(i + 1) == '-') comment = true
      else if (c == ';') { if (body) n += 1; body = false }
      else {
        if (c == '\'' || c == '"' || c == '`') quote = c
        if (!c.isWhitespace) body = true
      }
      i += 1
    }
    if (body) n + 1 else n
  }

  /** A read-back's (rows, sum) against the DML model's prediction. */
  def readBack(got: (Long, Long), want: (Long, Long)): Option[String] =
    if (got == want) None else Some(s"read back (rows, qty) = $got, model predicts $want")

  /** Dedup increment: every planted exact copy rejected, every fresh doc
    * kept. Returns the first violations found. */
  def increment(survivors: Set[Long], copies: Seq[Long], fresh: Seq[Long]): Option[String] = {
    val kept = copies.filter(survivors)
    val lost = fresh.filterNot(survivors)
    if (kept.isEmpty && lost.isEmpty) None
    else Some(s"exact copies kept ${kept.take(5).mkString(",")} (${kept.size}); " +
      s"fresh docs dropped ${lost.take(5).mkString(",")} (${lost.size})")
  }
}
