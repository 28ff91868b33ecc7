package graft
package frontend

/** Quote- and paren-aware scanning over HiveQL statement text, shared by
  * the front end's rewrites, guards and handlers. */
private[graft] object SqlText {

  /** The `k=v` pairs of a static PARTITION spec body, values unquoted. */
  def specPairs(spec: String): Seq[(String, String)] =
    spec.split(",").toSeq.map { kv =>
      val Array(k, v) = kv.split("=", 2).map(_.trim)
      k -> v.stripPrefix("'").stripSuffix("'")
    }

  /** ` OPTIONS (k = 'v', ...)` of a datasource DDL; "" for no options. */
  def optionsSql(opts: Iterable[(String, String)]): String =
    if (opts.isEmpty) "" else opts.map { case (k, v) =>
      s"$k = '${v.replace("\\", "\\\\").replace("'", "\\'")}'" }
      .mkString(" OPTIONS (", ", ", ")")

  /** The statement without its `--` comments: Spark's parser skips a
    * comment wherever it sits, and the statement-shape regexes here must
    * see the same statement. Quoted text (both string quotes with Hive's
    * escapes, and backtick identifiers) is kept byte for byte. */
  def stripComments(stmt: String): String =
    quotedOrCommentRe.replaceAllIn(stmt, m =>
      if (m.matched.startsWith("--")) ""
      else scala.util.matching.Regex.quoteReplacement(m.matched)).trim
  // unrolled loops: the regex engine recurses per escape, not per char
  private val quotedOrCommentRe = ("""'[^'\\]*+(?:(?:\\.|'')[^'\\]*+)*+'|""" +
    """"[^"\\]*+(?:(?:\\.|"")[^"\\]*+)*+"|`[^`]*+(?:``[^`]*+)*+`|--[^\n]*+""").r

  /** Blank out quoted string literals (both quote styles, with the
    * backslash and doubled-quote escapes Hive accepts) and `--` line
    * comments, preserving offsets, so textual guards like the char-length
    * check only see real DDL/cast type positions — a literal value of
    * 'char(300)' or a trailing comment must not trip the length guard.
    */
  def maskLiteralsAndComments(s: String): String = {
    val out = s.toCharArray
    var i = 0
    while (i < out.length) {
      val c = out(i)
      if (c == '\'' || c == '"') {
        val q = c
        i += 1
        var done = false
        while (i < out.length && !done) {
          if (out(i) == '\\' && i + 1 < out.length) {
            out(i) = ' '; out(i + 1) = ' '; i += 2
          } else if (out(i) == q && i + 1 < out.length && out(i + 1) == q) {
            out(i) = ' '; out(i + 1) = ' '; i += 2
          } else if (out(i) == q) {
            done = true; i += 1
          } else { out(i) = ' '; i += 1 }
        }
      } else if (c == '-' && i + 1 < out.length && out(i + 1) == '-') {
        while (i < out.length && out(i) != '\n') { out(i) = ' '; i += 1 }
      } else i += 1
    }
    new String(out)
  }

  /** Split a SET clause on top-level commas only (commas inside function
    * calls / CASE arms stay put). */
  def splitAssignments(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    var start = 0
    var i = 0
    var quote = '\u0000'
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != '\u0000') {
        if (c == '\\' && i + 1 < s.length) i += 1 // skip the escaped char
        else if (c == quote) quote = '\u0000'
      }
      else c match {
        case '\'' | '"' => quote = c
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 => out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Start offsets of top-level (not inside quotes or parens) word
    * occurrences, case-insensitive. */
  def topLevel(s: String, word: String): Seq[Int] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var depth = 0
    var i = 0
    var quote = ' '
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != ' ') {
        // skip the escaped char or \' would read as the closing quote and
        // invert the quote state for the rest of the statement
        if (c == '\\' && i + 1 < s.length) i += 2
        else { if (c == quote) quote = ' '; i += 1 }
      }
      else c match {
        case '\'' | '"' => quote = c; i += 1
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case _ =>
          if (depth == 0 && s.regionMatches(true, i, word, 0, word.length) &&
              (i == 0 || !Character.isLetterOrDigit(s.charAt(i - 1))) &&
              (i + word.length >= s.length ||
                !Character.isLetterOrDigit(s.charAt(i + word.length)))) {
            out += i; i += word.length
          } else i += 1
      }
    }
    out.toSeq
  }

  /** Split a PARTITION (...) clause body on commas OUTSIDE single quotes:
    * PARTITION (p='a,b', q) is one static column with a comma in its
    * value plus one dynamic column, not three entries. */
  def splitPartSpec(part: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQuote = false
    var i = 0
    while (i < part.length) {
      part(i) match {
        // a backslash escapes the next char (PARTITION (p='a\'b,c')) —
        // same convention as splitStatements
        case '\\' if i + 1 < part.length =>
          cur += '\\'; cur += part(i + 1); i += 1
        case '\'' => inQuote = !inQuote; cur += '\''
        case ',' if !inQuote => out += cur.toString; cur.clear()
        case c => cur += c
      }
      i += 1
    }
    out += cur.toString
    out.map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** Strip one round of SQL quote escapes from a single-quoted value:
    * PARTITION (p='a\'b') and (p='a''b') both carry the literal a'b. */
  def unescapeSqlValue(s: String): String =
    s.replace("''", "'").replaceAll("""\\(.)""", "$1")
}
