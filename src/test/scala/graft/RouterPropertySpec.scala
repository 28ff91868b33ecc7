package graft

import scala.util.Random
import frontend.{Rewrites, Router, SqlText}

/** Seeded property over the routing table: keyword-bearing text spliced
  * into a statement's string literals and `--` comments changes neither
  * the handler [[Router.route]] names nor the literal's bytes after the
  * [[Rewrites.toStmt0]] and [[Rewrites.toStmt]] passes. Every `spark.sql`
  * on a session with the extension makes these passes, so a rewrite that
  * reads inside a literal or a comment would change what plain SQL does.
  */
class RouterPropertySpec extends SparkSpec {
  import RoutingSpec.{cases, fixtures}

  private val keywords = Seq("LOCATION '", "TEMPORARY", "CASCADE", "FOR COLUMNS", "INSERT")
  // a single-quoted literal, with Hive's backslash escape
  private val literalRe = """'(?:[^'\\]|\\.)*'""".r
  private val partitionSpecRe = """(?i)PARTITION\s*\([^)]*\)""".r

  /** `stmt` with keyword text spliced in, and the literals it spliced. */
  private def splice(stmt: String, rnd: Random): (String, Seq[String]) = {
    def kw = keywords(rnd.nextInt(keywords.size))
    // a partition value names a partition: another value is another
    // statement, which a partition-state handler may rightly not own
    val specs = partitionSpecRe.findAllMatchIn(stmt).toSeq
    val lits = literalRe.findAllMatchIn(stmt).toSeq
      .filterNot(m => specs.exists(p => m.start >= p.start && m.end <= p.end))
    val (text, spliced) =
      if (lits.nonEmpty && rnd.nextBoolean()) {
        val m = lits(rnd.nextInt(lits.size))
        val body = m.matched.drop(1).dropRight(1)
        val at = rnd.nextInt(body.length + 1)
        // a quote inside a literal is written escaped, as Hive reads it
        val lit = "'" + body.take(at) + " " + kw.replace("'", "\\'") + " " + body.drop(at) + "'"
        (stmt.take(m.start) + lit + stmt.drop(m.end), Seq(lit))
      } else (stmt, Nil)
    val comment = s"-- ${kw} ${kw}"
    val commented = rnd.nextInt(3) match {
      case 0 => comment + "\n" + text
      case 1 => text + "\n" + comment
      case _ =>
        // at a token boundary mid-statement
        val spaces = text.indices.filter(i => text(i) == ' ' &&
          literalRe.findAllMatchIn(text).forall(m => i < m.start || i >= m.end))
        if (spaces.isEmpty) text + "\n" + comment
        else {
          val i = spaces(rnd.nextInt(spaces.size))
          text.take(i) + " " + comment + "\n" + text.drop(i + 1)
        }
    }
    (commented, spliced)
  }

  test("keyword text in literals and comments keeps the route and the literal bytes") {
    fixtures(spark) {
      val rnd = new Random(20261019)
      val n = 2400
      val wrong = (0 until n).flatMap { i =>
        val (stmt, want) = cases(i % cases.size)
        val (text, lits) = splice(stmt, rnd)
        val got = try Router.route(spark, text) catch { case e: Exception => e.toString }
        val stmt0 = Rewrites.applyAll(spark, Rewrites.toStmt0, SqlText.stripComments(text))
        val rewritten = Rewrites.applyAll(spark, Rewrites.toStmt, stmt0)
        (if (got == want) Nil else Seq(s"route $got (want $want): $text")) ++
          lits.filterNot(l => stmt0.contains(l) && rewritten.contains(l))
            .map(l => s"literal $l lost: $text => $rewritten")
      }
      assert(wrong.isEmpty, s"${wrong.size} of $n cases:\n" + wrong.distinct.take(40).mkString("\n"))
    }
  }

  test("stripComments drops comments and keeps quoted text byte for byte") {
    val cases = Seq(
      "SELECT '--x' AS a, \"y--\" -- c\nFROM t -- 'q\n" -> "SELECT '--x' AS a, \"y--\" \nFROM t",
      "SELECT 'it''s -- no', `a--b` FROM t WHERE x = 'a\\' -- b' -- real" ->
        "SELECT 'it''s -- no', `a--b` FROM t WHERE x = 'a\\' -- b'",
      "-- lead\n-- lead2\nSELECT 1" -> "SELECT 1",
      "SELECT 'a$1\\\\' -- c" -> "SELECT 'a$1\\\\'")
    cases.foreach { case (in, want) => assert(SqlText.stripComments(in) == want, in) }
    // one long literal: the scan must not recurse per character
    val long = "SELECT '" + "x" * 200000 + "'"
    assert(SqlText.stripComments(long + " -- tail") == long)
  }
}
