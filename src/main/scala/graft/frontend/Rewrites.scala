package graft
package frontend

import org.apache.spark.sql.SparkSession
import SqlText._

/** The front end's text rewrites: HiveQL shapes that Spark's parser
  * rejects, or reads with other semantics, rewritten onto Spark SQL before
  * a handler sees the statement. They run in two declared stages (see
  * [[Router]]): [[toStmt0]] yields the text the guard pass and the early
  * handlers match, [[toStmt]] the text every later handler matches. Each
  * entry is a cheap trigger plus the rewrite; a trigger that does not fire
  * leaves the text untouched. A few rewrites read the catalog (bucket
  * columns, view output names) and matchpath registers a temp view.
  */
private[graft] object Rewrites {

  final case class Rewrite(name: String, applies: String => Boolean,
      run: (SparkSession, String) => String)

  private def always(name: String)(f: String => String) =
    Rewrite(name, _ => true, (_, s) => f(s))

  val toStmt0: Seq[Rewrite] = Seq(
    always("unset-dedupe")(dedupeUnsetKeys),
    Rewrite("cascade-restrict",
      s => alterWordRe.findFirstIn(s).isDefined && addWordRe.findFirstIn(s).isDefined,
      (_, s) => cascadeRe.replaceAllIn(s, m => m.group(2))),
    always("for-all-columns")(s =>
      forColumnsRe.replaceAllIn(s, m => "FOR ALL COLUMNS" + m.group(2))))

  /** The query-shape rewrites, also replayed by the authorization walk on
    * queries the analyzer rejects as written. */
  val queryShapes: Seq[Rewrite] = Seq(
    Rewrite("ptf-noop", ptfNoopRe.findFirstIn(_).isDefined,
      (_, s) => rewritePtfNoop(s)),
    Rewrite("matchpath", matchPathCallRe.findFirstIn(_).isDefined, rewriteMatchPath),
    Rewrite("window-dialect", { s =>
      val l = s.toLowerCase
      l.contains("over") && (l.contains("distribute by") ||
        l.contains("sort by") || l.contains("cluster by"))
    }, (_, s) => rewriteWindowDialect(s)),
    Rewrite("transform-delims", _.toUpperCase.contains("USING"),
      (_, s) => rewriteTransformDelims(s)),
    Rewrite("bucket-sample", _.toUpperCase.contains("TABLESAMPLE"),
      (spark, s) => rewriteBucketSampleNoOn(spark, rewriteBucketSample(s))),
    Rewrite("virtual-columns", _.contains("__"), (_, s) => rewriteVirtualColumns(s)))

  val toStmt: Seq[Rewrite] = Seq(
    always("temporary-table") {
      case tempTableRe(pre, rest) => pre + rest
      case s => s
    },
    Rewrite("partitioned-view", _ => true, partitionedView)) ++
    queryShapes ++ Seq(
    Rewrite("sorted-by-direction", _.toUpperCase.contains("SORTED BY"),
      (_, s) => dropSortDirections(s)),
    always("hive-create")(rewriteHiveCreate),
    Rewrite("insert-directory", { s =>
      val u = s.toUpperCase
      u.contains("OVERWRITE") && (u.contains("ROW FORMAT") ||
        u.contains("STORED AS") || u.contains("DIRECTORY"))
    }, (_, s) => rewriteHiveInsertDir(s)))

  def applyAll(spark: SparkSession, rewrites: Seq[Rewrite], stmt: String): String =
    rewrites.foldLeft(stmt)((s, r) => if (r.applies(s)) r.run(spark, s) else s)

  // UNSET TBLPROPERTIES list, for the duplicate-key dedupe below
  private val unsetTblPropsRe =
    """(?is)(UNSET\s+TBLPROPERTIES\s*(?:IF\s+EXISTS\s*)?\()([^)]*)(\))""".r

  /** Hive tolerates the same key repeated in an UNSET TBLPROPERTIES list
    * (unset_table_view_property.q unsets 'c','c','c'); Spark's parser
    * refuses duplicates — dedupe the quoted keys in place. */
  private def dedupeUnsetKeys(s: String): String =
    unsetTblPropsRe.replaceAllIn(s, m => {
      val seen = scala.collection.mutable.LinkedHashSet[String]()
      """'[^']*'|"[^"]*"""".r.findAllIn(m.group(2)).foreach(k => seen.add(k): Unit)
      java.util.regex.Matcher.quoteReplacement(
        m.group(1) + seen.mkString(", ") + m.group(3))
    })

  // ALTER ... ADD/REPLACE/CHANGE COLUMNS ... CASCADE|RESTRICT
  // (alter_table_cascade.q): the engine's catalog schema governs every
  // partition's read already — CASCADE semantics are the default and
  // RESTRICT's partition-pinned schemas don't exist here, so the
  // keyword is surface only. Spark's parser rejects it; strip it.
  private val alterWordRe = "(?is)\\bALTER\\s".r
  private val addWordRe = "(?is)\\b(ADD|REPLACE|CHANGE)\\s".r
  private val cascadeRe = "(?is)\\s+(CASCADE|RESTRICT)\\s*(;?\\s*)$".r
  // ANALYZE ... COMPUTE STATISTICS FOR COLUMNS with NO column list =
  // all columns in Hive (columnstats_tbllvl.q); Spark requires the
  // ALL keyword
  private val forColumnsRe = "(?is)(FOR\\s+COLUMNS)\\s*(;?\\s*)$".r

  // CREATE TEMPORARY TABLE — session-scoped real tables
  // (SessionHiveMetaStoreClient); Spark's parser rejects the TEMPORARY
  // keyword on tables, so it strips to a plain CREATE TABLE — and the
  // stripped name is REGISTERED for session-end auto-drop (a listener on
  // the session's context drops every registered temp table when the
  // context stops, completing the Hive session-scope parity).
  private val tempTableRe =
    """(?is)(\s*CREATE\s+)TEMPORARY\s+(TABLE\b.*)""".r

  private val viewPartRe =
    ("""(?is)(\s*CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?""" +
      """[\w.`]+\s*(?:\([^)]*\))?\s*)PARTITIONED\s+ON\s*\(([^)]*)\)\s*(AS\s+.*)""").r

  /** Partitioned views (create_view_partitioned.q): PARTITIONED ON is Hive
    * metadata-only (no read-path effect; DDLSemanticAnalyzer
    * validateCreateView) — strip the clause, keep the view, and record the
    * declared columns as a table property so ALTER VIEW ... ADD PARTITION
    * can validate its spec against them (alter_view_failure5/7). */
  private def partitionedView(spark: SparkSession, stmt: String): String =
    stmt match {
      case viewPartRe(pre, cols, rest) =>
      val names = cols.split(",").map(_.trim.split("\\s+")(0)).filter(_.nonEmpty)
      // Hive validates that PARTITIONED ON names the view's RIGHTMOST
      // output columns (DDLSemanticAnalyzer validateCreateView, error
      // 10093; create_view_failure6.q) — checkable when the output
      // names come from the SELECT itself (no explicit column list)
      if (!pre.contains("(")) {
        val sel = rest.replaceFirst("(?is)^AS\\s+", "")
        val out =
          try spark.sql(sel).schema.fieldNames.toSeq
          catch { case _: Exception => Nil }
        if (out.nonEmpty) {
          val tail = out.takeRight(names.length).map(_.toLowerCase)
          if (tail != names.toSeq.map(_.toLowerCase))
            sys.error("Rightmost columns in view output do not match " +
              "PARTITIONED ON clause")
        }
      }
      pre + s" TBLPROPERTIES ('graft.view.partcols'='${names.mkString(",")}') " + rest
      case s => s
    }

  // Hive accepts per-column sort DIRECTION in bucket DDL — `SORTED BY
  // (key DESC)` (enforce_order.q); Spark's parser requires ASC. The
  // direction only shapes within-bucket file order (no read-path
  // semantics Spark consumes — SMB planning keys off the column list),
  // so normalize to ASC rather than reject the statement.
  private val sortDirRe = "(?i)(SORTED\\s+BY\\s*\\([^)]*?)\\s+(?:ASC|DESC)\\b".r
  private def dropSortDirections(stmt: String): String = {
    var d = stmt; var prev = "" // one direction per pass; fixpoint for multi-column lists
    while (d != prev) {
      prev = d
      d = sortDirRe.replaceAllIn(d,
        m => java.util.regex.Matcher.quoteReplacement(m.group(1)))
    }
    d
  }

  // `tab TABLESAMPLE(BUCKET x OUT OF y ON cols) [alias]` — the reference's
  // deterministic bucket-sampling text form (parse/FromClauseParser.g:154-166),
  // which Spark's parser rejects (it only accepts the ON-less form, as a
  // RANDOM fraction — different semantics).
  private val bucketSampleRe =
    ("""(?is)([\w.]+)\s+TABLESAMPLE\s*\(\s*BUCKET\s+(\d+)\s+OUT\s+OF\s+(\d+)""" +
      """\s+ON\s+((?:[^()]+|\([^()]*\))+)\)(\s+(?:AS\s+)?(\w+))?""").r // ON may hold calls like rand()
  private val sqlKeywords = Set("WHERE", "GROUP", "HAVING", "ORDER", "SORT",
    "DISTRIBUTE", "CLUSTER", "LIMIT", "JOIN", "ON", "LEFT", "RIGHT", "FULL",
    "INNER", "CROSS", "UNION", "INTERSECT", "EXCEPT", "SELECT", "FROM")

  /** Rewrite every `TABLESAMPLE(BUCKET x OUT OF y ON cols)` in a statement
    * into the deterministic bucket-membership filter
    * `pmod(hash_hive(cols), y) = x-1` as an inline subquery (aliased back to
    * the table name so qualified column references keep resolving).
    *
    * Bucket function parity: Hive buckets by `ObjectInspectorUtils.hashCode`
    * — for integral columns the hash IS the value, multi-column combines as
    * `31*h + next` — so the filter reproduces Hive's row-to-bucket
    * assignment for integer sample columns (the only type the reference's
    * own bucketed fixtures use; `ON rand()` rewrites to a fraction filter).
    * At scale the rewrite keeps sampling a pure scan-side filter: no
    * shuffle, pushdown-eligible, and on a table bucketed by the same
    * columns it reads whole buckets.
    */
  private[graft] def rewriteBucketSample(stmt: String): String =
    bucketSampleRe.replaceAllIn(stmt, m => {
      val (tab, x, y) = (m.group(1), m.group(2).toInt, m.group(3).toInt)
      val onExpr = m.group(4).trim
      require(x >= 1 && x <= y, s"BUCKET $x OUT OF $y: x must be in [1, y]")
      val pred =
        if (onExpr.equalsIgnoreCase("rand()"))
          s"rand() * $y < 1" // random bucket: fraction 1/y, like the reference
        else bucketPred(splitAssignments(onExpr), x, y)
      sampled(tab, pred, m.group(5), m.group(6))
    })

  /** Hive buckets by (32-bit ObjectInspectorUtils.hashCode & Int.MaxValue)
    * % y; the registered `hash` IS that exact chain (HiveHash,
    * functions.FunctionPack), so use it instead of an unbounded BIGINT 31*a+b —
    * which diverges on negative hashes (& masks the sign bit, pmod does
    * not) and on 32-bit overflow. */
  private def bucketPred(cols: Seq[String], x: Int, y: Int): String =
    s"((hash(${cols.mkString(", ")}) & 2147483647) % $y) = ${x - 1}"

  /** The sampled table as an inline subquery aliased back to the sample's
    * alias (or the table name); a trailing non-alias word (e.g. WHERE)
    * survives the rewrite. */
  private def sampled(tab: String, pred: String, aliasClause: String,
      aliasWord: String): String = {
    val keepAlias = Option(aliasWord).filter(a => !sqlKeywords.contains(a.toUpperCase))
    val tail = if (keepAlias.isEmpty) Option(aliasClause).getOrElse("") else ""
    java.util.regex.Matcher.quoteReplacement(
      s"(SELECT * FROM $tab WHERE $pred) AS ${keepAlias.getOrElse(tab.split('.').last)}$tail")
  }

  // ON-less `tab TABLESAMPLE(BUCKET x OUT OF y)` — the reference resolves
  // the sample columns from the table's CLUSTERED BY spec
  // (FromClauseParser.g + TableSampleDesc: "if columns are omitted, the
  // bucketing columns are used"). Spark PARSES this form but as a RANDOM
  // row fraction x/y — a silent semantics change for a migrating script on
  // a bucketed table. Resolve the bucket columns from the catalog and
  // rewrite to the same deterministic pmod filter as the ON form; a
  // non-bucketed table falls through to Spark's native fraction sample.
  private val bucketSampleNoOnRe =
    """(?is)([\w.]+)\s+TABLESAMPLE\s*\(\s*BUCKET\s+(\d+)\s+OUT\s+OF\s+(\d+)\s*\)(\s+(?:AS\s+)?(\w+))?""".r

  private[graft] def rewriteBucketSampleNoOn(spark: SparkSession, stmt: String): String =
    bucketSampleNoOnRe.replaceAllIn(stmt, m => {
      val (tab, x, y) = (m.group(1), m.group(2).toInt, m.group(3).toInt)
      val bucketCols: Seq[String] = TableDesc.find(spark, tab)
        .flatMap(_.meta.bucketSpec).map(_.bucketColumnNames).getOrElse(Nil)
      if (bucketCols.isEmpty) java.util.regex.Matcher.quoteReplacement(m.matched)
      else {
        require(x >= 1 && x <= y, s"BUCKET $x OUT OF $y: x must be in [1, y]")
        sampled(tab, bucketPred(bucketCols, x, y), m.group(4), m.group(5))
      }
    })

  // Hive test PTFs `noop`/`noopwithmap`/`noopstreaming`/
  // `noopwithmapstreaming` (reference ql/src/test/.../udf/ptf/Noop.java,
  // NoopWithMap.java — identity table functions whose PARTITION BY/ORDER
  // BY clause only forces a reshuffle+sort stage). `FROM noop(ON src
  // PARTITION BY p ORDER BY o)` has no Spark parse, so rewrite it to the
  // semantically identical `(SELECT * FROM src DISTRIBUTE BY p SORT BY o)`
  // — same partitioned-and-sorted physical shape, same rows.
  private val ptfNoopRe = """(?i)\bnoop(?:withmap)?(?:streaming)?\s*\(""".r

  private[graft] def rewritePtfNoop(stmt0: String): String = {
    var stmt = stmt0
    var m = ptfNoopRe.findFirstMatchIn(stmt)
    while (m.isDefined) {
      val open = m.get.end - 1 // index of '('
      var depth = 0; var i = open
      while (i < stmt.length && (depth != 0 || i == open)) {
        stmt.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ => ()
        }
        i += 1
      }
      require(depth == 0, s"unbalanced parens in PTF call: ${m.get.matched}")
      val body0 = stmt.substring(open + 1, i - 1).trim
      require(body0.toUpperCase.startsWith("ON"),
        s"PTF call without ON clause: $body0")
      val body = body0.substring(2).trim
      // source: `(subquery) [alias]` or `table [alias]`, then clauses
      val (src, rest) =
        if (body.startsWith("(")) {
          var d = 0; var j = 0
          while (j < body.length && (d != 0 || j == 0)) {
            body.charAt(j) match {
              case '(' => d += 1
              case ')' => d -= 1
              case _ => ()
            }
            j += 1
          }
          (body.substring(0, j), body.substring(j))
        } else {
          val j = body.indexWhere(c => !(c.isLetterOrDigit || c == '_' || c == '.'))
          if (j < 0) (body, "") else (body.substring(0, j), body.substring(j))
        }
      // optional alias word before PARTITION/ORDER/DISTRIBUTE/SORT
      val aliasRe = """(?is)^\s*(\w+)\b(.*)""".r
      val clauseWords = Set("PARTITION", "ORDER", "DISTRIBUTE", "SORT")
      val (srcAlias, clauses0) = rest match {
        case aliasRe(w, tail) if !clauseWords.contains(w.toUpperCase) =>
          (" " + w, tail)
        case other => ("", other)
      }
      val clauses = clauses0.trim
        .replaceAll("(?i)\\bPARTITION\\s+BY\\b", "DISTRIBUTE BY")
        .replaceAll("(?i)\\bORDER\\s+BY\\b", "SORT BY")
      val defaultAlias = if (srcAlias.nonEmpty) srcAlias.trim
        else if (!src.startsWith("(")) src.split('.').last
        else "ptf"
      // trailing alias after the PTF call (`from noop(...) abc`)?
      val tailAliasRe = """(?is)^\s+(?:AS\s+)?(\w+)\b""".r
      val afterCall = stmt.substring(i)
      val keepTail = tailAliasRe.findFirstMatchIn(afterCall)
        .map(_.group(1)).filter(a => !sqlKeywords.contains(a.toUpperCase))
      val outerAlias = keepTail.getOrElse(defaultAlias)
      val tailStart = keepTail match {
        case Some(_) => i + tailAliasRe.findFirstMatchIn(afterCall).get.end
        case None => i
      }
      val inner = s"(SELECT * FROM $src$srcAlias" +
        (if (clauses.nonEmpty) s" $clauses" else "") + s") $outerAlias"
      stmt = stmt.substring(0, m.get.start) + inner + stmt.substring(tailStart)
      m = ptfNoopRe.findFirstMatchIn(stmt)
    }
    stmt
  }

  // `matchpath(ON src DISTRIBUTE BY p SORT BY s arg1('PAT'),
  // arg2('SYM'), arg3(pred)[, ...], argN('result list'))` — the
  // reference's MatchPath PTF invocation text (ptf_matchpath.q;
  // udf/ptf/MatchPath.java reads the args POSITIONALLY: pattern, then
  // alternating symbol-name/defining-predicate pairs, last = result
  // expressions). The rewrite computes the PTF via
  // operators.MatchPath.matchPathRows + selectExpr(result list),
  // registers the result as a temp view, and splices the view name into
  // the statement.
  private val matchPathCallRe = """(?i)\bmatchpath\s*\(""".r
  private val mpViews = new java.util.concurrent.atomic.AtomicInteger(0)

  private def closeParen(s: String, open: Int): Int = {
    var depth = 0; var i = open; var inQ = false
    while (i < s.length && (depth != 0 || i == open || inQ)) {
      s.charAt(i) match {
        case '\'' => inQ = !inQ
        case '(' if !inQ => depth += 1
        case ')' if !inQ => depth -= 1
        case _ => ()
      }
      i += 1
    }
    require(depth == 0 && !inQ, s"unbalanced parens in: ${s.substring(open).take(80)}")
    i
  }

  private def stripQuotes(s: String): String = {
    val t = s.trim
    if ((t.startsWith("'") && t.endsWith("'")) ||
        (t.startsWith("\"") && t.endsWith("\"")))
      t.substring(1, t.length - 1)
    else t
  }

  private[graft] def rewriteMatchPath(spark: SparkSession, stmt0: String): String = {
    import org.apache.spark.sql.functions.expr
    var stmt = stmt0
    var m = matchPathCallRe.findFirstMatchIn(stmt)
    while (m.isDefined) {
      val open = m.get.end - 1
      val close = closeParen(stmt, open)
      val body0 = stmt.substring(open + 1, close - 1).trim
      require(body0.toUpperCase.startsWith("ON"),
        s"matchpath without ON clause: ${body0.take(60)}")
      val body = body0.substring(2).trim
      val (src, rest) =
        if (body.startsWith("(")) {
          val j = closeParen(body, 0); (body.substring(0, j), body.substring(j))
        } else {
          val j = body.indexWhere(c => !(c.isLetterOrDigit || c == '_' || c == '.'))
          if (j < 0) (body, "") else (body.substring(0, j), body.substring(j))
        }
      val clauseRe =
        ("""(?is)^\s*(?:DISTRIBUTE|PARTITION)\s+BY\s+(.*?)""" +
          """\s+(?:SORT|ORDER)\s+BY\s+(.*?)\s*(\w+\s*\(.*)$""").r
      val (distTxt, sortTxt, argsTxt) = rest.trim match {
        case clauseRe(d, s, a) => (d, s, a)
        case other => throw new IllegalArgumentException(
          s"matchpath needs DISTRIBUTE BY ... SORT BY ... args, got: ${other.take(80)}")
      }
      // positional arg segments: name( ... ) separated by optional commas
      val args = scala.collection.mutable.ArrayBuffer.empty[String]
      var p = 0
      val argOpenRe = """(?s)\s*,?\s*\w+\s*\(""".r
      while (p < argsTxt.length) {
        argOpenRe.findPrefixMatchOf(argsTxt.substring(p)) match {
          case Some(am) =>
            val aOpen = p + am.end - 1
            val aClose = closeParen(argsTxt, aOpen)
            args += argsTxt.substring(aOpen + 1, aClose - 1).trim
            p = aClose
          case None => p = argsTxt.length // trailing whitespace/newlines
        }
      }
      require(args.size >= 4 && args.size % 2 == 0,
        s"matchpath expects pattern, (symbol, predicate) pairs and a result list; got ${args.size} args")
      val pattern = stripQuotes(args.head)
      val resultList = stripQuotes(args.last)
      val symbols = args.slice(1, args.size - 1).grouped(2).map { pair =>
        (stripQuotes(pair(0)), expr(pair(1)))
      }.toSeq
      val srcDf = spark.sql(s"SELECT * FROM $src")
      val partCols = splitAssignments(distTxt).map(c => expr(c.trim))
      val sortCols = splitAssignments(sortTxt).map { c =>
        val t = c.trim; val up = t.toUpperCase
        if (up.endsWith(" DESC")) expr(t.dropRight(5)).desc
        else if (up.endsWith(" ASC")) expr(t.dropRight(4)).asc
        else expr(t)
      }
      val out = graft.operators.MatchPath
        .matchPathRows(spark, srcDf, partCols, sortCols, pattern, symbols)
        .selectExpr(splitAssignments(resultList).map(_.trim): _*)
      val view = s"graft_matchpath_${mpViews.incrementAndGet()}"
      out.createOrReplaceTempView(view)
      stmt = stmt.substring(0, m.get.start) + view + stmt.substring(close)
      m = matchPathCallRe.findFirstMatchIn(stmt)
    }
    stmt
  }

  /** Hive virtual columns (reference
    * ql/src/java/org/apache/hadoop/hive/ql/metadata/VirtualColumn.java)
    * mapped onto Spark equivalents as a statement-text rewrite:
    * INPUT__FILE__NAME → input_file_name(), BLOCK__OFFSET__INSIDE__FILE →
    * input_file_block_start() (block granularity — the reference also
    * reports block, not row, offsets for columnar formats; unlike
    * _metadata.file_block_start this resolves through temp views),
    * GROUPING__ID → grouping_id() (bit order matches the reference's
    * post-HIVE-16102 standard semantics: leftmost group-by column is the
    * most significant bit). ROW__ID is deliberately absent: the CoW DML
    * engine (operators/Acid.scala) has no ACID row ids by design.
    *
    * A table-alias qualifier (`t3.BLOCK__OFFSET__INSIDE__FILE`, the shape
    * join_vc.q exercises) keeps Hive's per-TABLE semantics: the function
    * replacements are row-scoped and Spark rejects them outright in a
    * multi-source query (MULTI_SOURCES_UNSUPPORTED_FOR_EXPRESSION), so a
    * qualified vcol is instead pushed into the qualifying table's own FROM
    * entry — `FROM tbl t3` becomes a subquery projecting the vcol under an
    * internal name, and `t3.VCOL` rewrites to that column. This is exactly
    * where Hive computes the value (the table's TableScanOperator row
    * context), so the vcol is well-defined on every side of a join.
    */
  private[graft] def rewriteVirtualColumns(stmt: String): String = {
    val scanVcols = Map(
      "INPUT__FILE__NAME" -> ("input_file_name()", "graft_vc_file"),
      "BLOCK__OFFSET__INSIDE__FILE" -> ("input_file_block_start()", "graft_vc_off"))
    val qualRe = """\b([A-Za-z_][A-Za-z0-9_]*)\.(INPUT__FILE__NAME|BLOCK__OFFSET__INSIDE__FILE)\b""".r
    var s = stmt
    // alias-qualified scan vcols: rewrite the alias's FROM entry once per
    // alias, then repoint every qualified use at the projected column
    val byAlias = qualRe.findAllMatchIn(s)
      .map(m => (m.group(1), m.group(2))).toSeq.distinct.groupBy(_._1)
    for ((alias, uses) <- byAlias) {
      val proj = uses.map { case (_, v) =>
        val (fn, name) = scanVcols(v); s"$fn AS $name"
      }.mkString(", ")
      val fromRe = ("(?i)\\b(FROM|JOIN|,)(\\s+)([A-Za-z_][\\w.]*)\\s+(?:AS\\s+)?" +
        java.util.regex.Pattern.quote(alias) + "\\b").r
      fromRe.findFirstMatchIn(s) match {
        case Some(m) =>
          s = s.substring(0, m.start) +
            s"${m.group(1)}${m.group(2)}(SELECT *, $proj FROM ${m.group(3)}) $alias" +
            s.substring(m.end)
          for ((_, v) <- uses)
            s = s.replaceAll("\\b" + alias + "\\." + v + "\\b",
              alias + "." + scanVcols(v)._2)
        case None => // alias not a plain table ref — fall through to bare form
      }
    }
    s.replaceAll("\\b(?:[A-Za-z_][A-Za-z0-9_]*\\.)?INPUT__FILE__NAME\\b",
        "input_file_name()")
      .replaceAll("\\b(?:[A-Za-z_][A-Za-z0-9_]*\\.)?BLOCK__OFFSET__INSIDE__FILE\\b",
        "input_file_block_start()")
      .replaceAll("\\b(?:[A-Za-z_][A-Za-z0-9_]*\\.)?GROUPING__ID\\b",
        "grouping_id()")
  }

  /** Decode a Hive delimiter literal: `\t`/`\n`/`\r`, `\\` (ESCAPED BY
    * '\\' means ONE backslash — create_escape.q), octal `\001`, unicode
    * `\uXXXX` (HIVE-4618, unicode_notation.q), else the raw text. */
  private def delimChar(s: String): String = s match {
    case "\\t" => "\t"
    case "\\n" => "\n"
    case "\\r" => "\r"
    case "\\\\" => "\\"
    case uni if uni.matches("""\\u[0-9a-fA-F]{4}""") =>
      Integer.parseInt(uni.substring(2), 16).toChar.toString
    case oct if oct.matches("""\\[0-7]{1,3}""") =>
      Integer.parseInt(oct.substring(1), 8).toChar.toString
    case other => other
  }

  private val storedAsRe = """(?is)\s*STORED\s+AS\s+(\w+)\s*""".r
  // STORED AS INPUTFORMAT 'cls' OUTPUTFORMAT 'cls' (HiveParser
  // tableFileFormat's explicit-class branch, custom_input_output_format.q)
  // — the standard Hive IO class pairs map onto their format keyword;
  // unknown classes leave the statement untouched (loud native error
  // beats silently picking a wrong format)
  private val storedAsIORe =
    """(?is)\s*STORED\s+AS\s+INPUTFORMAT\s+'([^']+)'\s+OUTPUTFORMAT\s+'([^']+)'\s*""".r
  private def mapStoredAsIO(s: String): String =
    storedAsIORe.replaceAllIn(s, m => {
      // the pair must MATCH: a mixed in/out pair (reads seq, writes text)
      // has no single-format equivalent — leave it for the loud native
      // error rather than silently writing the wrong format
      val kw = (m.group(1).split('.').last, m.group(2).split('.').last) match {
        case ("SequenceFileInputFormat", "HiveSequenceFileOutputFormat") =>
          Some("SEQUENCEFILE")
        case ("TextInputFormat", "HiveIgnoreKeyTextOutputFormat") =>
          Some("TEXTFILE")
        case ("OrcInputFormat", "OrcOutputFormat") => Some("ORC")
        case ("MapredParquetInputFormat", "MapredParquetOutputFormat") =>
          Some("PARQUET")
        case ("AvroContainerInputFormat", "AvroContainerOutputFormat") =>
          Some("AVRO")
        case ("RCFileInputFormat", "RCFileOutputFormat") => Some("RCFILE")
        case _ => None
      }
      scala.util.matching.Regex.quoteReplacement(
        kw.map(k => s" STORED AS $k ").getOrElse(m.matched))
    })
  // SKEWED BY (c1, c2) ON ((v1, v2), (v3, v4)) [STORED AS DIRECTORIES] —
  // the ON list holds bare values or parenthesized tuples (one level)
  private val skewedByRe =
    ("""(?is)\s*SKEWED\s+BY\s*\([^)]*\)\s*ON\s*""" +
      """\((?:[^()]|\([^()]*\))*\)(?:\s+STORED\s+AS\s+DIRECTORIES)?\s*""").r
  private val rowFormatRe =
    """(?is)\s*ROW\s+FORMAT\s+DELIMITED((?:\s+(?:FIELDS\s+TERMINATED\s+BY|ESCAPED\s+BY|COLLECTION\s+ITEMS\s+TERMINATED\s+BY|MAP\s+KEYS\s+TERMINATED\s+BY|LINES\s+TERMINATED\s+BY|NULL\s+DEFINED\s+AS)\s+'[^']*')*)\s*""".r
  private val rowFormatOptRe =
    """(?is)(FIELDS\s+TERMINATED\s+BY|ESCAPED\s+BY|NULL\s+DEFINED\s+AS|COLLECTION\s+ITEMS\s+TERMINATED\s+BY|MAP\s+KEYS\s+TERMINATED\s+BY|LINES\s+TERMINATED\s+BY)\s+'([^']*)'""".r
  // ROW FORMAT SERDE 'class' [WITH SERDEPROPERTIES ('k'='v', ...)] — the
  // named-serde form; known classes map onto datasource providers
  private val rowFormatSerdeRe =
    """(?is)\s*ROW\s+FORMAT\s+SERDE\s+'([^']+)'(\s+WITH\s+SERDEPROPERTIES\s*\(([^)]*)\))?\s*""".r
  private val serdePropRe = """'([^']*)'\s*=\s*'([^']*)'""".r

  /** Hive's script-transform default IO contract is TAB-delimited on both
    * stdin and stdout (exec/TextRecordReader/Writer via LazySimpleSerDe
    * with field.delim '\t'); Spark's no-serde transform defaults to
    * \\u0001, which silently breaks field-positional scripts (`cut -f1`,
    * `uniq -c | sed ...`). When a TRANSFORM(...) / MAP / REDUCE clause
    * carries no explicit ROW FORMAT, inject `ROW FORMAT DELIMITED FIELDS
    * TERMINATED BY '\t'` on the missing side(s) to restore the Hive
    * default. Quote-aware; the higher-order `transform(arr, x -> ...)`
    * and the `map(...)` constructor are skipped (no USING follows them).
    */
  private[graft] def rewriteTransformDelims(sql: String): String = {
    val clause = " ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\t' "
    def isWordChar(c: Char) = c.isLetterOrDigit || c == '_'
    // next non-ws index at/after i
    def skipWs(s: String, i0: Int): Int = {
      var i = i0; while (i < s.length && s.charAt(i).isWhitespace) i += 1; i
    }
    // upper-case word starting at i (empty if none)
    def wordAt(s: String, i: Int): String = {
      var j = i; while (j < s.length && isWordChar(s.charAt(j))) j += 1
      s.substring(i, j).toUpperCase
    }
    // walk a balanced paren region starting at '(' (quote-aware); returns
    // index just past the close
    def walkParens(s: String, open: Int): Int = {
      var depth = 0; var i = open; var q: Char = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (q != 0) { if (c == q) q = 0 }
        else c match {
          case '\'' | '"' => q = c
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) return i + 1
          case _ => ()
        }
        i += 1
      }
      s.length
    }
    // walk a quoted string starting at the quote char
    def walkString(s: String, open: Int): Int = {
      val q = s.charAt(open); var i = open + 1
      while (i < s.length && s.charAt(i) != q) i += 1
      math.min(i + 1, s.length)
    }
    val sb = new StringBuilder(sql)
    var i = 0
    var quote: Char = 0
    while (i < sb.length) {
      val c = sb.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0; i += 1 }
      else if (c == '\'' || c == '"') { quote = c; i += 1 }
      else if (isWordChar(c) && (i == 0 || (!isWordChar(sb.charAt(i - 1)) &&
               sb.charAt(i - 1) != '.'))) {
        val w = wordAt(sb.toString, i)
        val kwEnd = i + w.length
        if (w == "TRANSFORM" || w == "MAP" || w == "REDUCE") {
          val s = sb.toString
          // argument region: TRANSFORM has parens; MAP/REDUCE a bare list
          // (a '(' directly after MAP is the map() constructor — skip)
          val afterKw = skipWs(s, kwEnd)
          val argsEnd =
            if (afterKw < s.length && s.charAt(afterKw) == '(')
              if (w == "TRANSFORM") walkParens(s, afterKw) else -1
            else if (w == "TRANSFORM") -1
            else afterKw // MAP/REDUCE: insertion points anchor on USING
          if (argsEnd >= 0) {
            // find top-level USING ahead (script form); bail at ';'
            var j = argsEnd; var usingAt = -1; var q2: Char = 0
            while (j < s.length && usingAt < 0) {
              val ch = s.charAt(j)
              if (q2 != 0) { if (ch == q2) q2 = 0; j += 1 }
              else if (ch == '\'' || ch == '"') { q2 = ch; j += 1 }
              else if (ch == '(') j = walkParens(s, j)
              else if (isWordChar(ch) && !isWordChar(s.charAt(j - 1))) {
                val w2 = wordAt(s, j)
                if (w2 == "USING") usingAt = j
                // a new query block before USING → not a script transform
                else if (w2 == "SELECT" || w2 == "FROM" || w2 == "WHERE") j = s.length
                else j += w2.length.max(1)
              } else j += 1
            }
            if (usingAt >= 0) {
              val between = s.substring(argsEnd, usingAt)
              val hasInFormat = between.matches("(?is).*\\bROW\\s+FORMAT\\b.*")
              // command string after USING
              val cmdStart = skipWs(s, usingAt + "USING".length)
              if (cmdStart < s.length &&
                  (s.charAt(cmdStart) == '\'' || s.charAt(cmdStart) == '"')) {
                val cmdEnd = walkString(s, cmdStart)
                // optional AS list
                var asEnd = cmdEnd
                val afterCmd = skipWs(s, cmdEnd)
                if (wordAt(s, afterCmd) == "AS") {
                  val afterAs = skipWs(s, afterCmd + 2)
                  if (afterAs < s.length && s.charAt(afterAs) == '(')
                    asEnd = walkParens(s, afterAs)
                  else {
                    // bare ident list: ident (, ident)*
                    var k = afterAs
                    var done = false
                    while (!done) {
                      var e = k
                      while (e < s.length && isWordChar(s.charAt(e))) e += 1
                      val nxt = skipWs(s, e)
                      if (nxt < s.length && s.charAt(nxt) == ',') k = skipWs(s, nxt + 1)
                      else { asEnd = e; done = true }
                    }
                  }
                }
                val tail = wordAt(s, skipWs(s, asEnd))
                val hasOutFormat = tail == "ROW" || tail == "RECORDREADER"
                // apply edits back-to-front so offsets stay valid
                if (!hasOutFormat) sb.insert(asEnd, clause)
                if (!hasInFormat) sb.insert(usingAt, clause)
                i = asEnd +
                  (if (!hasOutFormat) clause.length else 0) +
                  (if (!hasInFormat) clause.length else 0)
              } else i = kwEnd
            } else i = kwEnd
          } else i = kwEnd
        } else i = kwEnd
      } else i += 1
    }
    sb.toString
  }

  /** Hive windowing-spec dialect: `over(distribute by X sort by Y)` and
    * `window w as (cluster by X)` (windowing.q throughout; PTFTranslator
    * maps DISTRIBUTE/SORT/CLUSTER inside a window spec onto
    * PARTITION/ORDER). Spark's parser accepts only the ANSI spelling, so
    * the tokens are rewritten INSIDE window-spec parens only — query-tail
    * DISTRIBUTE/SORT/CLUSTER BY (a different operator: shuffle+local
    * sort) pass through untouched. A paren region qualifies when it
    * directly follows the OVER keyword, or when it opens with a
    * partition-ish token (a named `WINDOW w AS (...)` spec — no other
    * SQL paren opens with DISTRIBUTE/SORT/CLUSTER/PARTITION BY).
    */
  private[graft] def rewriteWindowDialect(sql: String): String = {
    val specStart =
      """(?is)\s*(distribute|cluster|sort|partition|order)\s+by\b.*""".r
    def fix(inner: String): String = inner
      .replaceAll("(?i)\\bdistribute\\s+by\\b", "partition by")
      .replaceAll("(?i)\\bcluster\\s+by\\b", "partition by")
      .replaceAll("(?i)\\bsort\\s+by\\b", "order by")
    val sb = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c == '(') {
        // the word before the paren, for the OVER( test
        var k = i - 1
        while (k >= 0 && sql.charAt(k).isWhitespace) k -= 1
        val we = k + 1
        while (k >= 0 && (sql.charAt(k).isLetterOrDigit || sql.charAt(k) == '_')) k -= 1
        val prevWord = sql.substring(k + 1, we).toLowerCase
        // matching close paren, quote-aware
        var depth = 0; var j = i; var inStr: Char = 0
        while (j < sql.length && (depth != 0 || j == i)) {
          val ch = sql.charAt(j)
          if (inStr != 0) { if (ch == inStr) inStr = 0 }
          else ch match {
            case '\'' | '"' => inStr = ch
            case '(' => depth += 1
            case ')' => depth -= 1
            case _ => ()
          }
          j += 1
        }
        val inner = sql.substring(i + 1, j - 1)
        if (prevWord == "over" || specStart.pattern.matcher(inner).matches()) {
          sb.append('(').append(fix(inner)).append(')')
          i = j
        } else { sb.append(c); i += 1 } // keep scanning inside
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** `UNIONTYPE<T0, T1, ...>` column DDL (HiveParser.g:2050,
    * serde UnionTypeInfo) → the engine's documented union shim shape
    * (functions/UnionTypeShim.scala): `STRUCT<tag:INT, field0:T0, ...>`
    * with exactly the tag'th field non-null. Bracket-aware — member
    * types may nest generics (`UNIONTYPE<INT, MAP<STRING,INT>>`) and
    * unions may nest unions.
    */
  private[graft] def rewriteUnionType(stmt: String): String = {
    val up = stmt.toUpperCase
    var idx = up.indexOf("UNIONTYPE")
    if (idx < 0) return stmt
    val sb = new StringBuilder
    var pos = 0
    while (idx >= 0) {
      val boundary = idx == 0 || !Character.isLetterOrDigit(stmt.charAt(idx - 1))
      val after = idx + "UNIONTYPE".length
      val lt = stmt.indexWhere(!_.isWhitespace, after)
      if (!boundary || lt < 0 || stmt.charAt(lt) != '<') {
        sb.append(stmt.substring(pos, after)); pos = after
      } else {
        sb.append(stmt.substring(pos, idx))
        var depth = 0; var i = lt
        while (i < stmt.length && (depth != 0 || i == lt)) {
          stmt.charAt(i) match {
            case '<' => depth += 1
            case '>' => depth -= 1
            case _ => ()
          }
          i += 1
        }
        val inner = stmt.substring(lt + 1, i - 1)
        // split member types on TOP-LEVEL commas only (generics + decimal
        // precision commas sit inside <> / () nesting)
        val parts = scala.collection.mutable.ArrayBuffer.empty[String]
        var d = 0; var start = 0
        inner.zipWithIndex.foreach { case (c, j) => c match {
          case '<' | '(' => d += 1
          case '>' | ')' => d -= 1
          case ',' if d == 0 => parts += inner.substring(start, j); start = j + 1
          case _ => ()
        }}
        parts += inner.substring(start)
        sb.append("STRUCT<tag: INT" + parts.zipWithIndex.map { case (t, j) =>
          s", field$j: ${t.trim}" }.mkString + ">")
        pos = i
      }
      idx = up.indexOf("UNIONTYPE", math.max(pos, after))
    }
    sb.append(stmt.substring(pos))
    val out = sb.toString
    if (out.toUpperCase.contains("UNIONTYPE<")) rewriteUnionType(out) else out
  }

  /** Rewrite legacy Hive `CREATE [EXTERNAL] TABLE ... [ROW FORMAT
    * DELIMITED ...] STORED AS <fmt>` DDL text into Spark datasource DDL
    * (`USING <provider> [OPTIONS (...)]`). This is the single most common
    * statement in a migrating user's scripts (every clientpositive .q
    * opens with one) and Spark without Hive catalog support rejects it
    * outright (NOT_SUPPORTED_COMMAND_WITHOUT_HIVE_SUPPORT).
    *
    * Mapping (reference: LazySimpleSerDe defaults, serde2/lazy/
    * LazySerDeParameters.java — field delim \001, NULL literal \N):
    * TEXTFILE (+ ROW FORMAT DELIMITED opts) → csv with the Hive
    * delimiters; PARQUET/ORC/AVRO/JSONFILE → the native providers.
    * EXTERNAL drops (a datasource table with LOCATION is external).
    * `USING` must sit right after the column list (Spark grammar), while
    * Hive's format clauses sit after PARTITIONED/CLUSTERED — so the
    * rewrite re-anchors the provider clause to the schema.
    */
  private[graft] def rewriteHiveCreate(stmt0x: String): String = {
    val stmt0 = if (stmt0x.toUpperCase.contains("UNIONTYPE"))
      rewriteUnionType(stmt0x) else stmt0x
    val up = stmt0.toUpperCase
    if (!up.contains("CREATE") || !up.contains("TABLE") ||
        !(up.contains("STORED AS") || up.contains("ROW FORMAT") ||
          up.contains("SKEWED BY"))) return stmt0
    if (up.contains("USING")) return stmt0 // already datasource DDL
    // SKEWED BY (cols) ON ((v),...) [STORED AS DIRECTORIES] — Hive's
    // list-bucketing hint (DDLSemanticAnalyzer analyzeSkewedValues).
    // Skew is a runtime concern here (AQE skew-join handles it), so the
    // clause strips. Must go first: its optional STORED AS DIRECTORIES
    // tail would otherwise be read as a STORED AS format.
    val noSkew = mapStoredAsIO(skewedByRe.replaceAllIn(stmt0, " "))
    // collect + strip the format clauses
    var fmt = "TEXTFILE"
    var opts = scala.collection.mutable.LinkedHashMap[String, String]()
    var s = storedAsRe.replaceAllIn(noSkew, m => { fmt = m.group(1).toUpperCase; " " })
    s = rowFormatRe.replaceAllIn(s, m => {
      rowFormatOptRe.findAllMatchIn(m.group(1)).foreach { o =>
        o.group(1).toUpperCase.replaceAll("\\s+", " ") match {
          case "FIELDS TERMINATED BY" => opts += "sep" -> delimChar(o.group(2))
          case "ESCAPED BY"           => opts += "escape" -> delimChar(o.group(2))
          case "NULL DEFINED AS"      => opts += "nullValue" -> o.group(2)
          case "COLLECTION ITEMS TERMINATED BY" =>
            opts += "collection.delim" -> delimChar(o.group(2))
          case "MAP KEYS TERMINATED BY" =>
            opts += "mapkey.delim" -> delimChar(o.group(2))
          case _                      => ()
        }
      }
      " "
    })
    // named serde classes (serde/ registry): the mappable ones reroute
    // the provider; anything else (RegexSerDe etc.) keeps the statement
    // untouched so the caller's recipe path can handle it
    var serdeClass: Option[String] = None
    val serdeProps = scala.collection.mutable.LinkedHashMap[String, String]()
    s = rowFormatSerdeRe.replaceAllIn(s, m => {
      serdeClass = Some(m.group(1))
      Option(m.group(3)).foreach { ps =>
        serdePropRe.findAllMatchIn(ps).foreach(p =>
          serdeProps += p.group(1) -> p.group(2))
      }
      " "
    })
    serdeClass.map(_.split('.').last) match {
      case None => ()
      case Some("LazySimpleSerDe") =>
        serdeProps.get("field.delim").foreach(v => opts += "sep" -> v)
        serdeProps.get("serialization.null.format")
          .foreach(v => opts += "nullValue" -> v)
        serdeProps.get("collection.delim")
          .foreach(v => opts += "collection.delim" -> v)
        serdeProps.get("mapkey.delim")
          .foreach(v => opts += "mapkey.delim" -> v)
      case Some("OpenCSVSerde") =>
        opts += "sep" -> serdeProps.getOrElse("separatorChar", ",")
        opts += "quote" -> serdeProps.getOrElse("quoteChar", "\"")
        opts += "escape" -> serdeProps.getOrElse("escapeChar", "\\")
        fmt = "OPENCSV"
      case Some("JsonSerDe") => fmt = "JSONFILE"
      // both columnar serdes route to graft-rcfile, which instantiates
      // the NAMED serde class for its cell codec (bare STORED AS RCFILE
      // defaults to LazyBinaryColumnarSerDe, the reference's
      // hive.default.rcfile.serde)
      case Some("ColumnarSerDe") =>
        fmt = "RCFILE"
        opts += "serde" -> "org.apache.hadoop.hive.serde2.columnar.ColumnarSerDe"
      case Some("LazyBinaryColumnarSerDe") => fmt = "RCFILE"
      // thrift-serialized sequencefiles (src_thrift / join_thrift.q):
      // the serde class IS the schema — serialization.class flows to the
      // DSv2 source, which derives columns from the thrift metadata
      case Some("ThriftDeserializer") =>
        serdeProps.get("serialization.class")
          .foreach(c => opts += "thrift.class" -> c)
        serdeProps.get("serialization.format")
          .foreach(f => opts += "thrift.protocol" -> f)
        fmt = "THRIFTSEQ"
      case Some(_) => return stmt0 // RegexSerDe & friends: no provider
    }
    s = s.replaceAll("(?i)\\bEXTERNAL\\s+", "")
    // serde-relevant table properties: Hive passes TBLPROPERTIES to the
    // serde at init, so skip.header.line.count and
    // serialization.null.format are honored from EITHER properties
    // clause (OpenCSVSerde/LazySimpleSerDe behavior). header=1 maps to
    // the csv header option (per-file first-line skip, same semantics);
    // deeper skips have no datasource mapping — refuse loudly rather
    // than silently reading header lines as data.
    if (fmt == "TEXTFILE" || fmt == "OPENCSV") {
      val propRe =
        """(?i)'(skip\.header\.line\.count|skip\.footer\.line\.count|serialization\.null\.format)'\s*=\s*'([^']*)'""".r
      propRe.findAllMatchIn(s).foreach { m =>
        (m.group(1).toLowerCase, m.group(2)) match {
          case ("skip.header.line.count", "1") => opts += "header" -> "true"
          case ("skip.header.line.count", "0") => ()
          case ("skip.header.line.count", n) => sys.error(
            s"skip.header.line.count=$n has no datasource mapping (only 0/1)")
          case ("skip.footer.line.count", "0") => ()
          case ("skip.footer.line.count", n) => sys.error(
            s"skip.footer.line.count=$n has no datasource mapping")
          case ("serialization.null.format", v) =>
            if (!opts.contains("nullValue")) opts += "nullValue" -> v
        }
      }
    }
    val provider = fmt match {
      case "TEXTFILE" =>
        // complex column types (or explicit collection/map-key delims)
        // exceed the csv datasource — route to graft-text, which runs
        // the REAL LazySimpleSerDe (nested \002/\003 separators, byte-
        // interoperable). UNIONTYPE was already rewritten to STRUCT<.
        // detection region stops at the CTAS SELECT (a TIMESTAMP literal
        // or array() call in the query text is not a column type)
        val head = "(?is)\\bSELECT\\b".r.findFirstMatchIn(s)
          .map(m => s.substring(0, m.start)).getOrElse(s)
        val complex = "(?i)\\b(ARRAY|MAP|STRUCT)\\s*<".r.findFirstIn(head).isDefined
        // TIMESTAMP columns route to the serde too: Hive text carries
        // `yyyy-MM-dd HH:mm:ss[.f...]` wall-clock values, where the csv
        // writer emits ISO-8601 `T`/`Z` forms a Hive reader cannot parse
        val hasTs = "(?i)\\bTIMESTAMP\\b".r.findFirstIn(head).isDefined
        if (complex || hasTs || opts.contains("collection.delim") ||
            opts.contains("mapkey.delim")) {
          require(!opts.contains("header"),
            "skip.header.line.count is not supported on complex-typed text tables")
          val t = scala.collection.mutable.LinkedHashMap[String, String]()
          opts.get("sep").foreach(v => t += "field.delim" -> v)
          opts.get("collection.delim").foreach(v => t += "collection.delim" -> v)
          opts.get("mapkey.delim").foreach(v => t += "mapkey.delim" -> v)
          opts.get("escape").foreach(v => t += "escape.delim" -> v)
          opts.get("nullValue").foreach(v => t += "serialization.null.format" -> v)
          opts = t
          "`graft-text`"
        } else {
          if (!opts.contains("sep")) opts += "sep" -> "\u0001"
          if (!opts.contains("nullValue")) opts += "nullValue" -> "\\N"
          opts.remove("collection.delim"): Unit
          opts.remove("mapkey.delim"): Unit
          "csv"
        }
      case "OPENCSV"  => "csv"
      case "PARQUET"  => "parquet"
      case "ORC"      => "orc"
      case "AVRO"     => "`graft-avro`"
      case "JSONFILE" => "json"
      case "SEQUENCEFILE" => "`graft-seq`"
      case "RCFILE" => "`graft-rcfile`"
      case "THRIFTSEQ" => "`graft-thrift-seq`"
      case _ => return stmt0
    }
    val optsSql = optionsSql(opts)
    val using = s" USING $provider$optsSql "
    // anchor: after the column-list ')' if the table has one, else right
    // before the first clause keyword / AS (CTAS)
    val tblIdx = "(?is)TABLE\\s+(IF\\s+NOT\\s+EXISTS\\s+)?[`\\w.]+".r
      .findFirstMatchIn(s).map(_.end).getOrElse(return stmt0)
    val rest = s.substring(tblIdx)
    val trimmed = rest.trim
    if (trimmed.startsWith("(")) {
      // walk to the matching close paren of the column list
      val open = s.indexOf('(', tblIdx)
      var depth = 0; var i = open
      while (i < s.length && (depth != 0 || i == open)) {
        s.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ => ()
        }
        i += 1
      }
      s.substring(0, i) + using + s.substring(i)
    } else if (trimmed.toUpperCase.startsWith("LIKE")) {
      // CREATE TABLE a LIKE b [format]: Spark's grammar takes the provider
      // AFTER the LIKE clause — append at the end of the statement
      s.stripTrailing.stripSuffix(";") + using
    } else {
      s.substring(0, tblIdx) + using + rest
    }
  }

  private val iodRe =
    ("""(?is)(\s*INSERT\s+OVERWRITE\s+(?:LOCAL\s+)?DIRECTORY\s+'[^']+')""" +
      """((?:\s+ROW\s+FORMAT\s+DELIMITED(?:\s+(?:FIELDS\s+TERMINATED\s+BY|ESCAPED\s+BY|COLLECTION\s+ITEMS\s+TERMINATED\s+BY|MAP\s+KEYS\s+TERMINATED\s+BY|LINES\s+TERMINATED\s+BY|NULL\s+DEFINED\s+AS)\s+'[^']*')*)|\s+STORED\s+AS\s+\w+)*(\s+SELECT\b.*|\s+FROM\b.*)""").r

  /** `INSERT OVERWRITE [LOCAL] DIRECTORY '<p>' [ROW FORMAT DELIMITED ...]
    * [STORED AS fmt] SELECT ...` — the reference's write-results-to-path
    * statement (exec/MoveTask.java). Spark's datasource form wants
    * `USING provider [OPTIONS(...)]`; same delimiter mapping as
    * [[rewriteHiveCreate]].
    */
  private[graft] def rewriteHiveInsertDir(stmt0: String): String =
    iodRe.replaceAllIn(stmt0, m => {
      val clauses = m.group(0).substring(m.group(1).length,
        m.group(0).length - m.group(3).length)
      var fmt = "TEXTFILE"
      val opts = scala.collection.mutable.LinkedHashMap[String, String]()
      storedAsRe.findFirstMatchIn(clauses).foreach(x => fmt = x.group(1).toUpperCase)
      rowFormatOptRe.findAllMatchIn(clauses).foreach { o =>
        o.group(1).toUpperCase.replaceAll("\\s+", " ") match {
          case "FIELDS TERMINATED BY" => opts += "sep" -> delimChar(o.group(2))
          case "ESCAPED BY"           => opts += "escape" -> delimChar(o.group(2))
          case "NULL DEFINED AS"      => opts += "nullValue" -> o.group(2)
          case _                      => ()
        }
      }
      val provider = fmt match {
        case "TEXTFILE" =>
          // Hive default field delimiter is \001 — a dropped literal here
          // made the default an EMPTY sep, which Spark CSV rejects
          if (!opts.contains("sep")) opts += "sep" -> "\u0001"
          if (!opts.contains("nullValue")) opts += "nullValue" -> "\\N"
          "csv"
        case "PARQUET" => "parquet"
        case "ORC" => "orc"
        case "AVRO" => "`graft-avro`"
        case "JSONFILE" => "json"
        case "SEQUENCEFILE" => "`graft-seq`"
        case "RCFILE" => "`graft-rcfile`"
        case _ => return stmt0
      }
      val optsSql = optionsSql(opts)
      java.util.regex.Matcher.quoteReplacement(
        s"${m.group(1)} USING $provider$optsSql${m.group(3)}")
    })
}
