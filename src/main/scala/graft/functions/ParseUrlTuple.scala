package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Hive's `parse_url_tuple(url, part1, part2, ...)` UDTF as a real Catalyst
  * `Generator` — one output row per input row with one string column per
  * requested part, usable from SQL via LATERAL VIEW after registration in
  * [[FunctionPack]].
  *
  * Reference: /root/reference/ql/src/java/org/apache/hadoop/hive/ql/udf/
  * generic/GenericUDTFParseUrlTuple.java. Parts: HOST, PATH, QUERY, REF,
  * PROTOCOL, FILE, AUTHORITY, USERINFO, QUERY:&lt;key&gt;. Unknown parts and
  * malformed URLs yield NULL (Hive's permissive behavior).
  */
case class ParseUrlTuple(children: Seq[Expression])
    extends Generator with CodegenFallback {

  // part names must be foldable string literals (as in Hive)
  private lazy val parts: Seq[String] =
    children.tail.map(e => String.valueOf(e.eval(InternalRow.empty)))

  // Hive raises UDFArgumentException for a non-constant or NULL part name
  // (GenericUDTFParseUrlTuple.initialize); mirror that as a clean
  // type-check failure instead of an eval crash during analysis
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (children.isEmpty)
      TypeCheckResult.TypeCheckFailure("parse_url_tuple(url, part, ...) needs >= 2 args")
    else if (children.tail.exists(e => !e.foldable || e.dataType != StringType))
      TypeCheckResult.TypeCheckFailure(
        "parse_url_tuple: part names must be string constants")
    else if (children.tail.exists(_.eval(InternalRow.empty) == null))
      TypeCheckResult.TypeCheckFailure(
        "parse_url_tuple: part names must not be null")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def elementSchema: StructType =
    StructType(parts.indices.map(i => StructField(s"c$i", StringType)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val url = children.head.eval(input)
    val values: Seq[Any] =
      if (url == null) Seq.fill(parts.size)(null)
      else {
        val u = url.toString
        parts.map(p => extract(u, p) match {
          case null => null
          case s    => UTF8String.fromString(s)
        })
      }
    Seq(InternalRow.fromSeq(values))
  }

  private def extract(url: String, part: String): String =
    try {
      val uri = new java.net.URI(url)
      part match {
        case "HOST"      => uri.getHost
        case "PATH"      => uri.getRawPath
        case "QUERY"     => uri.getRawQuery
        case "REF"       => uri.getRawFragment
        case "PROTOCOL"  => uri.getScheme
        case "AUTHORITY" => uri.getRawAuthority
        case "USERINFO"  => uri.getRawUserInfo
        case "FILE" =>
          if (uri.getRawQuery == null) uri.getRawPath
          else uri.getRawPath + "?" + uri.getRawQuery
        case q if q.startsWith("QUERY:") =>
          val key = java.util.regex.Pattern.quote(q.stripPrefix("QUERY:"))
          val m = java.util.regex.Pattern
            .compile(s"(?:^|&)$key=([^&]*)")
            .matcher(Option(uri.getRawQuery).getOrElse(""))
          if (m.find()) m.group(1) else null
        case _ => null
      }
    } catch { case _: java.net.URISyntaxException => null }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ParseUrlTuple =
    copy(children = newChildren)
}
