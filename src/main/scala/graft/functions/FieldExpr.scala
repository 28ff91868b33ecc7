package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, IntegerType}

/** Hive's `field(needle, v1, v2, ...)`: 1-based index of the first vN equal
  * to needle, 0 if none match or needle is null.
  *
  * Reference: /root/reference/ql/src/java/org/apache/hadoop/hive/ql/udf/
  * UDFField (registered in exec/FunctionRegistry.java) — one of the few
  * registry entries with no Spark built-in (`array_position` differs: it
  * searches inside one array and returns long, with different null rules).
  */
case class FieldExpr(children: Seq[Expression])
    extends Expression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.size < 2)
      TypeCheckResult.TypeCheckFailure("field() needs a needle and >=1 candidate")
    else if (children.tail.exists(_.dataType != children.head.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"field() arguments must share one type, got ${children.map(_.dataType).distinct}")
    else TypeCheckResult.TypeCheckSuccess

  override def eval(input: InternalRow): Any = {
    val needle = children.head.eval(input)
    if (needle == null) 0
    else {
      var i = 1
      while (i < children.length) {
        val v = children(i).eval(input)
        if (v != null && v == needle) return i
        i += 1
      }
      0
    }
  }

  /** Whole-stage-codegen path: an unrolled chain of candidate comparisons
    * so field() stays inside the generated loop (SURVEY §2.14 — the
    * preference order puts a doGenCode Expression above any UDF).
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val needle = children.head.genCode(ctx)
    val cands = children.tail.map(_.genCode(ctx))
    val compare = (a: String, b: String) => children.head.dataType match {
      case IntegerType | org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.FloatType |
           org.apache.spark.sql.types.BooleanType => s"$a == $b"
      case _ => s"$a.equals($b)"
    }
    val body = cands.zipWithIndex.map { case (c, i) =>
      s"""
         |if (${ev.value} == 0) {
         |  ${c.code}
         |  if (!${c.isNull} && ${compare(c.value.toString, needle.value.toString)}) {
         |    ${ev.value} = ${i + 1};
         |  }
         |}
       """.stripMargin
    }.mkString("\n")
    ev.copy(
      code = code"""
        |${needle.code}
        |int ${ev.value} = 0;
        |if (!${needle.isNull}) {
        |  $body
        |}
      """.stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object FieldExpr {
  /** Column-API form; resolves the "field" function the session's
    * registry holds ([[FunctionPack]]).
    */
  def field(needle: Column, candidates: Column*): Column =
    org.apache.spark.sql.functions.call_function("field", (needle +: candidates): _*)

  /** Hive UDFField's argument coercion (udf_field.q's mixed batteries):
    * a NULL literal never matches but must still type-check; mixed
    * all-numeric operands compare as double; any other mix compares as
    * string. Applied by the registry builder so the expression itself
    * keeps its strict one-type contract. */
  def coerced(exprs: Seq[Expression]): Seq[Expression] = {
    import org.apache.spark.sql.types.{DataType, DoubleType, NullType, NumericType, StringType}
    import org.apache.spark.sql.catalyst.expressions.Cast
    val nonNull = exprs.map(_.dataType).filter(_ != NullType).distinct
    val target: DataType =
      if (nonNull.size <= 1) nonNull.headOption.getOrElse(StringType)
      else if (nonNull.forall(_.isInstanceOf[NumericType])) DoubleType
      else StringType
    exprs.map(e => if (e.dataType == target) e else Cast(e, target))
  }
}
