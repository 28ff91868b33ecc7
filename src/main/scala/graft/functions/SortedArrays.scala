package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, IntegerType, LongType}

/** Merge-scan set kernels over SORTED array<bigint> columns — the exact
  * dedup confirm's hot pair loop (r18, guide §1.2 step 2).
  *
  * `size(array_intersect(a, b))` builds a hash set of one side and an
  * output array PER PAIR — on the LSH candidate confirm that is one
  * allocation-heavy probe per candidate pair, the operator family's
  * innermost loop at 100 TB. When both inputs are sorted ascending (the
  * token sets are sorted ONCE per document in the signing projection),
  * the intersection COUNT is a single merge scan: O(|a|+|b|) long
  * comparisons, zero allocation, whole-stage-codegen'd (not a
  * CodegenFallback HOF — the d03 lesson).
  *
  * Contract: both arrays MUST be sorted ascending with nulls (if any)
  * LAST — `array_sort`'s order. The merge scan stops at the first null
  * element (a null can never merge-match; the dedup token sets are
  * xxhash64 outputs and contain none). On null-free distinct sorted
  * inputs `sorted_intersect_count(a, b)` equals
  * `size(array_intersect(a, b))`; null array → null (as the built-in).
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "sorted_intersect_count(a, b) takes two array<bigint>, " +
        s"got (${left.dataType}, ${right.dataType})")
  }

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < nx && j < ny && !x.isNullAt(i) && !y.isNullAt(j)) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    java.lang.Integer.valueOf(c)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val c = ctx.freshName("c")
      s"""
      final int $nx = $x.numElements();
      final int $ny = $y.numElements();
      int $i = 0; int $j = 0; int $c = 0;
      while ($i < $nx && $j < $ny && !$x.isNullAt($i) && !$y.isNullAt($j)) {
        final long $xv = $x.getLong($i);
        final long $yv = $y.getLong($j);
        if ($xv < $yv) { $i++; }
        else if ($xv > $yv) { $j++; }
        else { $c++; $i++; $j++; }
      }
      ${ev.value} = $c;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** True iff two SORTED array<bigint> columns share at least `k` elements
  * — the merge scan of [[SortedIntersectCount]] with BIDIRECTIONAL early
  * exit: abort FALSE as soon as the elements still unscanned cannot
  * reach k (`count + min(remaining_a, remaining_b) < k`), return TRUE as
  * soon as count reaches k. On the dedup confirm the overwhelming
  * majority of band-admitted pairs fall far below the jaccard
  * threshold, so the abort fires after ~(|a|-k)+(|b|-k) steps instead
  * of scanning |a|+|b| — the pre-filter in front of the exact gate,
  * never a replacement for it (the caller recomputes the exact count
  * and the 4-decimal-rounded jaccard for survivors). Same
  * sortedness/null-element contract as [[SortedIntersectCount]]; k
  * (third child, int) is evaluated per row. Null inputs → null.
  */
case class SortedIntersectAtLeast(left: Expression, right: Expression,
    k: Expression) extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def first: Expression = left
  override def second: Expression = right
  override def third: Expression = k

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType) && k.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "sorted_intersect_atleast(a, b, k) takes two array<bigint> and an " +
        s"int, got (${left.dataType}, ${right.dataType}, ${k.dataType})")
  }

  override def dataType: DataType = BooleanType
  override def nullable: Boolean =
    left.nullable || right.nullable || k.nullable
  override def prettyName: String = "sorted_intersect_atleast"

  override def nullSafeEval(a: Any, b: Any, kv: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val need = kv.asInstanceOf[Int]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (c < need &&
        c + math.min(nx - i, ny - j) >= need &&
        i < nx && j < ny && !x.isNullAt(i) && !y.isNullAt(j)) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    java.lang.Boolean.valueOf(c >= need)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y, kk) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val c = ctx.freshName("c")
      s"""
      final int $nx = $x.numElements();
      final int $ny = $y.numElements();
      int $i = 0; int $j = 0; int $c = 0;
      while ($c < $kk &&
          $c + java.lang.Math.min($nx - $i, $ny - $j) >= $kk &&
          $i < $nx && $j < $ny && !$x.isNullAt($i) && !$y.isNullAt($j)) {
        final long $xv = $x.getLong($i);
        final long $yv = $y.getLong($j);
        if ($xv < $yv) { $i++; }
        else if ($xv > $yv) { $j++; }
        else { $c++; $i++; $j++; }
      }
      ${ev.value} = ($c >= $kk);
      """
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): SortedIntersectAtLeast =
    copy(left = newFirst, right = newSecond, k = newThird)
}
