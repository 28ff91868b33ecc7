package graft.functions

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, HiveHash,
  MonotonicallyIncreasingID}
import org.apache.spark.sql.catalyst.expressions.aggregate.{StddevPop, VariancePop}

/** The function-gap pack: Hive functions Spark lacks, and the Hive
  * meanings of names Spark gives another one. `GraftExtensions` injects
  * every entry, so each session built with the extension registers the
  * pack once, when its function registry is built.
  */
object FunctionPack {
  type Builder = Seq[Expression] => Expression

  private val pack = ArrayBuffer.empty[(FunctionIdentifier, ExpressionInfo, Builder)]

  /** The entries, as `SparkSessionExtensions.injectFunction` takes them. */
  def descriptions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = pack.toSeq

  // the ExpressionInfo a temporary function registered by name gets
  // (FunctionRegistryBase.registerFunction), so DESCRIBE FUNCTION and
  // SHOW FUNCTIONS list the pack as they list any temporary function
  private def fn(name: String)(build: Builder): Unit = {
    val cls = Option(build.getClass.getCanonicalName).getOrElse(build.getClass.getName)
    pack += ((FunctionIdentifier(name),
      new ExpressionInfo(cls, null, name, null, "", "", "", "", "", "", "scala_udf"), build))
  }

  fn("field")(e => FieldExpr(FieldExpr.coerced(e)))
  fn("parse_url_tuple")(e => ParseUrlTuple(e))
  fn("in_file")(e => InFile(e(0), e(1)))
  fn("cosine_sim")(e => CosineSim(e(0), e(1)))
  fn("dot_product")(e => DotProduct(e(0), e(1)))
  fn("int_dot")(e => IntDot(e(0), e(1)))
  fn("sorted_intersect_count")(e => SortedIntersectCount(e(0), e(1)))
  fn("sorted_intersect_atleast")(e => SortedIntersectAtLeast(e(0), e(1), e(2)))
  fn("reflect2")(e => Reflect2(e))
  fn("sort_array_by")(e => SortArrayBy(e))
  // Hive's greatest/least return NULL when ANY argument is NULL
  // (GenericUDFGreatest/Least, HIVE-12082); Spark's skip nulls and
  // return the extreme of the non-null values — a silent value drift
  // for migrating scripts. Wrap with a null-strict guard (the NullType
  // literal coerces to the value type during analysis).
  locally {
    import org.apache.spark.sql.catalyst.expressions.{Greatest, If, IsNull, Least, Literal, Or}
    import org.apache.spark.sql.types.NullType
    fn("greatest")(e => If(e.map(IsNull).reduceLeft(Or),
      Literal.create(null, NullType), Greatest(e)))
    fn("least")(e => If(e.map(IsNull).reduceLeft(Or),
      Literal.create(null, NullType), Least(e)))
  }
  // Hive 3's surrogate_key() (GenericUDFSurrogateKey: unique long per
  // written row from writeId/taskId/rowId bits) maps onto Spark's
  // partition-salted unique id — same contract (distributed uniqueness,
  // NOT density or ordering); the optional bit-width args are moot here
  fn("surrogate_key")(_ => MonotonicallyIncreasingID())
  // Hive's std/stddev/variance are POPULATION statistics
  // (FunctionRegistry.java:348-354: std/stddev/stddev_pop all ->
  // GenericUDAFStd, variance/var_pop -> GenericUDAFVariance); Spark's
  // same-named aliases are SAMPLE statistics — a silent value drift for
  // any migrating script. Re-point the ambiguous names at the
  // population implementations; the unambiguous *_samp/*_pop spellings
  // keep their native meaning on both engines.
  fn("std")(e => new StddevPop(e(0)))
  fn("stddev")(e => new StddevPop(e(0)))
  fn("variance")(e => new VariancePop(e(0)))
  // Hive's hash() is the Java-style hashCode chain
  // (ObjectInspectorUtils.hashCode: int IS its hash, string is
  // String.hashCode, multi-arg folds h*31+next) — Spark's hash() is
  // Murmur3. Scripts that bucket, sample or persist hash(x) values
  // silently change behavior; Spark ships the exact Hive algorithm as
  // the HiveHash expression, so re-point the name. Engine internals
  // (Dedup banding) use xxhash64/murmur3 directly, not this name.
  fn("hash")(e => HiveHash(e))
  // SQL names for the Column-composed function family — a migrating
  // script calls these by NAME in SQL text (FunctionRegistry.java
  // registers all of them), so each gets a FunctionRegistry builder
  // bridged through GraftColumnBridge. Literal-argument extraction
  // mirrors Hive: ngrams/context_ngrams take constant n/k
  // (GenericUDAFnGrams checks PRIMITIVE CONSTANT args).
  locally {
    import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}
    import org.apache.spark.sql.catalyst.expressions.{CreateArray, Literal}
    def colFn(name: String)(build: Seq[org.apache.spark.sql.Column] =>
        org.apache.spark.sql.Column): Unit =
      fn(name)(exprs => toExpression(build(exprs.map(toColumn))))
    def litInt(fname: String, e: Expression): Int = e match {
      case Literal(v: Int, _) => v
      case Literal(v: Long, _) => v.toInt
      case Literal(v: Short, _) => v.toInt
      case Literal(v: Byte, _) => v.toInt
      case other => sys.error(
        s"$fname expects a constant integer argument, got: ${other.sql}")
    }
    // Hive's ngrams/context_ngrams take flat array<string> OR the
    // sentences() shape array<array<string>> (n-grams never cross inner
    // sentence boundaries), and answer
    // array<struct<ngram:array<string>, estfrequency:double>>
    // (GenericUDAFnGrams) — the .q scripts access `.estfrequency`, so
    // the SQL names emit that exact shape (NGrams.ngramsHive: windows
    // are NUL-joined internally so space-bearing tokens reconstruct
    // losslessly). Counts here are EXACT (map-side-combined partials):
    // the optional precision argument is accepted and ignored.
    def nested(e: Expression): Boolean = e.dataType match {
      case org.apache.spark.sql.types.ArrayType(
        _: org.apache.spark.sql.types.ArrayType, _) => true
      case _ => false
    }
    fn("ngrams")(exprs =>
      toExpression(graft.functions.NGrams.ngramsHive(toColumn(exprs(0)),
        nested(exprs(0)), litInt("ngrams", exprs(1)),
        litInt("ngrams", exprs(2)))))
    fn("context_ngrams") { exprs =>
      val context = exprs(1) match {
        // entries may be wrapped (e.g. CAST(NULL AS STRING)) — any
        // foldable entry works; a null fold is the wildcard slot
        case CreateArray(items, _) => items.map {
          case e if e.foldable => Option(e.eval(
            org.apache.spark.sql.catalyst.InternalRow.empty)).map(_.toString)
          case other => sys.error("context_ngrams context entries must be " +
            s"string literals or null wildcards, got: ${other.sql}")
        }
        case other => sys.error(
          s"context_ngrams expects an array literal context, got: ${other.sql}")
      }
      toExpression(graft.functions.NGrams.contextNGramsHive(toColumn(exprs(0)),
        nested(exprs(0)), context, litInt("context_ngrams", exprs(2))))
    }
    import graft.functions.Bitmap
    colFn("ewah_bitmap")(cols => Bitmap.bitmapAgg(cols(0)))
    colFn("ewah_bitmap_and")(cols => Bitmap.bitmapAnd(cols(0), cols(1)))
    colFn("ewah_bitmap_or")(cols => Bitmap.bitmapOr(cols(0), cols(1)))
    colFn("ewah_bitmap_empty")(cols => Bitmap.bitmapEmpty(cols(0)))
    colFn("create_union")(cols =>
      graft.functions.UnionTypeShim.createUnion(cols.head, cols.tail: _*))
    // compute_stats(col[, numBitVectors]) — GenericUDAFComputeStats:
    // per-type stats struct with the reference's exact field names;
    // NumDistinctValues is an FM-sketch ESTIMATE there, so the faithful
    // distributed analog is approx_count_distinct (HLL++), not an exact
    // count. The numBitVectors argument is accepted and ignored.
    fn("compute_stats") { exprs =>
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types._
      val c = toColumn(exprs(0))
      // count(when(...)) not sum(when(...)): count answers 0 over empty
      // input, matching the reference's zeroed counters
      val nulls = count(when(c.isNull, 1)).as("CountNulls")
      val ndv = approx_count_distinct(c).as("NumDistinctValues")
      val stats = exprs(0).dataType match {
        case BooleanType => struct(
          lit("Boolean").as("ColumnType"),
          count(when(c === true, 1)).as("CountTrues"),
          count(when(c === false, 1)).as("CountFalses"),
          nulls)
        case ByteType | ShortType | IntegerType | LongType => struct(
          lit("Long").as("ColumnType"),
          min(c).cast("bigint").as("Min"), max(c).cast("bigint").as("Max"),
          nulls, ndv)
        case FloatType | DoubleType | _: DecimalType => struct(
          lit("Double").as("ColumnType"),
          min(c).cast("double").as("Min"), max(c).cast("double").as("Max"),
          nulls, ndv)
        case StringType => struct(
          lit("String").as("ColumnType"),
          max(length(c)).cast("bigint").as("MaxLength"),
          avg(length(c)).as("AvgLength"), nulls, ndv)
        case BinaryType => struct(
          lit("Binary").as("ColumnType"),
          max(length(c)).cast("bigint").as("MaxLength"),
          avg(length(c)).as("AvgLength"), nulls)
        case other => sys.error(
          s"compute_stats: unsupported column type ${other.catalogString}")
      }
      toExpression(stats)
    }
  }
}
