package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Hive's `ngrams(array<string>, n, k)` UDAF: top-k most frequent word
  * n-grams with their frequencies.
  *
  * Reference: /root/reference/ql/src/java/org/apache/hadoop/hive/ql/udf/
  * generic/GenericUDAFnGrams.java (no Spark built-in). Implemented as a
  * typed `Aggregator` — map-side partial maps merge associatively, so the
  * shuffle carries at most one (ngram → count) map per partition, trimmed
  * to a bounded size for 100 TB-safety.
  */
case class NGramFreq(ngram: String, freq: Long)

class NGramsAggregator(n: Int, k: Int, maxPartialSize: Int = 100000,
    sep: String = " ")
    extends Aggregator[Seq[String], Map[String, Long], Seq[NGramFreq]] {

  override def zero: Map[String, Long] = Map.empty

  private def trim(m: Map[String, Long]): Map[String, Long] =
    if (m.size <= maxPartialSize) m
    // keep the heaviest entries; bounded error like space-saving sketches
    else m.toSeq.sortBy { case (g, f) => (-f, g) }.take(maxPartialSize).toMap

  override def reduce(buf: Map[String, Long], words: Seq[String]): Map[String, Long] =
    if (words == null || words.length < n) buf
    else trim(words.sliding(n).map(_.mkString(sep))
      .foldLeft(buf)((m, g) => m.updated(g, m.getOrElse(g, 0L) + 1L)))

  override def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    trim(b.foldLeft(a) { case (m, (g, f)) => m.updated(g, m.getOrElse(g, 0L) + f) })

  override def finish(buf: Map[String, Long]): Seq[NGramFreq] =
    buf.toSeq.sortBy { case (g, f) => (-f, g) }.take(k)
      .map { case (g, f) => NGramFreq(g, f) }

  override def bufferEncoder: Encoder[Map[String, Long]] =
    Encoders.kryo[Map[String, Long]]
  override def outputEncoder: Encoder[Seq[NGramFreq]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[NGramFreq]]()
}

object NGrams {
  /** ngrams(tokensCol, n, k) as an untyped column aggregate. */
  def ngrams(tokens: Column, n: Int, k: Int): Column =
    udaf(new NGramsAggregator(n, k)).apply(tokens)

  /** Join delimiter for the Hive-shaped SQL route: the aggregator keys on
    * joined window strings, and a space would both corrupt tokens that
    * contain spaces and merge distinct n-grams that collide when joined
    * (('a b','c') vs ('a','b c')). NUL never appears in tokenized text. */
  private val SqlSep = "\u0000"

  /** The sep-joined n-gram windows of one token array, as a column —
    * shared by the Hive-shaped SQL route and context_ngrams. */
  private def ngramWindows(tokens: Column, n: Int, sep: String): Column = {
    import org.apache.spark.sql.functions._
    transform(
      filter(sequence(lit(0), greatest(size(tokens) - lit(n), lit(0))),
        i => i <= size(tokens) - lit(n)),
      i => concat_ws(sep, slice(tokens, i + lit(1), lit(n))))
  }

  /** The SQL-name route ([[FunctionPack]]): Hive's exact output shape
    * `array<struct<ngram:array<string>, estfrequency:double>>`
    * (GenericUDAFnGrams), over flat `array<string>` input or the
    * `sentences()` nested shape — in nested mode n-grams are counted
    * WITHIN each inner sentence, never across sentence boundaries.
    * Composition: precompute the windows column-side (NUL-joined so the
    * token arrays reconstruct losslessly), count them with the 1-gram
    * aggregator, and split the keys back into arrays.
    */
  def ngramsHive(tokens: Column, nested: Boolean, n: Int, k: Int): Column = {
    import org.apache.spark.sql.functions._
    // flat input aggregates DIRECTLY with a NUL-keyed aggregator — the
    // column-side window precompute costs ~8x on corpus-sized inputs and
    // is only needed for the nested (per-sentence boundary) shape
    val agg =
      if (nested) udaf(new NGramsAggregator(1, k, sep = SqlSep)).apply(
        flatten(transform(tokens, s => ngramWindows(s, n, SqlSep))))
      else udaf(new NGramsAggregator(n, k, sep = SqlSep)).apply(tokens)
    hiveShape(agg)
  }

  /** context_ngrams under the same contract (wildcard fillers as the
    * ngram arrays). */
  def contextNGramsHive(tokens: Column, nested: Boolean,
      context: Seq[Option[String]], k: Int): Column = {
    import org.apache.spark.sql.functions._
    val windows =
      if (nested) flatten(transform(tokens, s => contextWindows(s, context, SqlSep)))
      else contextWindows(tokens, context, SqlSep)
    hiveShape(udaf(new NGramsAggregator(1, k)).apply(windows))
  }

  private def hiveShape(agg: Column): Column = {
    import org.apache.spark.sql.functions._
    transform(agg, x => struct(
      split(x.getField("ngram"), SqlSep).as("ngram"),
      x.getField("freq").cast("double").as("estfrequency")))
  }

  /** Hive `context_ngrams(tokens, context, k)` (GenericUDAFContextNGrams):
    * top-k fillers for a context pattern, where None marks the wildcard
    * slots. Composition: carve context-matching windows out of each token
    * array with built-ins (filter/transform over start offsets), then
    * reuse the ngrams aggregator to count the wildcard fillers.
    *
    * @param tokensCol name of an array<string> column
    */
  def contextNGrams(tokensCol: String, context: Seq[Option[String]], k: Int): Column = {
    import org.apache.spark.sql.functions.col
    contextNGrams(col(tokensCol), context, k)
  }

  /** Column-based overload (same semantics) — lets the SQL-name
    * registration in [[FunctionPack]] accept an arbitrary tokens
    * EXPRESSION (e.g. `context_ngrams(split(text, ' '), ...)`), not just
    * a column name.
    */
  def contextNGrams(tokens: Column, context: Seq[Option[String]], k: Int): Column =
    udaf(new NGramsAggregator(1, k)).apply(contextWindows(tokens, context, " "))

  private def contextWindows(tokens: Column,
      context: Seq[Option[String]], sep: String): Column = {
    import org.apache.spark.sql.functions._
    val n = context.length
    require(context.exists(_.isEmpty), "context needs at least one wildcard (None)")
    // i <= size-n guards short arrays (sequence upper bound is clamped >=0)
    val cond: Column => Column = i =>
      context.zipWithIndex.collect { case (Some(w), j) =>
        get(tokens, i + lit(j)) === lit(w)
      }.foldLeft(i <= size(tokens) - lit(n))(_ && _)
    val fillers: Column => Column = i => concat_ws(sep,
      context.zipWithIndex.collect { case (None, j) => get(tokens, i + lit(j)) }: _*)
    transform(
      filter(sequence(lit(0), greatest(size(tokens) - lit(n), lit(0))), cond),
      fillers)
  }
}
