package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import Tracer.OpRec

/** Incremental near-duplicate screening through `Dedup.dedupIncrement`.
  * At set-up a corpus is built from 1000 generated `documents`, scaled
  * with `Soak.scaleDocs`. Each op screens one seeded batch against the
  * corpus and appends the survivors to it. Ops run in rounds of
  * `roundSize`, and every round starts again from the set-up corpus, so
  * each round screens against the same corpus sizes whatever the program's
  * speed. A batch mixes fresh docs (tokens under a new shard prefix, so no
  * corpus doc resembles them), exact copies of corpus docs and light edits
  * (one extra token). Every exact copy must be rejected and every fresh doc
  * kept; recall on the edits is reported.
  */
final class DedupIncrements(ctx: Ctx) extends Workload {
  import DedupIncrements._
  private val spark = ctx.spark
  import spark.implicits._
  private val data = ctx.runDir.resolve("data").toString
  private val rnd = new scala.util.Random(ctx.seed)
  // the set-up corpus, and the survivors appended in the current round
  private var baseDir = ""
  private var baseDocs = 0L
  private var roundDir = ""
  private var corpusDocs = 0L
  private var sources = Vector.empty[(Long, String)]
  private var count = 0
  private var nextId = 100000000L
  // per op: (label, call ms, corpus docs, survivors, edits rejected, call start, call end)
  private val calls = ArrayBuffer.empty[(String, Double, Long, Long, Long, Double, Double)]

  def setup(rep: Int): Unit = {
    baseDir = ctx.runDir.resolve(s"dedup/r$rep/corpus").toString
    val docs = graft.Tables.t(spark, data, "documents").select("doc_id", "text")
    graft.tools.Soak.scaleDocs(docs, scale).write.parquet(baseDir)
    baseDocs = spark.read.parquet(baseDir).count()
    // shard 0 keeps the generated texts: exact copies and edits come from it
    sources = docs.orderBy("doc_id").as[(Long, String)].collect().toVector
  }

  override def roundDone: Boolean = count % roundSize == 0

  def next(): Op = {
    if (roundDone) {
      roundDir = ctx.runDir.resolve(s"dedup/round${count / roundSize}").toString
      corpusDocs = baseDocs
    }
    count += 1
    def id() = { nextId += 1; nextId }
    val words = vocab
    val fresh = (0 until freshDocs).map(_ => id() -> (0 until 10 + rnd.nextInt(40))
      .map(_ => s"f${count}_${words(rnd.nextInt(words.size))}").mkString(" "))
    val copies = (0 until copyDocs).map(_ => id() -> sources(rnd.nextInt(sources.size))._2)
    val edits = (0 until editDocs).map(_ => id() -> (sources(rnd.nextInt(sources.size))._2 + " edited"))
    val batch = rnd.shuffle(fresh ++ copies ++ edits)
    val corpusAtCall = corpusDocs
    val label = s"increment#$count"
    Op(label, "increment", () => {
      val c0 = System.nanoTime()
      val start = System.currentTimeMillis().toDouble
      val corpus = if (Files.isDirectory(Paths.get(roundDir))) spark.read.parquet(baseDir, roundDir)
        else spark.read.parquet(baseDir)
      val kept = graft.operators.Dedup.dedupIncrement(corpus,
        batch.toDF("doc_id", "text")).as[Long].collect().toSet
      val callMs = (System.nanoTime() - c0) / 1e6
      val end = System.currentTimeMillis().toDouble
      // one file per increment, as a batch ingest would write it
      batch.filter(d => kept(d._1)).toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(roundDir)
      Op.Out(kept.size.toLong, (kept, callMs, start, end))
    }, out => {
      graft.tools.Checkpoints.sweep()
      val (kept, callMs, start, end) = out.payload.asInstanceOf[(Set[Long], Double, Double, Double)]
      corpusDocs += kept.size
      calls += ((label, callMs, corpusAtCall, kept.size.toLong, edits.count(d => !kept(d._1)).toLong,
        start, end))
      Checks.increment(kept, copies.map(_._1), fresh.map(_._1))
    })
  }

  private def timed(ops: Seq[OpRec]) = {
    val labels = ops.map(_.label).toSet
    calls.filter(c => labels(c._1))
  }

  override def extras(ops: Seq[OpRec]): Map[String, Double] = {
    val busy = ops.map(_.ms).sum / 1000.0
    val cs = timed(ops)
    Map("docs_per_s" -> (if (busy > 0) ops.size * batchDocs / busy else 0.0),
      "edit_recall" -> (if (cs.isEmpty) 0.0 else cs.map(_._5).sum.toDouble / (cs.size * editDocs)))
  }

  override def layers(ops: Seq[OpRec]): Map[String, Double] = {
    val cs = timed(ops)
    val n = cs.size.max(1).toDouble
    Map("dedup.call_ms" -> cs.map(_._2).sum / n,
      "dedup.corpus_docs" -> cs.map(_._3).sum / n,
      "dedup.batch_docs" -> batchDocs.toDouble,
      "dedup.survivor_ratio" -> cs.map(_._4).sum / (n * batchDocs),
      "dedup.shuffle_records_per_batch_doc" ->
        cs.map(c => ctx.tracer.shuffleRecordsBetween(c._6, c._7)).sum / (n * batchDocs))
  }
}

object DedupIncrements {
  /** Corpus copies of the generated documents (`Soak.scaleDocs`, each copy
    * under its own token prefix). */
  val scale = 2
  /** The generated documents' vocabulary (perfbench/datagen.py). */
  val vocab: Seq[String] = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  val freshDocs = 20
  val copyDocs = 10
  val editDocs = 10
  val batchDocs: Int = freshDocs + copyDocs + editDocs
  /** Increments per round, about 6 s. */
  val roundSize = 4
}
