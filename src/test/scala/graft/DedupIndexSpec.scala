package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.collection.mutable.ArrayBuffer
import graft.operators.Dedup
import graft.tools.Checkpoints
import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** The per-file corpus index behind `Dedup.dedupIncrement`: a bare
  * file-scan corpus answers exactly as the same rows passed in memory,
  * each call signs only the batch plus the files it has not seen, a file
  * rewritten in place or deleted never answers from its old bands, a small
  * batch probes the held index rows in place, and closing the session
  * frees them.
  */
class DedupIndexSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val rnd = new scala.util.Random(7)
  private def docs(ids: Seq[Long]): Seq[(Long, String)] = ids.map(i =>
    i -> (0 until 20 + rnd.nextInt(20)).map(_ => s"t${rnd.nextInt(400)}").mkString(" "))

  private def frame(rows: Seq[(Long, String)]): DataFrame = rows.toDF("doc_id", "text")

  private def screen(corpus: DataFrame, batch: Seq[(Long, String)]): Set[Long] =
    Dedup.dedupIncrement(corpus, frame(batch)).as[Long].collect().toSet

  private def read(dir: Path): DataFrame = spark.read.parquet(dir.toString)

  private def parts(dir: Path): Set[Path] = Files.list(dir).iterator.asScala
    .filter(_.getFileName.toString.startsWith("part-")).toSet

  // a batch of n docs: fresh texts, exact copies and light edits of `rows`
  private def batchOf(rows: Seq[(Long, String)], from: Long, n: Int): Seq[(Long, String)] = {
    val third = n / 3
    docs(from until from + third) ++
      (from + third until from + 2 * third).map(_ -> rows(rnd.nextInt(rows.size))._2) ++
      (from + 2 * third until from + n).map(_ -> (rows(rnd.nextInt(rows.size))._2 + " edited"))
  }

  // corpus index rows (only they carry band hashes) reach `p` without
  // passing a join
  private def corpusFed(p: SparkPlan): Boolean = p match {
    case s: RDDScanExec => s.output.exists(_.name == "bhs")
    case _: BaseJoinExec => false
    case _ => allChildren(p).exists(corpusFed)
  }

  // the local file system verifies a data file against its .crc sibling
  private def crc(p: Path): Path = p.resolveSibling(s".${p.getFileName}.crc")

  test("a file-scan corpus answers as its rows in memory; later calls sign only the batch and new files") {
    val dir = Files.createTempDirectory("graft_dedup_idx").resolve("corpus")
    var rows = docs(0L until 60L)
    frame(rows).repartition(3).write.parquet(dir.toString)
    assert(parts(dir).size == 3)
    var nextId = 1000L
    def ids(n: Int) = { nextId += n; (nextId - n) until nextId }
    var appended = 0
    for (round <- 0 until 4) {
      val fresh = docs(ids(6))
      // copies and edits also draw on survivors appended by earlier rounds
      val copies = ids(4).map(_ -> rows(rnd.nextInt(rows.size))._2)
      val edits = ids(4).map(_ -> (rows(rnd.nextInt(rows.size))._2 + " edited"))
      val batch = rnd.shuffle(fresh ++ copies ++ edits)
      val got = screen(read(dir), batch)
      val signed = Dedup.lastIncrementSignedDocs
      assert(signed == batch.size + (if (round == 0) rows.size else appended),
        s"round $round signed $signed")
      assert(got == screen(frame(rows), batch), s"round $round")
      assert(copies.forall(c => !got(c._1)) && fresh.forall(f => got(f._1)))
      val survivors = batch.filter(d => got(d._1))
      frame(survivors).coalesce(1).write.mode("append").parquet(dir.toString)
      rows ++= survivors
      appended = survivors.size
      // the harness sweep between queries must leave the index intact
      Checkpoints.sweep()
    }
  }

  test("a corpus file rewritten in place or deleted never answers from its old bands") {
    val root = Files.createTempDirectory("graft_dedup_idx")
    val dir = root.resolve("corpus")
    val a = docs(0L until 20L)
    val b = docs(20L until 40L)
    frame(a).coalesce(1).write.parquet(dir.toString)
    val fileA = parts(dir).head
    frame(b).coalesce(1).write.mode("append").parquet(dir.toString)
    val fileB = (parts(dir) - fileA).head
    val batch = Seq(100L -> a.head._2, 101L -> b.head._2)
    assert(screen(read(dir), batch) == Set.empty[Long])
    // overwrite A's file with different (and fewer) docs at the same path
    val c = docs(40L until 45L)
    val staged = root.resolve("staged")
    frame(c).coalesce(1).write.parquet(staged.toString)
    val src = parts(staged).head
    Files.copy(src, fileA, StandardCopyOption.REPLACE_EXISTING)
    Files.copy(crc(src), crc(fileA), StandardCopyOption.REPLACE_EXISTING)
    assert(screen(read(dir), batch) == Set(100L))
    assert(screen(read(dir), Seq(102L -> c.head._2)) == Set.empty[Long])
    assert(Dedup.lastIncrementSignedDocs == 1)
    // deleting B drops its docs from the screen
    Files.delete(fileB)
    Files.delete(crc(fileB))
    assert(screen(read(dir), batch) == Set(100L, 101L))
    assert(screen(read(dir), batch) == screen(frame(c), batch))
    Checkpoints.sweep()
  }

  test("file-scan corpus edges: empty directory, empty batch, empty-text docs") {
    val root = Files.createTempDirectory("graft_dedup_idx")
    val empty = Files.createDirectories(root.resolve("empty"))
    val none = spark.read.schema("doc_id BIGINT, text STRING").parquet(empty.toString)
    assert(screen(none, Seq(1L -> "a b c d e f g h")) == Set(1L))
    val one = root.resolve("one")
    frame(Seq(1L -> "a b c d e f g h")).coalesce(1).write.parquet(one.toString)
    assert(screen(read(one), Nil) == Set.empty[Long])
    // an empty-text batch doc has a one-token ("") set: never a near-dup
    // of real text, still present in the output
    val batch = Seq(10L -> "", 11L -> "a b c d e f g h")
    assert(screen(read(one), batch) == Set(10L))
    // an empty-text corpus doc answers as it does in memory
    val withEmpty = Seq(1L -> "a b c d e f g h", 2L -> "")
    frame(withEmpty.tail).coalesce(1).write.mode("append").parquet(one.toString)
    assert(screen(read(one), batch) == screen(frame(withEmpty), batch))
    // a file path holding glob characters is read whole, not per file
    val globbed = root.resolve("nested")
    frame(withEmpty).coalesce(1).write.parquet(globbed.resolve("c[1]").toString)
    val nested = spark.read.option("recursiveFileLookup", "true").parquet(globbed.toString)
    assert(screen(nested, batch) == screen(frame(withEmpty), batch))
    Checkpoints.sweep()
  }

  test("dedup operators run on a session without graft's registered functions") {
    val fresh = spark.newSession()
    import fresh.implicits._
    val corpus = Seq(1L -> "a b c d e f g h", 2L -> "p q r s t u").toDF("doc_id", "text")
    val batch = Seq(10L -> "a b c d e f g h", 11L -> "x y z").toDF("doc_id", "text")
    assert(Dedup.dedupIncrement(corpus, batch).as[Long].collect().toSet == Set(11L))
    assert(Dedup.confirmedPairs(corpus.union(batch)).as[(Long, Long)].collect().toSeq
      == Seq(1L -> 10L))
    Checkpoints.sweep()
  }

  test("a small batch probes the held corpus index in place, in at most 6 jobs") {
    val dir = Files.createTempDirectory("graft_dedup_idx").resolve("corpus")
    val rows = docs(0L until 90L)
    frame(rows).repartition(3).write.parquet(dir.toString)
    val warm = batchOf(rows, 1000L, 9)
    assert(screen(read(dir), warm) == screen(frame(rows), warm))
    val batch = batchOf(rows, 2000L, 9)
    // the reader's schema job runs before the counted window
    val corpus = read(dir)
    val jobs = ArrayBuffer.empty[Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized(jobs += e.jobId)
    }
    GraftListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val kept = try {
      val out = Dedup.dedupIncrement(corpus, frame(batch))
      val ids = out.collect().map(_.getLong(0)).toSet
      GraftListenerBus.drain(spark.sparkContext)
      assert(Dedup.lastIncrementSignedDocs == batch.size)
      // no corpus row is shuffled or broadcast: each reaches the band join
      val plan = out.queryExecution.executedPlan
      val exchanges = collect(plan) { case e: Exchange => e }
      assert(exchanges.nonEmpty && !exchanges.exists(e => corpusFed(e.child)), plan)
      assert(find(plan)(p => p.isInstanceOf[RDDScanExec] && p.output.exists(_.name == "bhs"))
        .nonEmpty, plan)
      ids
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.size <= 6, s"jobs ${jobs.mkString(",")}")
    assert(kept == screen(frame(rows), batch))
    Checkpoints.sweep()
  }

  test("a batch with more docs than the corpus answers as the in-memory corpus") {
    val dir = Files.createTempDirectory("graft_dedup_idx").resolve("corpus")
    val rows = docs(0L until 10L)
    frame(rows).repartition(2).write.parquet(dir.toString)
    val batch = batchOf(rows, 1000L, 30)
    val got = screen(read(dir), batch)
    assert(got == screen(frame(rows), batch))
    assert(batch.slice(10, 20).forall(c => !got(c._1)) && batch.take(10).forall(f => got(f._1)))
    Checkpoints.sweep()
  }

  test("Engine.closeSession frees the session's corpus index") {
    val s = spark.newSession()
    val dir = Files.createTempDirectory("graft_dedup_idx").resolve("corpus")
    val rows = docs(0L until 20L)
    frame(rows).repartition(2).write.parquet(dir.toString)
    val sc = spark.sparkContext
    Checkpoints.sweep()
    val before = sc.getPersistentRDDs.keySet
    val batch = s.createDataFrame(batchOf(rows, 1000L, 6)).toDF("doc_id", "text")
    Dedup.dedupIncrement(s.read.parquet(dir.toString), batch).collect()
    Checkpoints.sweep()
    val pieces = sc.getPersistentRDDs.keySet -- before
    assert(pieces.size == 2, pieces)
    Engine.closeSession(s)
    assert((sc.getPersistentRDDs.keySet & pieces).isEmpty)
    Engine.closeSession(s)
    assert((sc.getPersistentRDDs.keySet & pieces).isEmpty)
  }
}
