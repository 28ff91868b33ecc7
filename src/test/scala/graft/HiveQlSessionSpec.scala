package graft

import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import frontend.{HiveQlParser, Router}

/** HiveQL as the session's parser. The session here is built by Spark's
  * own builder with `spark.sql.extensions=graft.plans.GraftExtensions`
  * and Hive 1.2's runtime confs, never by `Engine.session`: the dialect,
  * the function pack and the handlers all come from the extension, and
  * every statement goes through plain `spark.sql`.
  */
class HiveQlSessionSpec extends SparkSpec {

  private lazy val hive: SparkSession = {
    // the shared session first: `create()` makes the new session the
    // thread's active one, and later suites' `Engine.session` must keep
    // finding the shared one
    val shared = spark
    val s = SparkSession.builder()
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", Files.createTempDirectory("hiveql_wh").toString)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .create()
    SparkSession.setActiveSession(shared)
    SparkSession.setDefaultSession(shared)
    Tables.views(s, sf, Tables.all: _*)
    s
  }

  private def drain(s: SparkSession): Unit =
    org.apache.spark.GraftListenerBus.drain(s.sparkContext)

  test("a session with only the extension parses HiveQL and has the function pack") {
    assert(hive.sessionState.sqlParser.isInstanceOf[HiveQlParser])
    assert(hive.sql("SELECT field('b', 'a', 'b'), greatest(1, NULL)").collect().head.toSeq ==
      Seq(2, null))
  }

  // a seeded sample of the golden corpus, statement by statement through
  // plain spark.sql; scripts that need the script runner's variable
  // substitution or SOURCE are not samples of spark.sql
  private val sample: Seq[java.nio.file.Path] = {
    val scripts = Files.list(GoldenSpec.dir).iterator().asScala
      .filter(_.toString.endsWith(".sql")).toSeq.sortBy(_.toString)
      .filterNot { p =>
        val text = Files.readString(p)
        text.contains("${") || Engine.splitStatements(text).exists(
          _.linesIterator.dropWhile(_.trim.startsWith("--")).mkString.trim
            .toUpperCase.startsWith("SOURCE"))
      }
    new scala.util.Random(20261019).shuffle(scripts).take(150).sortBy(_.toString)
  }

  test("a seeded sample of golden scripts matches through plain spark.sql") {
    assert(sample.size == 150)
    val wrong = sample.flatMap { path =>
      val name = path.getFileName.toString.stripSuffix(".sql")
      val before = hive.conf.getAll
      val got =
        try Right(GoldenSpec.canonicalize(
          Engine.splitStatements(Files.readString(path)).map(hive.sql).last))
        catch { case e: Exception => Left(s"$name: ${e.getMessage.take(300)}") }
        finally hive.conf.getAll.foreach { case (k, v) =>
          before.get(k) match {
            case Some(old) if old != v =>
              try hive.conf.set(k, old) catch { case _: Exception => () }
            case None =>
              try hive.conf.unset(k) catch { case _: Exception => () }
            case _ => ()
          }
        }
      val want = Files.readString(path.resolveSibling(s"$name.out"))
      got match {
        case Right(out) if out == want => None
        case Right(_) => Some(s"$name: result differs from $name.out")
        case Left(err) => Some(err)
      }
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  private def table(name: String, format: String): Unit = {
    hive.sql(s"DROP TABLE IF EXISTS $name")
    hive.sql(s"""CREATE TABLE $name (k BIGINT, q BIGINT) PARTITIONED BY (p STRING)
                 STORED AS $format TBLPROPERTIES ('transactional'='true')""")
    hive.sql(s"INSERT INTO TABLE $name PARTITION (p='a') VALUES (1, 10), (2, 20), (3, 30)")
  }

  test("statement effects run after spark.sql's parsing phase, not inside it") {
    table("hq_eff", "PARQUET")
    val jobs = ArrayBuffer.empty[Long]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized(jobs += e.time)
    }
    hive.sparkContext.addSparkListener(listener)
    try Seq(
      "UPDATE hq_eff SET q = q + 1 WHERE k = 2",
      "DELETE FROM hq_eff WHERE k = 3",
      """MERGE INTO hq_eff t USING (SELECT 1L AS k, 5L AS q, 'a' AS p) s ON t.k = s.k
         WHEN MATCHED THEN UPDATE SET q = s.q""",
      "INSERT INTO TABLE hq_eff PARTITION (p='b') VALUES (7, 70)").foreach { stmt =>
      drain(hive)
      jobs.synchronized(jobs.clear())
      val parsing = hive.sql(stmt).queryExecution.tracker.phases("parsing")
      drain(hive)
      val starts = jobs.synchronized(jobs.toList)
      assert(starts.nonEmpty, s"no Spark job ran for: $stmt")
      assert(starts.min >= parsing.endTimeMs,
        s"a job started at ${starts.min}, inside the parse ending at ${parsing.endTimeMs}: $stmt")
    } finally hive.sparkContext.removeSparkListener(listener)
    assert(hive.sql("SELECT k, q, p FROM hq_eff ORDER BY k").collect().map(_.toString).toSeq ==
      Seq("[1,5,a]", "[2,21,a]", "[7,70,b]"))
  }

  test("each statement is routed once, and its plan names the handler") {
    table("hq_once", "PARQUET")
    Seq("hq_once2", "hq_once3").foreach { t =>
      hive.sql(s"DROP TABLE IF EXISTS $t")
      hive.sql(s"CREATE TABLE $t (k BIGINT, q BIGINT) USING parquet")
    }
    hive.sql("DROP TABLE IF EXISTS hq_cast")
    hive.sql("CREATE TABLE hq_cast (k INT) USING parquet")
    val tagged = ArrayBuffer.empty[String]
    val listener = new QueryExecutionListener {
      private def note(qe: QueryExecution): Unit =
        qe.logical.getTagValue(HiveQlParser.HandlerTag).foreach(h => tagged.synchronized(tagged += h))
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = note(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = note(qe)
    }
    hive.listenerManager.register(listener)
    try Seq(
      // REFRESH and MSCK run inside the MERGE
      """MERGE INTO hq_once t USING (SELECT 2L AS k, 9L AS q, 'b' AS p) s ON t.k = s.k
         WHEN MATCHED THEN UPDATE SET q = s.q
         WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.q, s.p)""",
      "FROM hq_once INSERT INTO TABLE hq_once2 SELECT k, q INSERT INTO TABLE hq_once3 SELECT k, q + 1",
      // a STRING into an INT column: the CANNOT_SAFELY_CAST retry on a clone
      "INSERT INTO hq_cast SELECT '5'",
      "EXPLAIN AUTHORIZATION SELECT * FROM hq_once",
      "EXPLAIN SELECT k FROM hq_once WHERE q > 1").foreach { stmt =>
      drain(hive)
      tagged.synchronized(tagged.clear())
      // a row-less statement runs as spark.sql returns; a frame with
      // columns runs once it is collected
      val df = hive.sql(stmt)
      if (df.columns.nonEmpty) df.collect()
      drain(hive)
      val handler = Router.route(hive, stmt)
      assert(tagged.synchronized(tagged.toList) == List(handler), stmt)
    } finally hive.listenerManager.unregister(listener)
    assert(hive.sql("SELECT k FROM hq_cast").collect().map(_.getInt(0)).toSeq == Seq(5))
    assert(hive.sql("SELECT (SELECT count(*) FROM hq_once2) + (SELECT count(*) FROM hq_once3)")
      .collect().head.getLong(0) == 6)
  }
}
