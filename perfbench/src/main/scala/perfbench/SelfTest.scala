package perfbench

import java.nio.file.{Files, Paths}

/** Shows that each workload's check passes on the engine's real output and
  * rejects a deliberately wrong expected answer. Exits non-zero otherwise.
  *
  * Usage: SelfTest --run-dir D (launched by `perfbench/run.py --selftest`).
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val runDir = Paths.get(args(1)).toAbsolutePath
    System.setProperty("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
    val spark = graft.Engine.session("local[2]", "perfbench-selftest", 2)
    import spark.implicits._
    var bad = 0
    def expect(what: String, passes: Boolean, verdict: Option[String]): Unit =
      if (verdict.isEmpty != passes) {
        bad += 1
        println(s"SELFTEST FAILED: $what: ${verdict.getOrElse("accepted")}")
      } else println(s"selftest ok: $what${verdict.map(v => s" (rejected: ${v.take(100)})").getOrElse("")}")
    try {
      // golden diff, on a real golden script
      val fixture = Paths.get("perfbench/fixture/sf0.001").toAbsolutePath.toString
      graft.Tables.views(spark, fixture, graft.Tables.all: _*)
      val golden = Paths.get("src/test/resources/golden")
      val got = Checks.canonicalize(graft.Engine.script(spark, fixture,
        Files.readString(golden.resolve("g01_join_agg.sql"))))
      val want = Files.readString(golden.resolve("g01_join_agg.out"))
      expect("golden script matches its .out", passes = true, Checks.golden(got, want))
      val lines = want.split("\n")
      val wrong = (lines.take(1) ++ lines.drop(1).take(1).map(_ + "0") ++ lines.drop(2))
        .mkString("\n") + "\n"
      expect("golden diff catches a changed cell", passes = false, Checks.golden(got, wrong))

      // DML read-back model
      val dir = runDir.resolve("tables/t").toString
      graft.Engine.ddl(spark, s"""CREATE TABLE st (k BIGINT, q BIGINT) PARTITIONED BY (p STRING)
        STORED AS PARQUET LOCATION '$dir'""")
      graft.Engine.ddl(spark, "INSERT INTO TABLE st PARTITION (p='a') VALUES (1, 10), (2, 20), (3, 30)")
      graft.Engine.ddl(spark, "UPDATE st SET q = q + 5 WHERE k BETWEEN 2 AND 3")
      val m = CowDml.Model(scala.collection.mutable.ArrayBuffer(1L, 2L, 3L),
        scala.collection.mutable.ArrayBuffer(10L, 20L, 30L),
        scala.collection.mutable.ArrayBuffer("a", "a", "a"),
        scala.collection.mutable.ArrayBuffer(true, true, true))
      m.update(2, 3, _ + 5)
      val r = spark.sql("SELECT count(*), CAST(sum(q) AS BIGINT) FROM st WHERE k BETWEEN 1 AND 3")
        .collect()(0)
      val read = (r.getLong(0), r.getLong(1))
      expect("DML read-back matches the model", passes = true, Checks.readBack(read, m.read(1, 3)))
      m.delete(1, 1)
      expect("DML model catches a row the engine still has", passes = false,
        Checks.readBack(read, m.read(1, 3)))

      // planted exact copies
      val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
        (2L, "one two three four five six seven eight")).toDF("doc_id", "text")
      val batch = Seq((10L, "alpha beta gamma delta epsilon zeta eta theta"),
        (11L, "fresh_a fresh_b fresh_c fresh_d fresh_e fresh_f")).toDF("doc_id", "text")
      val kept = graft.operators.Dedup.dedupIncrement(corpus, batch).as[Long].collect().toSet
      expect("dedup rejects the planted copy and keeps the fresh doc", passes = true,
        Checks.increment(kept, Seq(10L), Seq(11L)))
      expect("copy check catches a planted copy claimed fresh", passes = false,
        Checks.increment(kept, Nil, Seq(10L, 11L)))
      expect("copy check catches a fresh doc claimed a copy", passes = false,
        Checks.increment(kept, Seq(10L, 11L), Nil))
    } finally spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
