package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.plans.logical.{InsertIntoStatement, UnresolvedWith}
import frontend.{Dml, HiveQlParser, TableDesc}

/** The insert route reads Spark's parsed INSERT plan: the target, the
  * PARTITION clause (None for a dynamic column) and the query come from
  * the parse, so a static value holding `)`, `,`, `'`, `=` or `--`, a CTE
  * prefix, and any keyword spelling reach the same guards and the same
  * partition directory.
  */
class InsertRouteSpec extends SparkSpec {

  private def withConfs(kvs: (String, String)*)(body: => Unit): Unit = {
    val before = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def table(name: String, using: String): Unit = {
    val base = Files.createTempDirectory(name).toString + "/t"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"""CREATE TABLE $name (k INT, v STRING, p STRING) USING $using
                  PARTITIONED BY (p) LOCATION '$base'""")
  }

  test("dynamic partitions disabled refuse a dynamic column after a static value holding ')'") {
    spark.sql("DROP TABLE IF EXISTS ir_dyn")
    spark.sql("CREATE TABLE ir_dyn (v STRING, a STRING, b STRING) USING parquet PARTITIONED BY (a, b)")
    withConfs("hive.exec.dynamic.partition" -> "false") {
      val e = intercept[Exception](
        spark.sql("INSERT INTO ir_dyn PARTITION (a='x)y', b) SELECT 'v', 'b1'"))
      assert(e.getMessage.contains("Dynamic partition is disabled"), e.getMessage)
    }
    assert(spark.table("ir_dyn").count() == 0)
    spark.sql("DROP TABLE ir_dyn")
  }

  test("a CTE-prefixed INSERT into an archived partition is refused") {
    spark.sql("DROP TABLE IF EXISTS ir_arch")
    spark.sql("CREATE TABLE ir_arch (v STRING, p STRING) USING parquet PARTITIONED BY (p)")
    withConfs("hive.archive.enabled" -> "true") {
      spark.sql("INSERT INTO ir_arch PARTITION (p='v') VALUES ('a')")
      spark.sql("ALTER TABLE ir_arch ARCHIVE PARTITION (p='v')")
      val e = intercept[Exception](spark.sql(
        "WITH c AS (SELECT 'b' AS v) INSERT INTO ir_arch PARTITION (p='v') SELECT * FROM c"))
      assert(e.getMessage.contains("Insert conflict with existing archive"), e.getMessage)
      spark.sql("ALTER TABLE ir_arch UNARCHIVE PARTITION (p='v')")
    }
    spark.sql("DROP TABLE ir_arch")
  }

  test("a self-read INSERT OVERWRITE keeps a static value holding ','") {
    spark.sql("DROP TABLE IF EXISTS ir_self")
    spark.sql("CREATE TABLE ir_self (v STRING, p STRING) USING parquet PARTITIONED BY (p)")
    spark.sql("INSERT INTO ir_self PARTITION (p='src') VALUES ('a'), ('b')")
    spark.sql("INSERT OVERWRITE TABLE ir_self PARTITION (p='a,b') " +
      "SELECT upper(v) FROM ir_self WHERE p = 'src'")
    val got = spark.sql("SELECT p, v FROM ir_self ORDER BY p, v").collect()
      .map(r => r.getString(0) -> r.getString(1)).toSeq
    assert(got == Seq("a,b" -> "A", "a,b" -> "B", "src" -> "a", "src" -> "b"))
    spark.sql("DROP TABLE ir_self")
  }

  // ---- seeded property: generated INSERT text against Spark's parse ----

  private val valuePieces =
    Seq(")", "(", ",", "\\'", "=", "--", ":", "%", "a", "Z", "7", "_")

  private def spelled(rnd: scala.util.Random, kw: String): String =
    kw.map(c => if (rnd.nextBoolean()) c.toUpper else c.toLower)

  private def gap(rnd: scala.util.Random): String =
    Seq(" ", "  ", "\n", "\t", " \n  ")(rnd.nextInt(5))

  /** An INSERT of `rows` rows keyed `key` into `t`'s static partition: a
    * random value, keyword case, whitespace, CTE prefix and tail. */
  private def statement(rnd: scala.util.Random, t: String, key: Int): String = {
    val value = Seq.fill(1 + rnd.nextInt(5))(valuePieces(rnd.nextInt(valuePieces.size))).mkString
    val w = () => gap(rnd)
    val kw = (s: String) => s.split(" ").map(spelled(rnd, _)).mkString(w())
    val mode = if (rnd.nextBoolean()) kw("INSERT OVERWRITE TABLE") else kw("INSERT INTO")
    val head = s"$mode${w()}$t${w()}${kw("PARTITION")}${w()}(p${w()}=${w()}'$value')"
    val cte = rnd.nextBoolean()
    val tail = rnd.nextInt(2) match {
      case 0 if cte => s"${kw("SELECT")} k, v ${kw("FROM")} c"
      case 0 => s"${kw("SELECT")} /*+ REPARTITION(3) */ CAST($key AS INT), concat('r', id)" +
        s"${w()}${kw("FROM")} range(3)"
      case _ => s"${kw("VALUES")}${w()}($key, 'r0'),${w()}($key, 'r1')"
    }
    val prefix =
      if (cte) s"${kw("WITH")} c ${kw("AS")}${w()}(SELECT /*+ REPARTITION(3) */ " +
        s"CAST($key AS INT) AS k, concat('r', id) AS v FROM range(3))${w()}"
      else ""
    // a VALUES tail after a CTE prefix reads no CTE, which is legal
    prefix + head + w() + tail
  }

  /** The static spec Spark's own parser reads from `stmt`. */
  private def parsedSpec(stmt: String): Seq[(String, String)] =
    HiveQlParser.sparkParser(spark).parsePlan(stmt) match {
      case i: InsertIntoStatement => i.partitionSpec.toSeq.map { case (k, v) => k -> v.get }
      case UnresolvedWith(i: InsertIntoStatement, _, _) =>
        i.partitionSpec.toSeq.map { case (k, v) => k -> v.get }
      case other => fail(s"not an INSERT: ${other.getClass}")
    }

  Seq("parquet", "`graft-seq`").foreach { using =>
    test(s"seeded INSERTs into a partitioned $using table land where Spark's parse names") {
      val t = if (using == "parquet") "ir_prop_pq" else "ir_prop_seq"
      table(t, using)
      val rnd = new scala.util.Random(20261019)
      val wrong = withMerge {
        (1 to 40).flatMap { key =>
          val stmt = statement(rnd, t, key)
          val spec = parsedSpec(stmt)
          try {
            spark.sql(stmt)
            val rows = spark.sql(s"SELECT p, _metadata.file_path FROM $t WHERE k = $key")
              .collect().map(r => r.getString(0) -> r.getString(1).split('/').last).toSeq
            val files = rows.map(_._2).distinct
            // the directory the merge lists (URI spelling) holds the rows' files
            val scope = new Path(new java.net.URI(
              Dml.mergeScope(TableDesc.of(spark, t), Some(spec))))
            val fs = scope.getFileSystem(spark.sessionState.newHadoopConf())
            val listed = if (fs.exists(scope)) fs.listStatus(scope).map(_.getPath.getName).toSet
              else Set.empty[String]
            if (rows.isEmpty || rows.exists(_._1 != spec.head._2))
              Some(s"$stmt\n  rows ${rows.map(_._1)} not under ${spec.head._2}")
            else if (!files.forall(listed))
              Some(s"$stmt\n  merge scope $scope does not hold ${files.mkString(", ")}")
            else if (files.size != 1)
              Some(s"$stmt\n  ${files.size} files left unmerged")
            else None
          } catch { case e: Exception => Some(s"$stmt\n  ${e.getMessage.take(300)}") }
        }
      }
      assert(wrong.isEmpty, wrong.mkString("\n"))
      spark.sql(s"DROP TABLE $t")
    }
  }

  private def withMerge[T](body: => T): T = {
    spark.conf.set("hive.merge.mapfiles", "true")
    try body finally spark.conf.unset("hive.merge.mapfiles")
  }
}
