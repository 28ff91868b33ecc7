package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions.{col, concat, lit}

import graft.sources.v2.FileGroup

/** The shared DSv2 file table behind graft-seq, graft-rcfile, graft-text,
  * graft-avro and graft-thrift-seq: job abort and overwrite leave the
  * table as it was, and scans prune files by `_metadata.file_path` and
  * pack small files into shared tasks the way Spark's own file scans do.
  * The partitioned cases run for every format but graft-thrift-seq, whose
  * tables are unpartitioned and run the unpartitioned cases. */
class FileTableSpec extends SparkSpec {

  private val formats = Seq("graft-seq", "graft-rcfile", "graft-text", "graft-avro")

  private def listing(root: File): Seq[String] = {
    def walk(f: File, rel: String): Seq[String] =
      Option(f.listFiles).toSeq.flatten.sortBy(_.getName).flatMap { c =>
        val r = rel + "/" + c.getName
        r +: (if (c.isDirectory) walk(c, r) else Nil)
      }
    walk(root, "")
  }

  /** Relative path -> bytes of every visible data file under `root`. */
  private def contents(root: File): Map[String, Seq[Byte]] =
    listing(root).map(r => r -> new File(root, r))
      .collect { case (r, f) if f.isFile && !f.getName.startsWith(".") =>
        r -> Files.readAllBytes(f.toPath).toSeq }
      .toMap

  /** The input partitions the table scan of `df` plans. */
  private def planned(df: DataFrame): Seq[FileGroup] =
    df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan.toBatch.planInputPartitions().toSeq
    }.flatten.map(_.asInstanceOf[FileGroup])

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** A table `name` of `fmt` partitioned by p, loaded with `files` small
    * files (one per writer task and partition) holding ids 0 until `rows`. */
  private def smallFileTable(name: String, fmt: String, rows: Int, files: Int): String = {
    val base = Files.createTempDirectory(name).toString + "/t"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"""CREATE TABLE $name (id BIGINT, s STRING) USING `$fmt`
                  PARTITIONED BY (p STRING) LOCATION '$base'""")
    spark.sql(s"""INSERT INTO $name SELECT /*+ REPARTITION(${files / 4}) */
                  id, concat('s', id), concat('p', id % 4) FROM range($rows)""")
    base
  }

  /** A table `name` of `fmt` partitioned by p, holding rows in p=x and p=y;
    * returns its directory. */
  private def abortTable(name: String, fmt: String): File = {
    val base = Files.createTempDirectory(name).toString + "/t"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"""CREATE TABLE $name (id BIGINT, s STRING) USING `$fmt`
                  PARTITIONED BY (p STRING) LOCATION '$base'""")
    spark.sql(s"INSERT INTO $name VALUES (1, 'a', 'x'), (2, 'b', 'y')")
    new File(base)
  }

  /** An unpartitioned graft-thrift-seq table `name` of the IntString class
    * (myint, myString, underscore_int), loaded by `inserts`; returns its
    * directory. */
  private def thriftTable(name: String, inserts: String*): File = {
    val base = Files.createTempDirectory(name).toString + "/t"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"""CREATE TABLE $name USING `graft-thrift-seq` OPTIONS ('thrift.class' =
                  'org.apache.hadoop.hive.serde2.thrift.test.IntString') LOCATION '$base'""")
    inserts.foreach(rows => spark.sql(s"INSERT INTO $name $rows"))
    new File(base)
  }

  /** A thrift table `name` with `files` small files holding myint 0 until
    * `rows`. */
  private def smallThriftTable(name: String, rows: Int, files: Int): File =
    thriftTable(name, s"""SELECT /*+ REPARTITION($files) */
      CAST(id AS INT), concat('s', id), CAST(id % 4 AS INT) FROM range($rows)""")

  /** Each of `stmts` writes ids 10 and 11 through `ft_fail_after_peer` into
    * the directory `dirX` of the table at `root`, must fail, and must leave
    * its files and `rows` as they were. Task 0 writes id 10 and commits.
    * Task 1 waits until task 0's file is in `dirX`, gives the scheduler time
    * to take its commit message, then fails the job. */
  private def failedWritesLeave(root: File, rows: => Seq[Any], stmts: Seq[String],
      dirX: File): Unit = {
    val before = dirX.list().toSet
    spark.udf.register("ft_fail_after_peer", (id: Long) => {
      if (id == 11) {
        val deadline = System.currentTimeMillis() + 60000
        while (!Option(dirX.list()).toSeq.flatten
              .exists(n => n.startsWith("part-00000") && !before(n)) &&
            System.currentTimeMillis() < deadline) Thread.sleep(20)
        Thread.sleep(1500)
        throw new IllegalStateException("injected task failure")
      }
      id
    })
    val (files0, rows0) = (listing(root), rows)
    for (stmt <- stmts) {
      val e = intercept[Exception](spark.sql(stmt))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("injected task failure")), e)
      assert(listing(root) == files0, stmt)
      assert(rows == rows0, stmt)
    }
  }

  /** Every column of `df`'s rows and then the row's file, in a fixed order. */
  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.select(df.columns.map(col) :+ col("_metadata.file_path"): _*).collect()
      .map(_.toSeq).toSeq.sortBy(_.mkString("\u0001"))

  /** A `_metadata.file_path` filter on table `name` plans only the files
    * it names, and reads the rows an unpruned scan reads for them. */
  private def prunesByPath(name: String): Unit = {
    val t = spark.table(name)
    val all = t.select("_metadata.file_path").distinct().collect().map(_.getString(0)).sorted
    assert(all.length > 4, all.mkString(","))
    val two = Seq(all(1), all(all.length - 2))
    val pruned = t.where(col("_metadata.file_path").isin(two: _*))
    assert(planned(pruned).flatMap(_.splits.map(_.file)).toSet == two.toSet)
    assert(planned(t.where(col("_metadata.file_path") === two.head))
      .flatMap(_.splits.map(_.file)) == Seq(two.head))
    // the same filter through an expression no scan can prune on
    val unpruned = t.where(concat(col("_metadata.file_path"), lit("")).isin(two: _*))
    assert(planned(unpruned).flatMap(_.splits).length == all.length)
    val got = rowsOf(pruned)
    assert(got.nonEmpty && got == rowsOf(unpruned))
    assert(got.map(_.last).toSet == two.toSet)
    // a path spelled differently names no listed file and reads nothing
    val respelled = two.map(_.replaceFirst("^file:/+", "file:///"))
    assert(respelled != two)
    val other = t.where(col("_metadata.file_path").isin(respelled: _*))
    assert(planned(other).isEmpty && other.count() == 0)
  }

  /** Table `name`'s `files` small files of `rows` rows in all pack into
    * the partition count Spark's own FilePartition rule gives, and read
    * what a one-file-at-a-time scan reads. */
  private def packsSmallFiles(name: String, rows: Int, files: Int): Unit = {
    val t = spark.table(name)
    val groups = planned(t)
    val splits = groups.flatMap(_.splits)
    assert(splits.length == files && splits.forall(s => s.start == 0L))
    // the count Spark's own FilePartition rule gives for these files
    val conf = spark.sessionState.conf
    val lens = splits.map(s => s.file -> new File(new java.net.URI(s.file)).length)
    val maxSplit = FilePartition.maxSplitBytes(spark,
      lens.map(_._2 + conf.filesOpenCostInBytes).sum)
    val expected = FilePartition.getFilePartitions(spark,
      lens.map { case (f, len) =>
        PartitionedFile(null, org.apache.spark.paths.SparkPath.fromUrlString(f), 0L, len)
      }.sortBy(-_.length), maxSplit)
    assert(groups.length == expected.length, s"${groups.length} vs ${expected.length}")
    assert(groups.length < files)
    assert(t.rdd.getNumPartitions == groups.length)
    // every row equals a one-file-at-a-time read, also across the file
    // boundaries inside one task
    val single = withConf("spark.sql.files.openCostInBytes" -> "134217728") {
      assert(planned(spark.table(name)).forall(_.splits.length == 1))
      rowsOf(spark.table(name))
    }
    assert(single.length == rows)
    assert(rowsOf(t) == single)
    val filesPerTask = t.select("_metadata.file_path").rdd
      .mapPartitions(it => Iterator(it.map(_.getString(0)).toSet))
      .collect()
    assert(filesPerTask.exists(_.size > 1))
    assert(filesPerTask.flatten.toSet == single.map(_.last).toSet)
  }

  for (fmt <- formats) {
    test(s"$fmt: a failed INSERT INTO or dynamic INSERT OVERWRITE leaves the table as it was") {
      val root = abortTable("ft_abort", fmt)
      try withConf("spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
        failedWritesLeave(root, spark.table("ft_abort").orderBy("id").collect().toSeq,
          Seq("INSERT INTO", "INSERT OVERWRITE").map(stmt => s"""$stmt ft_abort
            SELECT ft_fail_after_peer(id), 'n', 'x' FROM range(10, 12, 1, 2)"""),
          new File(root, "p=x"))
      } finally spark.sql("DROP TABLE ft_abort")
    }

    test(s"$fmt: a failed static or full INSERT OVERWRITE leaves the table as it was") {
      val root = abortTable("ft_abort_static", fmt)
      def rows = spark.table("ft_abort_static").orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      try withConf("spark.sql.sources.partitionOverwriteMode" -> "static") {
        failedWritesLeave(root, rows, Seq(
          """INSERT OVERWRITE ft_abort_static PARTITION (p = 'x')
             SELECT ft_fail_after_peer(id), 'n' FROM range(10, 12, 1, 2)""",
          """INSERT OVERWRITE ft_abort_static
             SELECT ft_fail_after_peer(id), 'n', 'x' FROM range(10, 12, 1, 2)"""),
          new File(root, "p=x"))
        // the same statements succeed with the result they always had,
        // an overwrite that writes no rows included
        spark.sql("INSERT OVERWRITE ft_abort_static PARTITION (p = 'x') SELECT 5, 'e'")
        assert(rows == Seq((2L, "b", "y"), (5L, "e", "x")))
        spark.sql("INSERT OVERWRITE ft_abort_static PARTITION (p = 'y') SELECT 6, 'f' WHERE false")
        assert(rows == Seq((5L, "e", "x")))
        spark.sql("INSERT OVERWRITE ft_abort_static SELECT 7, 'g', 'z'")
        assert(rows == Seq((7L, "g", "z")))
        assert(root.list().toSet == Set("p=z"))
        spark.sql("INSERT OVERWRITE ft_abort_static SELECT 8, 'h', 'z' WHERE false")
        assert(rows.isEmpty && root.list().filterNot(_.startsWith(".")).isEmpty)
      } finally spark.sql("DROP TABLE ft_abort_static")
    }

    test(s"$fmt: a _metadata.file_path filter plans only the named files") {
      smallFileTable("ft_prune", fmt, rows = 400, files = 24)
      try prunesByPath("ft_prune")
      finally spark.sql("DROP TABLE ft_prune")
    }

    test(s"$fmt: small files pack into Spark's file-scan partition count") {
      smallFileTable("ft_pack", fmt, rows = 4000, files = 40)
      try {
        packsSmallFiles("ft_pack", rows = 4000, files = 40)
        // packing crosses partition directories too
        assert(planned(spark.table("ft_pack")).exists(_.splits.map(_.partSpec).distinct.length > 1))
      } finally spark.sql("DROP TABLE ft_pack")
    }

    test(s"$fmt: byte-range splits of a large file pack beside small files") {
      val dir = Files.createTempDirectory("ft_ranges").toString + "/t"
      val rows = 20000L
      spark.range(rows).select(col("id"), concat(lit("s"), col("id"), lit("x" * 20)).as("s"))
        .coalesce(1).write.format(fmt).mode("overwrite").save(dir)
      spark.range(rows, rows + 60).select(col("id"), concat(lit("s"), col("id")).as("s"))
        .repartition(6).write.format(fmt).mode("append").save(dir)
      def read() = spark.read.format(fmt).schema("id BIGINT, s STRING").load(dir)
      val whole = read().collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
      assert(whole.map(_._1) == (0L until rows + 60))
      val big = new File(dir).listFiles().filter(_.getName.startsWith("part-")).map(_.length).max
      withConf("spark.sql.files.maxPartitionBytes" -> (big * 2 / 5).toString,
          "spark.sql.files.openCostInBytes" -> "1024") {
        val groups = planned(read())
        val split = groups.flatMap(_.splits).groupBy(_.file).filter(_._2.length > 1)
        assert(split.size == 1 && split.head._2.length == 3, groups)
        assert(groups.exists(g => g.splits.map(_.file).distinct.length > 1 &&
          g.splits.exists(_.file == split.head._1)), groups)
        val got = read().collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
        assert(got == whole)
      }
    }

    test(s"$fmt: CoW UPDATE, DELETE and MERGE leave untouched files byte-identical") {
      val base = smallFileTable("ft_cow", fmt, rows = 400, files = 16)
      val root = new File(base)
      def rows = spark.table("ft_cow").select("id", "s", "p").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sortBy(_._1)
      def fileOf(id: Long) = spark.table("ft_cow").where(s"id = $id")
        .select("_metadata.file_path").head().getString(0)
      def rel(uri: String) =
        new File(new java.net.URI(uri)).getPath.stripPrefix(root.getPath)
      /** Runs `stmt`, which touches only `ids`; every other file must keep
        * its name and bytes. */
      def check(stmt: String, ids: Seq[Long]): Unit = {
        val touched = ids.map(id => rel(fileOf(id))).toSet
        val before = contents(root)
        Engine.ddl(spark, stmt)
        val after = contents(root)
        val kept = before.keySet -- touched
        assert(kept.nonEmpty && kept.forall(k => after.get(k) == before.get(k)), stmt)
        assert(touched.forall(k => !after.contains(k)), stmt)
      }
      try {
        val expected = scala.collection.mutable.Map(rows.map(r => r._1 -> r): _*)
        check("UPDATE ft_cow SET s = 'u' WHERE id = 5", Seq(5))
        expected(5) = (5L, "u", "p1")
        check("DELETE FROM ft_cow WHERE id = 6", Seq(6))
        expected -= 6
        spark.sql("DROP TABLE IF EXISTS ft_cow_src")
        spark.sql(s"""CREATE TABLE ft_cow_src USING parquet
          LOCATION '${Files.createTempDirectory("ft_cow_src")}/s' AS
          SELECT 7L AS id, 'm' AS s, 'p3' AS p UNION ALL SELECT 900L, 'n', 'p0'""")
        check("""MERGE INTO ft_cow t USING ft_cow_src v ON t.id = v.id
          WHEN MATCHED THEN UPDATE SET s = v.s
          WHEN NOT MATCHED THEN INSERT VALUES (v.id, v.s, v.p)""", Seq(7))
        expected(7) = (7L, "m", "p3")
        expected(900) = (900L, "n", "p0")
        assert(rows == expected.values.toSeq.sortBy(_._1))
      } finally {
        spark.sql("DROP TABLE IF EXISTS ft_cow_src")
        spark.sql("DROP TABLE ft_cow")
      }
    }
  }

  private def thriftRows(name: String): Seq[(Int, String, Int)] =
    spark.table(name).collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
      .toSeq.sorted

  test("graft-thrift-seq: INSERT OVERWRITE replaces the table in static and dynamic mode") {
    for (mode <- Seq("static", "dynamic")) {
      val root = thriftTable("ft_thrift_ow", "VALUES (1, 'a', 10), (2, 'b', 20)")
      try withConf("spark.sql.sources.partitionOverwriteMode" -> mode) {
        spark.sql("INSERT OVERWRITE ft_thrift_ow SELECT 3, 'c', 30")
        assert(thriftRows("ft_thrift_ow") == Seq((3, "c", 30)), mode)
        Engine.ddl(spark, "INSERT OVERWRITE TABLE ft_thrift_ow SELECT 4, 'd', 40")
        assert(thriftRows("ft_thrift_ow") == Seq((4, "d", 40)), mode)
        spark.sql("INSERT OVERWRITE ft_thrift_ow SELECT 5, 'e', 50 WHERE false")
        assert(thriftRows("ft_thrift_ow").isEmpty &&
          root.list().filterNot(_.startsWith(".")).isEmpty, mode)
      } finally spark.sql("DROP TABLE ft_thrift_ow")
    }
  }

  test("graft-thrift-seq: a failed INSERT INTO or INSERT OVERWRITE leaves the table as it was") {
    for (mode <- Seq("static", "dynamic")) {
      val root = thriftTable("ft_thrift_abort", "VALUES (1, 'a', 10), (2, 'b', 20)")
      try withConf("spark.sql.sources.partitionOverwriteMode" -> mode) {
        failedWritesLeave(root, thriftRows("ft_thrift_abort"),
          Seq("INSERT INTO", "INSERT OVERWRITE").map(stmt => s"""$stmt ft_thrift_abort
            SELECT CAST(ft_fail_after_peer(id) AS INT), 'n', 0 FROM range(10, 12, 1, 2)"""),
          root)
        assert(thriftRows("ft_thrift_abort") == Seq((1, "a", 10), (2, "b", 20)), mode)
      } finally spark.sql("DROP TABLE ft_thrift_abort")
    }
  }

  test("graft-thrift-seq: a _metadata.file_path filter plans only the named files") {
    smallThriftTable("ft_thrift_prune", rows = 400, files = 24)
    try prunesByPath("ft_thrift_prune")
    finally spark.sql("DROP TABLE ft_thrift_prune")
  }

  test("graft-thrift-seq: small files pack into Spark's file-scan partition count") {
    smallThriftTable("ft_thrift_pack", rows = 4000, files = 40)
    try packsSmallFiles("ft_thrift_pack", rows = 4000, files = 40)
    finally spark.sql("DROP TABLE ft_thrift_pack")
  }

  test("CoW DML on distinct tables leaves no table lock behind") {
    val dirs = (1 to 3).map(i => Files.createTempDirectory(s"ft_lock$i").toString + "/t")
    try {
      dirs.zipWithIndex.foreach { case (d, i) =>
        spark.sql(s"DROP TABLE IF EXISTS ft_lock$i")
        spark.sql(s"CREATE TABLE ft_lock$i (id INT, v INT) USING parquet LOCATION '$d'")
        spark.sql(s"INSERT INTO ft_lock$i SELECT id, 0 FROM range(10)")
        Engine.ddl(spark, s"UPDATE ft_lock$i SET v = 1 WHERE id = 3")
        Engine.ddl(spark, s"DELETE FROM ft_lock$i WHERE id = 4")
      }
      assert(operators.Acid.lockedTables == 0)
      assert(spark.table("ft_lock2").where("v = 1").count() == 1)
    } finally dirs.indices.foreach(i => spark.sql(s"DROP TABLE IF EXISTS ft_lock$i"))
  }
}
