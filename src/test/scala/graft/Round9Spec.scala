package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Round-9 gates: the r8 advisor fixes — partitioned-COMPACT guard,
  * row-level DML on the graft DSv2 sources via a real `_metadata` column,
  * session-timezone-correct sequencefile timestamps — plus this round's
  * statement-surface additions.
  */
class Round9Spec extends SparkSpec {

  // ---- COMPACT guard (advisor high: silent data loss) --------------------

  test("whole-table COMPACT on a partitioned table is rejected, data intact") {
    val d = Engine.ddl(spark, _: String)
    d("DROP TABLE IF EXISTS r9_cpart")
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + "/r9_cpart")
    wh.getFileSystem(spark.sessionState.newHadoopConf()).delete(wh, true)
    d("CREATE TABLE r9_cpart (k INT) PARTITIONED BY (p STRING)")
    d("INSERT INTO r9_cpart PARTITION (p='a') VALUES (1), (2)")
    d("INSERT INTO r9_cpart PARTITION (p='b') VALUES (9)")
    // reference: ErrorMsg.java:405 NO_COMPACTION_PARTITION — a flat rewrite
    // would delete the partition subdirectories' files
    val e = intercept[Exception](d("ALTER TABLE r9_cpart COMPACT 'major'"))
    assert(e.getMessage.contains("partition to compact"), e.getMessage)
    assert(spark.table("r9_cpart").count() == 3)
    // per-partition compaction still works; unpartitioned whole-table too
    d("ALTER TABLE r9_cpart PARTITION (p='a') COMPACT 'major'")
    assert(spark.table("r9_cpart").count() == 3)
    d("DROP TABLE r9_cpart")

    d("DROP TABLE IF EXISTS r9_cflat")
    d("CREATE TABLE r9_cflat (k INT)")
    d("INSERT INTO r9_cflat VALUES (1), (2)")
    d("ALTER TABLE r9_cflat COMPACT 'major'")
    assert(spark.table("r9_cflat").count() == 2)
    d("DROP TABLE r9_cflat")
  }

  // ---- DSv2 _metadata + CoW DML on graft-seq / graft-avro ----------------

  test("graft-seq exposes _metadata.file_path and supports CoW UPDATE/DELETE") {
    import spark.implicits._
    val dir = Files.createTempDirectory("r9_seqdml").toString + "/t"
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "s").repartition(3)
      .write.format("graft-seq").mode("overwrite").save(dir)
    // sequencefile text doesn't self-describe: programmatic DML carries
    // the schema explicitly (the SQL route passes the catalog's)
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id INT, s STRING")
    val df = spark.read.schema(schema).format("graft-seq").load(dir)
    assert(df.select(col("_metadata.file_path")).distinct().count() == 3)

    operators.Acid.updateWhere(spark, dir, col("id") === 2,
      Map("s" -> lit("B")), format = "graft-seq", schema = schema)
    val after = spark.read.schema(schema).format("graft-seq").load(dir)
      .as[(Int, String)].collect().sorted
    assert(after.toSeq == Seq((1, "a"), (2, "B"), (3, "c")))

    operators.Acid.deleteWhere(spark, dir, col("id") === 1,
      format = "graft-seq", schema = schema)
    assert(spark.read.schema(schema).format("graft-seq").load(dir)
      .as[(Int, String)].collect().sorted.toSeq == Seq((2, "B"), (3, "c")))
  }

  test("graft-avro exposes _metadata.file_path and supports CoW MERGE") {
    import spark.implicits._
    val dir = Files.createTempDirectory("r9_avrodml").toString + "/t"
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "s").repartition(3)
      .write.format("graft-avro").mode("overwrite").save(dir)
    assert(spark.read.format("graft-avro").load(dir)
      .select(col("_metadata.file_path")).distinct().count() == 3)

    val src = Seq((2, "B2"), (4, "d")).toDF("id", "s")
    operators.Acid.mergeInto(spark, dir, src, keys = Seq("id"),
      setFromSource = Seq("s"), format = "graft-avro")
    assert(spark.read.format("graft-avro").load(dir)
      .as[(Int, String)].collect().sorted.toSeq ==
      Seq((1, "a"), (2, "B2"), (3, "c"), (4, "d")))
  }

  test("UPDATE statement works end-to-end on a STORED AS SEQUENCEFILE table") {
    val d = Engine.ddl(spark, _: String)
    d("DROP TABLE IF EXISTS r9_sequpd")
    d("CREATE TABLE r9_sequpd (k INT, v STRING) STORED AS SEQUENCEFILE")
    d("INSERT INTO r9_sequpd VALUES (1, 'x'), (2, 'y')")
    d("UPDATE r9_sequpd SET v = 'z' WHERE k = 2")
    assert(spark.table("r9_sequpd").collect()
      .map(r => (r.getInt(0), r.getString(1))).sorted.toSeq ==
      Seq((1, "x"), (2, "z")))
    d("DROP TABLE r9_sequpd")
  }

  // ---- MERGE: target-alias refs in SET (accumulate upsert) ---------------

  test("MERGE SET mixing target and source columns evaluates post-join") {
    val d = Engine.ddl(spark, _: String)
    d("DROP TABLE IF EXISTS r9_acc")
    d("CREATE TABLE r9_acc (k INT, cnt INT)")
    d("INSERT INTO r9_acc VALUES (1, 10), (2, 20)")
    spark.createDataFrame(Seq((1, 5), (3, 7))).toDF("k", "cnt")
      .createOrReplaceTempView("r9_accsrc")
    d("""MERGE INTO r9_acc t USING r9_accsrc s ON t.k = s.k
         WHEN MATCHED THEN UPDATE SET cnt = t.cnt + s.cnt
         WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.cnt)""")
    assert(spark.table("r9_acc").collect()
      .map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq ==
      Seq((1, 15), (2, 20), (3, 7)))
    // delete predicate may mix sides too; unmatched target rows survive
    d("""MERGE INTO r9_acc t USING r9_accsrc s ON t.k = s.k
         WHEN MATCHED AND t.cnt > s.cnt THEN DELETE""")
    assert(spark.table("r9_acc").collect()
      .map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq ==
      Seq((2, 20), (3, 7)))
    d("DROP TABLE r9_acc")
  }

  test("MERGE INSERT VALUES referencing the target alias is rejected") {
    val d = Engine.ddl(spark, _: String)
    d("DROP TABLE IF EXISTS r9_mbadins")
    d("CREATE TABLE r9_mbadins (k INT, v INT)")
    spark.createDataFrame(Seq((1, 2))).toDF("k", "v")
      .createOrReplaceTempView("r9_mbadinssrc")
    val e = intercept[Exception](d(
      """MERGE INTO r9_mbadins t USING r9_mbadinssrc s ON t.k = s.k
         WHEN NOT MATCHED THEN INSERT VALUES (s.k, t.v + 1)"""))
    assert(e.getMessage.contains("cannot reference the target alias"),
      e.getMessage)
    d("DROP TABLE r9_mbadins")
  }

  // ---- SHOW CONF / SHOW TABLE EXTENDED / ALTER INDEX SET -----------------

  test("SHOW CONF answers (default, type, desc); unknown names error") {
    val d = Engine.ddl(spark, _: String)
    val r = d("SHOW CONF 'spark.sql.shuffle.partitions'").collect()
    assert(r.length == 1)
    assert(r(0).schema.fieldNames.toSeq == Seq("default", "type", "desc"))
    assert(r(0).getString(1) == "INT")
    assert(r(0).getString(2).toLowerCase.contains("partitions"))
    val b = d("SHOW CONF 'spark.sql.adaptive.enabled'").head()
    assert(b.getString(1) == "BOOLEAN")
    assert(intercept[RuntimeException](d("SHOW CONF 'no.such.conf'"))
      .getMessage.contains("invalid configuration name"))
  }

  test("SHOW TABLE EXTENDED answers Hive's key:value status lines") {
    val d = Engine.ddl(spark, _: String)
    d("DROP TABLE IF EXISTS r9_ste")
    d("CREATE TABLE r9_ste (id INT, name STRING, amt BIGINT) " +
      "PARTITIONED BY (p STRING) STORED AS ORC")
    d("INSERT INTO r9_ste PARTITION (p='a') VALUES (1, 'x', 10)")
    d("INSERT INTO r9_ste PARTITION (p='b') VALUES (2, 'y', 20)")
    val lines = d("SHOW TABLE EXTENDED LIKE 'r9_ste'").collect()
      .map(_.getString(0)).toSeq
    def valOf(k: String) = lines.find(_.startsWith(k + ":"))
      .map(_.stripPrefix(k + ":")).getOrElse(fail(s"missing $k line"))
    assert(valOf("tableName") == "r9_ste")
    assert(valOf("partitioned") == "true")
    // thrift DDL shape (MetaStoreUtils.getDDLFromFieldSchema)
    assert(valOf("columns") == "struct columns { i32 id, string name, i64 amt}")
    assert(valOf("partitionColumns") == "struct partition_columns { string p}")
    assert(valOf("inputformat").contains("OrcInputFormat"))
    assert(valOf("totalNumberFiles").toInt == 2)
    assert(valOf("totalFileSize").toLong > 0)
    assert(valOf("minFileSize").toLong > 0)

    // PARTITION spec narrows the filesystem stats to that partition
    val pl = d("SHOW TABLE EXTENDED LIKE 'r9_ste' PARTITION (p='a')")
      .collect().map(_.getString(0)).toSeq
    val pFiles = pl.find(_.startsWith("totalNumberFiles:")).get
    assert(pFiles == "totalNumberFiles:1", pFiles)
    assert(pl.exists(l => l.startsWith("location:") && l.endsWith("p=a")))

    // LIKE pattern matches multiple tables, one block each
    d("DROP TABLE IF EXISTS r9_ste2")
    d("CREATE TABLE r9_ste2 (k INT)")
    val multi = d("SHOW TABLE EXTENDED LIKE 'r9_ste*'").collect()
      .map(_.getString(0)).count(_.startsWith("tableName:"))
    assert(multi == 2)
    d("DROP TABLE r9_ste")
    d("DROP TABLE r9_ste2")
  }

  test("ALTER INDEX ... SET IDXPROPERTIES is accepted as a no-op") {
    val df = Engine.ddl(spark,
      "ALTER INDEX idx_x ON orders SET IDXPROPERTIES ('prop'='v')")
    assert(df.count() == 0)
  }

  // ---- global-window attribution guard -----------------------------------

  test("only t12's 20-row post-limit ranking plans a global window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow, WindowGroupLimit}
    def globalWindow(name: String): Boolean =
      SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan
        .collectFirst {
          case w: LWindow if w.partitionSpec.isEmpty => w
          case w: WindowGroupLimit if w.partitionSpec.isEmpty => w
        }.nonEmpty
    // the one sanctioned site: ranking the 20 survivors of a top-k cut
    assert(globalWindow("t12_vocab_build"))
    // the window/rank/tfidf family must never move data-sized input to a
    // single partition (the q23 r8 flip and the GlobalRank paths pin this)
    for (q <- Seq("q18_topk", "q19_window_rank", "q20_window_running",
        "q23_window_ntile", "q124_global_rank", "t11_weighted_sample",
        "t13_tfidf_keywords"))
      assert(!globalWindow(q), s"$q plans a single-partition window")
  }

  // ---- NO_DROP: qualified-name keys + DROP DATABASE CASCADE guard --------

  test("NO_DROP protection is identity-based, not spelling-based") {
    val d = Engine.ddl(spark, _: String)
    d("CREATE DATABASE IF NOT EXISTS r9db")
    d("DROP TABLE IF EXISTS r9db.prot")
    d("CREATE TABLE r9db.prot (k INT)")
    // protect under the QUALIFIED spelling; unqualified drop in that db
    // must still be blocked (and so must DROP DATABASE CASCADE)
    d("ALTER TABLE r9db.prot ENABLE NO_DROP")
    val prevDb = spark.catalog.currentDatabase
    try {
      spark.sql("USE r9db")
      assert(intercept[RuntimeException](d("DROP TABLE prot"))
        .getMessage.contains("NO_DROP"))
      assert(intercept[RuntimeException](d("DROP DATABASE r9db CASCADE"))
        .getMessage.contains("NO_DROP"))
      // unqualified DISABLE under the current db clears the same key
      d("ALTER TABLE prot DISABLE NO_DROP")
      d("DROP TABLE prot")
    } finally spark.sql(s"USE $prevDb")
    d("DROP DATABASE r9db CASCADE")
  }

  // ---- sequencefile timestamps: session zone, not JVM zone ---------------

  test("graft-seq timestamps render in the session zone; NTZ is zone-free") {
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      val dir = Files.createTempDirectory("r9_seqtz").toString + "/t"
      // 2024-03-01 12:00:00 UTC = 2024-03-01 21:00:00 Asia/Tokyo
      spark.sql("SELECT TIMESTAMP'2024-03-01 21:00:00' AS ts, " +
          "TIMESTAMP_NTZ'2024-05-06 07:08:09.25' AS nts")
        .write.format("graft-seq").mode("overwrite").save(dir)

      // the on-disk text is the SESSION wall clock (Hive renders the
      // reader's zone), regardless of what the JVM default zone is
      val file = graft.sources.v2.FileSplits.listFilesWithLen(dir).head._1
      val r = new org.apache.hadoop.io.SequenceFile.Reader(
        new org.apache.hadoop.conf.Configuration(),
        org.apache.hadoop.io.SequenceFile.Reader.file(
          new org.apache.hadoop.fs.Path(file)))
      val (k, v) = (new org.apache.hadoop.io.BytesWritable,
        new org.apache.hadoop.io.Text)
      assert(r.next(k, v))
      r.close()
      val cells = v.toString.split("\u0001", -1)
      assert(cells(0) == "2024-03-01 21:00:00.0", cells(0))
      assert(cells(1) == "2024-05-06 07:08:09.25", cells(1))

      // read-back under the same session zone preserves the instant
      val schema = "ts TIMESTAMP, nts TIMESTAMP_NTZ"
      val back = spark.read.schema(schema).format("graft-seq").load(dir)
        .selectExpr("CAST(ts AS STRING)", "CAST(nts AS STRING)").head()
      assert(back.getString(0) == "2024-03-01 21:00:00")
      assert(back.getString(1) == "2024-05-06 07:08:09.25")

      // a DIFFERENT session zone reinterprets TIMESTAMP text as its own
      // wall clock (Hive text semantics) but never moves TIMESTAMP_NTZ
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      val utc = spark.read.schema(schema).format("graft-seq").load(dir)
        .selectExpr("unix_timestamp(ts)", "CAST(nts AS STRING)").head()
      // text "21:00:00" read as UTC wall clock = 9h later than Tokyo
      assert(utc.getLong(0) ==
        java.time.Instant.parse("2024-03-01T21:00:00Z").getEpochSecond)
      assert(utc.getString(1) == "2024-05-06 07:08:09.25")
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  // ---- round-9 dialect fixes (golden-gated end-to-end; unit-pinned here) --

  test("qualified virtual columns rewrite into the table's FROM entry") {
    val in = "SELECT t3.BLOCK__OFFSET__INSIDE__FILE, t3.key FROM src t1 " +
      "JOIN src t3 ON t1.key = t3.key"
    val out = frontend.Rewrites.rewriteVirtualColumns(in)
    // the vcol becomes a projected column of a subquery replacing `src t3`
    assert(out.contains("(SELECT *, input_file_block_start() AS graft_vc_off FROM src) t3"), out)
    assert(out.contains("t3.graft_vc_off"), out)
    assert(!out.contains("t3.input_file_block_start"), out)
    // bare (unqualified) refs keep the direct function mapping
    assert(frontend.Rewrites.rewriteVirtualColumns("SELECT INPUT__FILE__NAME FROM src")
      .contains("input_file_name()"))
  }

  test("SORTED BY directions normalize to Spark's ASC-only bucket DDL") {
    Tables.views(spark, sf, "nation")
    Engine.ddl(spark, "DROP TABLE IF EXISTS r9_desc")
    Engine.ddl(spark, "CREATE TABLE r9_desc (key STRING, value STRING) USING parquet " +
      "CLUSTERED BY (key) SORTED BY (key DESC, value ASC) INTO 2 BUCKETS")
    Engine.ddl(spark,
      "INSERT INTO r9_desc SELECT CAST(n_nationkey AS STRING), n_name FROM nation")
    assert(spark.table("r9_desc").count() == 25)
    Engine.ddl(spark, "DROP TABLE r9_desc")
  }

  test("implicit narrowing insert casts retry statement-scoped, session stays ANSI") {
    Tables.views(spark, sf, "nation")
    Engine.ddl(spark, "DROP TABLE IF EXISTS r9_narrow")
    Engine.ddl(spark, "CREATE TABLE r9_narrow (key INT) USING parquet")
    // STRING -> INT is CANNOT_SAFELY_CAST under ANSI; the Hive retry lands it
    Engine.ddl(spark,
      "INSERT INTO r9_narrow SELECT CAST(n_nationkey AS STRING) FROM nation WHERE n_nationkey < 3")
    assert(spark.table("r9_narrow").count() == 3)
    assert(spark.conf.get("spark.sql.storeAssignmentPolicy") != "LEGACY",
      "the LEGACY policy must not leak past the statement")
    Engine.ddl(spark, "DROP TABLE r9_narrow")
  }

  test("FROM-first insert with a joined source keeps both aliases resolvable") {
    Tables.views(spark, sf, "nation")
    Engine.ddl(spark, "DROP TABLE IF EXISTS r9_mij")
    Engine.ddl(spark, "CREATE TABLE r9_mij (key INT, value STRING) USING parquet")
    Engine.ddl(spark,
      "FROM nation src1 INNER JOIN nation src2 ON (src1.n_nationkey = src2.n_nationkey) " +
        "INSERT OVERWRITE TABLE r9_mij SELECT src1.n_nationkey, src2.n_name " +
        "WHERE src1.n_nationkey < 4")
    assert(spark.table("r9_mij").count() == 4)
    Engine.ddl(spark, "DROP TABLE r9_mij")
  }

  test("avro decimals round-trip at declared scale through both paths") {
    val dir = Files.createTempDirectory("r9_avdec").toString
    // path write and read
    val df = spark.sql(
      "SELECT CAST(v AS DECIMAL(8,3)) AS d FROM VALUES (1.5), (-2.125), (999.999) t(v)")
    df.write.format("graft-avro").mode("overwrite").save(dir)
    val back = spark.read.format("graft-avro").load(dir)
    assert(back.schema("d").dataType == org.apache.spark.sql.types.DecimalType(8, 3))
    assert(back.selectExpr("CAST(d AS STRING)").collect().map(_.getString(0)).sorted
      .sameElements(Array("-2.125", "1.500", "999.999")))
    // DSv2 path: INSERT OVERWRITE an unpartitioned avro table (the
    // dynamic-overwrite capability) narrowing 8,3 -> 7,2 with rounding
    Engine.ddl(spark, "DROP TABLE IF EXISTS r9_avdec")
    Engine.ddl(spark, "CREATE TABLE r9_avdec (d DECIMAL(7,2)) STORED AS AVRO")
    df.createOrReplaceTempView("r9_avdec_src")
    Engine.ddl(spark, "INSERT OVERWRITE TABLE r9_avdec SELECT d FROM r9_avdec_src")
    val v2 = spark.table("r9_avdec").selectExpr("CAST(d AS STRING)")
      .collect().map(_.getString(0)).sorted
    assert(v2.sameElements(Array("-2.13", "1.50", "1000.00")), v2.mkString(","))
    Engine.ddl(spark, "DROP TABLE r9_avdec")
  }

  // ---- review follow-ups: partitioned CoW DML, merge collision, snapshot --

  test("UPDATE/DELETE on a partitioned parquet table keep the layout") {
    Tables.views(spark, sf, "nation")
    Engine.ddl(spark, "DROP TABLE IF EXISTS r9_pdml")
    Engine.ddl(spark, "CREATE TABLE r9_pdml (k INT, v STRING) " +
      "PARTITIONED BY (p STRING)")
    Engine.ddl(spark, "INSERT INTO r9_pdml PARTITION (p='a') " +
      "SELECT CAST(n_nationkey AS INT), concat('v', n_nationkey) FROM nation WHERE n_nationkey < 5")
    Engine.ddl(spark, "INSERT INTO r9_pdml PARTITION (p='b') " +
      "SELECT CAST(n_nationkey AS INT), concat('v', n_nationkey) FROM nation WHERE n_nationkey < 3")
    Engine.ddl(spark, "UPDATE r9_pdml SET v = 'X' WHERE k = 1 AND p = 'a'")
    Engine.ddl(spark, "DELETE FROM r9_pdml WHERE k = 2 AND p = 'b'")
    val got = spark.table("r9_pdml").selectExpr("p", "k", "v")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).sorted
    // partition VALUES survive the rewrite (a flattened root write loses
    // them), only the targeted rows changed, the other partition intact
    assert(got.count(_._1 == "a") == 5)
    assert(got.count(_._1 == "b") == 2)
    assert(got.contains(("a", 1, "X")))
    assert(!got.exists(t => t._1 == "b" && t._2 == 2))
    assert(got.contains(("b", 1, "v1")))
    // SET on a partition column is rejected (Hive parity)
    intercept[RuntimeException](
      Engine.ddl(spark, "UPDATE r9_pdml SET p = 'c' WHERE k = 0"))
    Engine.ddl(spark, "DROP TABLE r9_pdml")
  }

  test("MERGE on a partitioned table updates in place and registers inserted partitions") {
    Tables.views(spark, sf, "nation")
    Engine.ddl(spark, "DROP TABLE IF EXISTS r9_pmrg")
    Engine.ddl(spark, "CREATE TABLE r9_pmrg (k INT, v STRING) " +
      "PARTITIONED BY (p STRING)")
    Engine.ddl(spark, "INSERT INTO r9_pmrg PARTITION (p='a') VALUES (1, 'old'), (2, 'keep')")
    spark.sql("SELECT * FROM VALUES (1, 'new', 'a'), (9, 'ins', 'z') AS s(k, v, p)")
      .createOrReplaceTempView("r9_pmrg_src")
    Engine.ddl(spark,
      "MERGE INTO r9_pmrg t USING r9_pmrg_src s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET v = s.v " +
        "WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.v, s.p)")
    val got = spark.table("r9_pmrg").selectExpr("p", "k", "v")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).sorted
    assert(got.sameElements(Array(("a", 1, "new"), ("a", 2, "keep"), ("z", 9, "ins"))),
      got.mkString(","))
    // the inserted partition is CATALOG-visible (MSCK ran): a partition
    // filter on it answers from the registry, not just raw files
    assert(spark.sql("SELECT count(*) FROM r9_pmrg WHERE p = 'z'").head().getLong(0) == 1)
    Engine.ddl(spark, "DROP TABLE r9_pmrg")
  }

  test("partitioned graft-seq DML via legacy STORED AS DDL (r10: supported)") {
    // was a loud refusal through round 9; the sources now walk the Hive
    // p=v layout, so the same statement mutates in place, layout intact
    Engine.ddl(spark, "DROP TABLE IF EXISTS r9_pseq")
    Engine.ddl(spark, "CREATE TABLE r9_pseq (k INT, v STRING) " +
      "PARTITIONED BY (p STRING) STORED AS SEQUENCEFILE")
    Engine.ddl(spark, "INSERT INTO r9_pseq VALUES (1, 'x', 'a'), (2, 'y', 'b')")
    Engine.ddl(spark, "UPDATE r9_pseq SET v = 'Y' WHERE k = 1")
    val got = spark.table("r9_pseq").orderBy("k")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    assert(got == Seq((1, "Y", "a"), (2, "y", "b")), got)
    Engine.ddl(spark, "DROP TABLE r9_pseq")
  }

  test("MERGE post-join SET reads the raw source column when names collide") {
    Engine.ddl(spark, "DROP TABLE IF EXISTS r9_acc")
    Engine.ddl(spark, "CREATE TABLE r9_acc (k INT, cnt INT) USING parquet")
    Engine.ddl(spark, "INSERT INTO r9_acc VALUES (1, 10), (2, 20)")
    spark.sql("SELECT * FROM VALUES (1, 5), (3, 7) AS s(k, cnt)")
      .createOrReplaceTempView("r9_acc_src")
    // the INSERT branch maps cnt -> 0; the UPDATE must still read s.cnt,
    // not the insert's 0 (the accumulate-upsert + counter-reset shape)
    Engine.ddl(spark,
      "MERGE INTO r9_acc t USING r9_acc_src s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET cnt = t.cnt + s.cnt " +
        "WHEN NOT MATCHED THEN INSERT VALUES (s.k, 0)")
    val got = spark.table("r9_acc").collect()
      .map(r => (r.getInt(0), r.getInt(1))).sorted
    assert(got.sameElements(Array((1, 15), (2, 20), (3, 0))), got.mkString(","))
    Engine.ddl(spark, "DROP TABLE r9_acc")
  }

  test("joined multi-insert reads the pre-statement snapshot of all sources") {
    Engine.ddl(spark, "DROP TABLE IF EXISTS r9_snap_a")
    Engine.ddl(spark, "DROP TABLE IF EXISTS r9_snap_b")
    Engine.ddl(spark, "DROP TABLE IF EXISTS r9_snap_c")
    Engine.ddl(spark, "CREATE TABLE r9_snap_a (k INT, v STRING) USING parquet")
    Engine.ddl(spark, "CREATE TABLE r9_snap_b (k INT, w STRING) USING parquet")
    Engine.ddl(spark, "CREATE TABLE r9_snap_c (k INT, v STRING, w STRING) USING parquet")
    Engine.ddl(spark, "INSERT INTO r9_snap_a VALUES (1, 'a1'), (2, 'a2')")
    Engine.ddl(spark, "INSERT INTO r9_snap_b VALUES (1, 'b1'), (2, 'b2')")
    // branch 1 OVERWRITES source table a; branch 2 must still read a's
    // ORIGINAL rows through the join (genBodyPlan single-snapshot)
    Engine.ddl(spark,
      "FROM r9_snap_a a JOIN r9_snap_b b ON a.k = b.k " +
        "INSERT OVERWRITE TABLE r9_snap_a SELECT a.k + 10, a.v " +
        "INSERT INTO TABLE r9_snap_c SELECT a.k, a.v, b.w")
    val c = spark.table("r9_snap_c").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sorted
    assert(c.sameElements(Array((1, "a1", "b1"), (2, "a2", "b2"))), c.mkString(","))
    val a = spark.table("r9_snap_a").collect().map(_.getInt(0)).sorted
    assert(a.sameElements(Array(11, 12)), a.mkString(","))
    Engine.ddl(spark, "DROP TABLE r9_snap_a")
    Engine.ddl(spark, "DROP TABLE r9_snap_b")
    Engine.ddl(spark, "DROP TABLE r9_snap_c")
  }

  test("avro reads honor the file's decimal scale under schema evolution") {
    val dir = Files.createTempDirectory("r9_avev").toString
    // files written at scale 3; the table schema declares scale 2 —
    // values must RESCALE, not shift by a power of ten
    spark.sql("SELECT CAST(v AS DECIMAL(8,3)) AS d FROM VALUES (12.345), (7.5) t(v)")
      .write.format("graft-avro").mode("overwrite").save(dir)
    val got = spark.read.format("graft-avro").schema("d DECIMAL(8,2)").load(dir)
      .selectExpr("CAST(d AS STRING)").collect().map(_.getString(0)).sorted
    assert(got.sameElements(Array("12.35", "7.50")), got.mkString(","))
  }

  // ---- third review batch: grouping keys, serde round-trips, edges ------

  test("matchpath partitions with null components never merge") {
    import spark.implicits._
    // two logical partitions: ("a", null) and (null, "a") — a separator
    // join that drops nulls would fuse them into one sorted run and match
    // the pattern ACROSS the partition boundary
    val df = Seq(
      (Some("a"), Option.empty[String], 1, 10),
      (Some("a"), Option.empty[String], 2, 5),
      (Option.empty[String], Some("a"), 3, 10),
      (Option.empty[String], Some("a"), 4, 5)
    ).toDF("p1", "p2", "seq", "v")
    val out = operators.MatchPath.matchPathRows(spark, df,
      partCols = Seq(col("p1"), col("p2")), sortCols = Seq(col("seq")),
      pattern = "A.B",
      symbols = Seq("A" -> (col("v") === 10), "B" -> (col("v") === 5)))
    // each partition holds exactly one A followed by one B: 1 match per
    // partition; a merged group would also match at the boundary rows
    assert(out.count() == 2, out.collect().mkString(","))
  }

  test("sequencefile text round-trips empty string distinctly from NULL") {
    import spark.implicits._
    val dir = Files.createTempDirectory("r9_seqempty").toString + "/t"
    val df = Seq((1, Some("")), (2, None), (3, Some("x")))
      .toDF("id", "s")
    df.write.format("graft-seq").mode("overwrite").save(dir)
    val back = spark.read.format("graft-seq").schema("id INT, s STRING").load(dir)
      .collect().map(r => (r.getInt(0), Option(r.get(1)).map(_.toString))).sorted
    assert(back.toSeq == Seq((1, Some("")), (2, None), (3, Some("x"))), back.mkString(","))
  }

  test("global-rank distribution on a single row yields percent_rank 0.0") {
    import spark.implicits._
    val one = Seq((1L, 42.0)).toDF("id", "x")
    val out = operators.GlobalRank.distribution(one,
      keyOrder = Seq(col("x")), keys = Seq(col("x")),
      tieBreak = Seq(col("id")), buckets = 4).select("pr").head()
    assert(out.getDouble(0) == 0.0, out.getDouble(0))
  }

  test("avro read scales timestamp-millis files (Hive AvroSerDe parity)") {
    // hand-write a container whose ts field is long + timestamp-millis
    val dir = Files.createTempDirectory("r9_avms").toString
    val schema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"r","fields":[
         {"name":"ts","type":{"type":"long","logicalType":"timestamp-millis"}}]}""")
    val w = new org.apache.avro.file.DataFileWriter[org.apache.avro.generic.GenericRecord](
      new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](schema))
    val f = new java.io.File(dir, "part-00000.avro")
    w.create(schema, f): Unit
    val rec = new org.apache.avro.generic.GenericData.Record(schema)
    rec.put(0, 1700000000000L) // 2023-11-14T22:13:20Z in MILLIS
    w.append(rec); w.close()
    val got = spark.read.format("graft-avro").load(dir)
      .selectExpr("unix_timestamp(ts)").head().getLong(0)
    assert(got == 1700000000L, s"$got — millis file misread as micros")
    // a table over the file declares the column, and reads it the same
    Engine.ddl(spark, "DROP TABLE IF EXISTS r9_avms")
    Engine.ddl(spark, s"CREATE TABLE r9_avms (ts TIMESTAMP) STORED AS AVRO LOCATION '$dir'")
    try {
      val viaTable = spark.table("r9_avms").selectExpr("unix_timestamp(ts)").head().getLong(0)
      assert(viaTable == 1700000000L, s"$viaTable — millis file misread as micros")
    } finally Engine.ddl(spark, "DROP TABLE r9_avms")
  }

  // ---- fourth review batch: merge predicates, protect mode, escaping ----

  test("MERGE WHEN MATCHED AND pred THEN UPDATE applies conditionally") {
    val d = Engine.ddl(spark, _: String)
    d("DROP TABLE IF EXISTS r9_cupd")
    d("CREATE TABLE r9_cupd (k INT, v STRING, flag INT)")
    d("INSERT INTO r9_cupd VALUES (1, 'a', 0), (2, 'b', 0)")
    spark.sql("SELECT * FROM VALUES (1, 'A', 1), (2, 'B', 0) AS s(k, v, flag)")
      .createOrReplaceTempView("r9_cupd_src")
    d("""MERGE INTO r9_cupd t USING r9_cupd_src s ON t.k = s.k
         WHEN MATCHED AND s.flag = 1 THEN UPDATE SET v = s.v""")
    val got = spark.table("r9_cupd").collect()
      .map(r => (r.getInt(0), r.getString(1))).sorted
    // only the flag=1 source row updates; the other keeps the target value
    assert(got.sameElements(Array((1, "A"), (2, "b"))), got.mkString(","))
    d("DROP TABLE r9_cupd")
  }

  test("escaped quote inside an UPDATE SET literal does not swallow the comma") {
    val d = Engine.ddl(spark, _: String)
    d("DROP TABLE IF EXISTS r9_esc")
    d("CREATE TABLE r9_esc (k INT, a STRING, b INT)")
    d("INSERT INTO r9_esc VALUES (1, 'old', 0)")
    d("UPDATE r9_esc SET a = 'x\\'y', b = 2 WHERE k = 1")
    val r = spark.table("r9_esc").head()
    assert(r.getString(1) == "x'y" && r.getInt(2) == 2, r.toString)
    d("DROP TABLE r9_esc")
  }

  test("NO_DROP CASCADE protects partitions; backticked DROP is still guarded") {
    val d = Engine.ddl(spark, _: String)
    d("DROP TABLE IF EXISTS r9_casc")
    d("CREATE TABLE r9_casc (k INT) PARTITIONED BY (p STRING)")
    d("INSERT INTO r9_casc PARTITION (p='a') VALUES (1)")
    d("ALTER TABLE r9_casc ENABLE NO_DROP CASCADE")
    // cascade reaches the partitions, not just the table object
    intercept[Exception](d("ALTER TABLE r9_casc DROP PARTITION (p='a')"))
    // a backtick-quoted name must not slip past the table guard
    intercept[Exception](d("DROP TABLE `r9_casc`"))
    d("ALTER TABLE r9_casc DISABLE NO_DROP")
    d("ALTER TABLE r9_casc DROP PARTITION (p='a')")
    d("DROP TABLE r9_casc")
  }

  test("FROM-first INSERT OVERWRITE of a table the query reads stages correctly") {
    val d = Engine.ddl(spark, _: String)
    d("DROP TABLE IF EXISTS r9_self")
    d("CREATE TABLE r9_self (k INT)")
    d("INSERT INTO r9_self VALUES (1), (2), (3)")
    // the union22.q shape through the FROM-first route
    d("FROM r9_self INSERT OVERWRITE TABLE r9_self SELECT k + 10")
    val got = spark.table("r9_self").collect().map(_.getInt(0)).sorted
    assert(got.sameElements(Array(11, 12, 13)), got.mkString(","))
    d("DROP TABLE r9_self")
  }

  test("INSERT OVERWRITE DIRECTORY STORED AS TEXTFILE uses the \\001 delimiter") {
    val dir = Files.createTempDirectory("r9_iod").toString + "/out"
    Engine.ddl(spark,
      s"INSERT OVERWRITE DIRECTORY '$dir' STORED AS TEXTFILE " +
        "SELECT 1 AS a, 'x' AS b")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val line = fs.listStatus(fs.makeQualified(new org.apache.hadoop.fs.Path(dir)))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .flatMap { st =>
        val in = fs.open(st.getPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      }.head
    assert(line == "1\u0001x", line.replace('\u0001', '|'))
  }
}
