package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Round-10 gates: the r9 advisor fixes (fan-out replay idempotency lives
  * in StreamingSpec; import committer-artifact exclusion, DSv2 filtered
  * overwrite guard, statement-scoped permissive-cast retry here) plus the
  * round's Hive-semantics closures.
  */
class Round10Spec extends SparkSpec {

  // ---- IMPORT excludes committer staging directories ---------------------

  test("IMPORT skips _temporary/.spark-staging droppings in the export") {
    import spark.implicits._
    val exp = Files.createTempDirectory("r10_exp").toString
    val loc = Files.createTempDirectory("r10_imp").toString + "/t"
    operators.ExportImport.exportTable(
      Seq((1, "a"), (2, "b")).toDF("k", "v"), exp, partitionBy = Seq("v"))
    // simulate a failed committer leaving staging junk under data/
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sessionState.newHadoopConf())
    for (junk <- Seq("_temporary/0/task_1", ".spark-staging-abc/p",
        ".hive-staging_hive_1/x")) {
      val d = new org.apache.hadoop.fs.Path(s"$exp/data/$junk")
      fs.mkdirs(d)
      val f = fs.create(new org.apache.hadoop.fs.Path(d, "part-junk.parquet"))
      f.write(Array[Byte](1, 2, 3)); f.close()
    }
    spark.sql("DROP TABLE IF EXISTS r10_imp")
    val got = operators.ExportImport.importTable(spark, exp, "r10_imp", loc)
    assert(got.count() == 2)
    // the junk directories must not have been byte-copied into the table
    val copied = fs.listStatus(new org.apache.hadoop.fs.Path(loc))
      .map(_.getPath.getName).toSet
    assert(!copied.exists(n => n == "_temporary" || n.startsWith(".spark-staging")
      || n.startsWith(".hive-staging")), copied.mkString(", "))
    // underscore-prefixed PARTITION dirs still pass through (v=_x is legal)
    assert(copied.exists(_.startsWith("v=")))
    spark.sql("DROP TABLE r10_imp")
  }

  // ---- DSv2 overwrite refuses a pushed row filter ------------------------

  test("graft file formats: overwrite(filters) rejects real filters") {
    import org.apache.spark.sql.sources.{AlwaysTrue, EqualTo, Filter}
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id INT")
    for (codec <- Seq[sources.v2.FileCodec](sources.v2.SeqCodec(),
        sources.v2.RcCodec(), sources.v2.TextCodec(), sources.v2.AvroCodec)) {
      val b = new sources.v2.FileWriteBuilder("/tmp/never", schema, Nil, codec)
      // AlwaysTrue (whole-table) is the planner's no-op filter: accepted
      b.overwrite(Array[Filter](AlwaysTrue))
      // a pushed ROW filter (id is not a partition column) must fail loudly
      val e = intercept[RuntimeException](b.overwrite(Array[Filter](EqualTo("id", 1))))
      assert(e.getMessage.contains("partition-equality overwrite"), codec.name)
    }
  }

  // ---- Hive compare-via-double (FunctionRegistry.java:702) ---------------

  test("string vs numeric comparison goes via double, Hive-style") {
    def one(sql: String): Any = spark.sql(s"SELECT $sql").collect()(0).get(0)
    // the round-8/9 pinned divergence, now Hive semantics: '1e2' = 100
    assert(one("'1e2' = 100") == true)
    assert(one("'1e2' = 100L") == true)
    assert(one("'1e2' = CAST(100 AS SMALLINT)") == true)
    assert(one("'100.0' = 100") == true)
    assert(one("'1e2' <> 100") == false)
    assert(one("'1e2' > 99") == true)
    assert(one("'9.9e1' < 100") == true)
    assert(one("100 = '1e2'") == true)
    assert(one("100 >= '1e2'") == true)
    assert(one("'2.5e-1' = 0.25D") == true)
    // garbage strings: double-cast NULLs out, comparison is NULL
    assert(one("'abc' = 100") == null)
    assert(one("'abc' > 100") == null)
    // plain numeric strings behave as before
    assert(one("'100' = 100") == true)
    assert(one("'99' < 100") == true)
    // user-written CAST keeps strict cast-then-compare semantics (Hive
    // casts string→int the same way; only BARE comparisons go via double)
    assert(one("CAST('1e2' AS INT) = 100") == null)
    // string vs string still compares as string
    assert(one("'1e2' = '100'") == false)
  }

  test("IN lists mix string/numeric via double, Hive-style") {
    def one(sql: String): Any = spark.sql(s"SELECT $sql").collect()(0).get(0)
    assert(one("'1e2' IN (100, 200)") == true)
    assert(one("100 IN ('1e2', '300')") == true)
    assert(one("'abc' IN (1, 2)") == null)
    assert(one("'10' IN (10, 20)") == true)
    assert(one("5 IN ('5.0', '6')") == true)
    // refined native shape: int value + plain int strings keeps the
    // integer domain (no cast on the value side)
    import spark.implicits._
    Seq(1, 42, 7).toDF("n").createOrReplaceTempView("r10_in")
    val plan = spark.sql("SELECT * FROM r10_in WHERE n IN ('42', '7')")
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("cast(n"), plan)
    assert(spark.sql("SELECT count(*) FROM r10_in WHERE n IN ('42', '7')")
      .collect()(0).getLong(0) == 2)
    // unrefinable member forces the double path, still Hive-correct
    assert(spark.sql("SELECT count(*) FROM r10_in WHERE n IN ('4.2e1', '7')")
      .collect()(0).getLong(0) == 2)
  }

  test("compare-via-double holds on columns, joins and filters") {
    import spark.implicits._
    Seq(("1e2", 100), ("abc", 5), ("07", 7), ("2.0", 2))
      .toDF("s", "n").createOrReplaceTempView("r10_cmp")
    // filter: s = n via double → 1e2/07/2.0 match, abc is NULL
    assert(spark.sql("SELECT count(*) FROM r10_cmp WHERE s = n")
      .collect()(0).getLong(0) == 3)
    // literal-refined shape keeps the integer domain (pushdown-safe):
    // plan must compare n natively, not cast the column to double
    val plan = spark.sql("SELECT * FROM r10_cmp WHERE n = '42'")
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("cast(n"), plan)
    // refinement is value-exact: '42.5' vs int can't refine, goes double
    assert(spark.sql("SELECT count(*) FROM r10_cmp WHERE n > '6.5'")
      .collect()(0).getLong(0) == 2) // 100 and 7
  }

  // ---- Hive CAST(string AS BOOLEAN): non-empty is true -------------------

  test("string->boolean cast is length<>0, Hive-style") {
    def one(sql: String): Any = spark.sql(s"SELECT $sql").collect()(0).get(0)
    // PrimitiveObjectInspectorUtils.java:502: any non-empty string is true
    assert(one("CAST('false' AS BOOLEAN)") == true)
    assert(one("CAST('0' AS BOOLEAN)") == true)
    assert(one("CAST('' AS BOOLEAN)") == false)
    assert(one("CAST(NULL AS STRING) IS NULL AND CAST(CAST(NULL AS STRING) AS BOOLEAN) IS NULL") == true)
    assert(one("CAST('anything' AS BOOLEAN)") == true)
    // the implicit-filter shape over a legacy text flag column
    import spark.implicits._
    Seq("y", "", "false", "0").toDF("flag").createOrReplaceTempView("r10_flags")
    assert(spark.sql("SELECT count(*) FROM r10_flags WHERE CAST(flag AS BOOLEAN)")
      .collect()(0).getLong(0) == 3)
  }

  // ---- partitioned graft file formats: layout + DML (r9 verdict #6) ----

  for (fmt <- Seq("graft-seq", "graft-avro", "graft-rcfile", "graft-text")) {
    test(s"partitioned $fmt: insert routes, overwrite replaces, reads prune") {
      val base = Files.createTempDirectory("r10_part").toString + "/t"
      spark.sql("DROP TABLE IF EXISTS r10_pt")
      spark.sql(s"""CREATE TABLE r10_pt (id INT, s STRING) USING `$fmt`
                    PARTITIONED BY (p STRING) LOCATION '$base'""")
      spark.sql("INSERT INTO r10_pt PARTITION (p='a') VALUES (1,'x'), (2,'y')")
      spark.sql("INSERT INTO r10_pt VALUES (3,'z','b')") // dynamic routing
      // Hive layout on disk: p=a / p=b subdirectories, no files at root
      val root = new java.io.File(base)
      val entries = root.listFiles.map(_.getName).toSet
      assert(entries == Set("p=a", "p=b"), entries.mkString(","))
      assert(spark.table("r10_pt").count() == 3)
      assert(spark.table("r10_pt").where("p = 'a'").count() == 2)
      // dynamic partition overwrite replaces ONLY the written partition
      spark.sql("INSERT OVERWRITE r10_pt VALUES (30,'zz','b')")
      assert(spark.table("r10_pt").orderBy("id").collect().map(_.getInt(0)).toSeq
        == Seq(1, 2, 30))
      // partition values round-trip through the directory name, and the
      // data files do NOT store the partition column (layout parity with
      // Hive: Partition.java — values live in the path)
      val bFiles = new java.io.File(base, "p=b").listFiles
        .filter(f => f.isFile && !f.getName.startsWith(".")).map(_.getName)
      assert(bFiles.length == 1, bFiles.mkString(","))
      spark.sql("DROP TABLE r10_pt")
    }

    test(s"partitioned $fmt: CoW UPDATE/DELETE/MERGE keep the layout") {
      val base = Files.createTempDirectory("r10_pdml").toString + "/t"
      spark.sql("DROP TABLE IF EXISTS r10_pdml")
      spark.sql(s"""CREATE TABLE r10_pdml (id INT, s STRING, d DOUBLE) USING `$fmt`
                    PARTITIONED BY (p STRING) LOCATION '$base'""")
      spark.sql("INSERT INTO r10_pdml VALUES " +
        "(1,'a',1.5,'x'), (2,'b',2.5,'x'), (3,'c',3.5,'y')")
      Engine.ddl(spark, "UPDATE r10_pdml SET s = concat('U_', s) WHERE p = 'x' AND id = 2")
      Engine.ddl(spark, "DELETE FROM r10_pdml WHERE id = 3")
      spark.sql("DROP TABLE IF EXISTS r10_pdml_src")
      spark.sql(s"""CREATE TABLE r10_pdml_src USING parquet
        LOCATION '${Files.createTempDirectory("r10_pdml_src")}/s' AS
        SELECT 1 AS id, 'M1' AS s, 11 AS d, 'x' AS p
        UNION ALL SELECT 9, 'M9', 48, 'z'""")
      // the source's d is INT: every MERGE write casts to the table's
      // DOUBLE (the RCFile writer takes its column types from the frame)
      Engine.ddl(spark, """MERGE INTO r10_pdml t USING r10_pdml_src v ON t.id = v.id
        WHEN MATCHED THEN UPDATE SET s = v.s, d = v.d
        WHEN NOT MATCHED THEN INSERT VALUES (v.id, v.s, v.d, v.p)""")
      val got = spark.table("r10_pdml").orderBy("id").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getDouble(2), r.getString(3))).toSeq
      assert(got == Seq((1, "M1", 11.0, "x"), (2, "U_b", 2.5, "x"),
        (9, "M9", 48.0, "z")), got)
      // rewritten + merge-inserted files landed INSIDE partition dirs:
      // the new z partition exists, nothing flattened to the root
      val root = new java.io.File(base)
      assert(root.listFiles.filter(_.isFile).isEmpty)
      assert(root.listFiles.map(_.getName).toSet == Set("p=x", "p=y", "p=z"))
      // y's only row was deleted — its dir may remain, but must read empty
      assert(spark.table("r10_pdml").where("p = 'y'").count() == 0)
      spark.sql("DROP TABLE r10_pdml"); spark.sql("DROP TABLE r10_pdml_src")
    }
  }

  test("graft partition statements: SHOW/ADD/DROP answered from the layout") {
    val base = Files.createTempDirectory("r10_pstmt").toString + "/t"
    val d = Engine.ddl(spark, _: String)
    spark.sql("DROP TABLE IF EXISTS r10_ps")
    spark.sql(s"""CREATE TABLE r10_ps (id INT) USING `graft-seq`
                  PARTITIONED BY (ds STRING, hr INT) LOCATION '$base'""")
    spark.sql("INSERT INTO r10_ps VALUES (1,'d1',0), (2,'d1',1), (3,'d2',0)")
    // SHOW PARTITIONS: Hive one-string-per-partition shape, dir-derived
    val parts = d("SHOW PARTITIONS r10_ps").collect().map(_.getString(0)).toSeq
    assert(parts == Seq("ds=d1/hr=0", "ds=d1/hr=1", "ds=d2/hr=0"), parts)
    // partial spec filter
    val d1 = d("SHOW PARTITIONS r10_ps PARTITION (ds='d1')")
      .collect().map(_.getString(0)).toSeq
    assert(d1 == Seq("ds=d1/hr=0", "ds=d1/hr=1"))
    // ADD PARTITION creates the directory; it lists even while empty
    d("ALTER TABLE r10_ps ADD PARTITION (ds='d3', hr=7)")
    assert(d("SHOW PARTITIONS r10_ps").count() == 4)
    intercept[Exception](d("ALTER TABLE r10_ps ADD PARTITION (ds='d3', hr=7)"))
    d("ALTER TABLE r10_ps ADD IF NOT EXISTS PARTITION (ds='d3', hr=7)")
    // DROP with comparator spec deletes matching dirs + their data
    d("ALTER TABLE r10_ps DROP PARTITION (ds='d1', hr>0)")
    assert(d("SHOW PARTITIONS r10_ps").collect().map(_.getString(0)).toSeq ==
      Seq("ds=d1/hr=0", "ds=d2/hr=0", "ds=d3/hr=7"))
    assert(spark.table("r10_ps").count() == 2) // id=2 went with its dir
    // no-match without IF EXISTS errors (ignorenonexistent=false parity)
    intercept[Exception](d("ALTER TABLE r10_ps DROP PARTITION (ds='zzz')"))
    d("ALTER TABLE r10_ps DROP IF EXISTS PARTITION (ds='zzz')")
    spark.sql("DROP TABLE r10_ps")
  }

  test("partition value matching is semantic, not lexical (review batch)") {
    val base = Files.createTempDirectory("r10_lex").toString + "/t"
    val d = Engine.ddl(spark, _: String)
    spark.sql("DROP TABLE IF EXISTS r10_lex")
    spark.sql(s"""CREATE TABLE r10_lex (id INT) USING `graft-seq`
                  PARTITIONED BY (hr INT) LOCATION '$base'""")
    // a directory spelled hr=01 (as LOAD DATA/ADD PARTITION with raw
    // text would create it) must behave as the logical partition hr=1
    d("ALTER TABLE r10_lex ADD PARTITION (hr=01)")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$base/hr=01")))
    // write a row into the odd-spelled dir through the flat writer
    import spark.implicits._
    Seq(7).toDF("id").write.format("graft-seq").mode("append").save(s"$base/hr=01")
    // 1) pruning must NOT drop the hr=01 dir for a hr=1 filter
    assert(spark.table("r10_lex").where("hr = 1").count() == 1)
    // 2) static-equality overwrite of hr=1 must replace hr=01 too
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try d("INSERT OVERWRITE r10_lex PARTITION (hr=1) VALUES (42)")
    finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val after = spark.table("r10_lex").collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(after == Seq((42, 1)), after)
    // 3) NO_DROP registered as hr=01 protects a DROP spelled hr=1
    d("ALTER TABLE r10_lex PARTITION (hr=01) ENABLE NO_DROP")
    val e = intercept[Exception](d("ALTER TABLE r10_lex DROP PARTITION (hr=1)"))
    assert(e.getMessage.contains("NO_DROP"), e.getMessage)
    d("ALTER TABLE r10_lex PARTITION (hr=01) DISABLE NO_DROP")
    d("ALTER TABLE r10_lex DROP PARTITION (hr=1)")
    assert(spark.table("r10_lex").count() == 0)
    // 4) quoted comma inside a partition value parses
    spark.sql("DROP TABLE IF EXISTS r10_comma")
    spark.sql(s"""CREATE TABLE r10_comma (id INT) USING `graft-seq`
                  PARTITIONED BY (p STRING)
                  LOCATION '${Files.createTempDirectory("r10_comma")}/t'""")
    Engine.ddl(spark, "ALTER TABLE r10_comma ADD PARTITION (p='a,b')")
    assert(Engine.ddl(spark, "SHOW PARTITIONS r10_comma").count() == 1)
    spark.sql("DROP TABLE r10_comma")
    spark.sql("DROP TABLE r10_lex")
  }

  test("COMPACT on one partition keeps partition columns out of the files") {
    val base = Files.createTempDirectory("r10_cpt").toString + "/t"
    val d = Engine.ddl(spark, _: String)
    spark.sql("DROP TABLE IF EXISTS r10_cpt")
    spark.sql(s"""CREATE TABLE r10_cpt (id INT, s STRING) USING `graft-seq`
                  PARTITIONED BY (p STRING) LOCATION '$base'""")
    spark.sql("INSERT INTO r10_cpt VALUES (1,'a','x'), (2,'b','x'), (3,'c','y')")
    d("ALTER TABLE r10_cpt PARTITION (p='x') CONCATENATE")
    // the compacted files must still be DATA-only lines: a full read
    // keeps exact values (a spurious trailing partition field would
    // shift parses / add a NULL column)
    val got = spark.table("r10_cpt").orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    assert(got == Seq((1, "a", "x"), (2, "b", "x"), (3, "c", "y")), got)
    // and the raw flat read of the partition dir sees exactly 2 fields
    val raw = spark.read.schema(
      org.apache.spark.sql.types.StructType.fromDDL("id INT, s STRING"))
      .format("graft-seq").load(s"$base/p=x")
    assert(raw.columns.toSeq == Seq("id", "s"))
    assert(raw.count() == 2)
    spark.sql("DROP TABLE r10_cpt")
  }

  test("mixed STORED AS INPUTFORMAT/OUTPUTFORMAT pair is not silently mapped") {
    val d = Engine.ddl(spark, _: String)
    spark.sql("DROP TABLE IF EXISTS r10_io")
    // a matched pair maps (g677 covers it); a MIXED pair must fail loudly
    val e = intercept[Exception](d(
      """CREATE TABLE r10_io (k INT)
         STORED AS INPUTFORMAT 'org.apache.hadoop.mapred.SequenceFileInputFormat'
         OUTPUTFORMAT 'org.apache.hadoop.hive.ql.io.HiveIgnoreKeyTextOutputFormat'"""))
    assert(!spark.catalog.tableExists("r10_io"))
  }

  test("graft-seq: hybrid static+dynamic insert and LOAD DATA PARTITION") {
    val base = Files.createTempDirectory("r10_hyb").toString + "/t"
    val d = Engine.ddl(spark, _: String)
    spark.sql("DROP TABLE IF EXISTS r10_hybseq")
    spark.sql(s"""CREATE TABLE r10_hybseq (k INT) USING `graft-seq`
                  PARTITIONED BY (ds STRING, hr INT) LOCATION '$base'""")
    Tables.views(spark, sf, "nation")
    // hybrid: ds static, hr dynamic, on the DSv2 source
    d("""INSERT OVERWRITE TABLE r10_hybseq PARTITION (ds='d1', hr)
         SELECT n_nationkey, CAST(n_regionkey AS INT) FROM nation""")
    assert(spark.table("r10_hybseq").count() == 25)
    assert(spark.table("r10_hybseq").where("hr = 2").count() == 5)
    // LOAD DATA into one partition: byte-copy a seq file in, read back
    val stage = Files.createTempDirectory("r10_stage").toString + "/s"
    spark.sql("SELECT 900 AS k").write.format("graft-seq")
      .mode("overwrite").save(stage)
    d(s"LOAD DATA INPATH '$stage' INTO TABLE r10_hybseq PARTITION (ds='d9', hr=9)")
    val loaded = spark.table("r10_hybseq").where("ds = 'd9'")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq
    assert(loaded == Seq((900, "d9", 9)), loaded)
    spark.sql("DROP TABLE r10_hybseq")
  }

  test("partitioned graft-seq: partition values with special chars round-trip") {
    val base = Files.createTempDirectory("r10_esc").toString + "/t"
    spark.sql("DROP TABLE IF EXISTS r10_esc")
    spark.sql(s"""CREATE TABLE r10_esc (id INT) USING `graft-seq`
                  PARTITIONED BY (p STRING) LOCATION '$base'""")
    spark.sql("INSERT INTO r10_esc VALUES (1, 'a/b=c:d'), (2, 'plain')")
    val got = spark.table("r10_esc").orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq((1, "a/b=c:d"), (2, "plain")), got)
    assert(spark.table("r10_esc").where("p = 'a/b=c:d'").count() == 1)
    spark.sql("DROP TABLE r10_esc")
  }

  test("partitioned graft-avro: NULL partition value round-trips as the Hive sentinel") {
    val base = Files.createTempDirectory("r10_nullp").toString + "/t"
    spark.sql("DROP TABLE IF EXISTS r10_nullp")
    spark.sql(s"""CREATE TABLE r10_nullp (id INT) USING `graft-avro`
                  PARTITIONED BY (ds STRING) LOCATION '$base'""")
    spark.sql("INSERT INTO r10_nullp VALUES (1, CAST(NULL AS STRING)), (2, 'd2')")
    // on disk: the Hive sentinel directory, not a literal 'null'
    val dirs = new java.io.File(base).listFiles().map(_.getName).sorted.toSeq
    assert(dirs == Seq("ds=__HIVE_DEFAULT_PARTITION__", "ds=d2"), dirs)
    // reads back as SQL NULL, filterable with IS NULL
    val got = spark.table("r10_nullp").orderBy("id")
      .collect().map(r => (r.getInt(0), Option(r.getString(1)))).toSeq
    assert(got == Seq((1, None), (2, Some("d2"))), got)
    assert(spark.table("r10_nullp").where("ds IS NULL").count() == 1)
    // overwriting the non-null partition leaves the NULL partition intact
    Engine.ddl(spark,
      "INSERT OVERWRITE TABLE r10_nullp PARTITION (ds='d2') SELECT 20")
    val after = spark.table("r10_nullp").orderBy("id")
      .collect().map(r => (r.getInt(0), Option(r.getString(1)))).toSeq
    assert(after == Seq((1, None), (20, Some("d2"))), after)
    spark.sql("DROP TABLE r10_nullp")
  }

  // ---- graft-rcfile: the genuine Hive RCFile container -------------------

  test("graft-rcfile: typed round-trip, storage-level column pruning, count(*)") {
    val dir = Files.createTempDirectory("r10_rc").toString + "/t"
    val df = spark.sql(
      """SELECT * FROM VALUES
           (1, 'alpha', CAST(1.5 AS DOUBLE), CAST('2024-03-01 10:30:00' AS TIMESTAMP), CAST(1.50 AS DECIMAL(10,2))),
           (2, '',      CAST(NULL AS DOUBLE), CAST(NULL AS TIMESTAMP),                 CAST(NULL AS DECIMAL(10,2))),
           (3, NULL,    CAST(-2.25 AS DOUBLE), CAST('2024-03-02 00:00:01.123' AS TIMESTAMP), CAST(-2.25 AS DECIMAL(10,2)))
         AS t(id, s, d, ts, dec)""")
    df.write.format("graft-rcfile").mode("overwrite").save(dir)
    val back = spark.read.format("graft-rcfile").schema(df.schema).load(dir)
    // empty string and NULL are distinct cells (\N sentinel, ColumnarSerDe)
    val got = back.orderBy("id").collect()
      .map(r => (r.getInt(0), Option(r.getString(1)))).toSeq
    assert(got == Seq((1, Some("alpha")), (2, Some("")), (3, None)), got)
    assert(back.where("ts = CAST('2024-03-02 00:00:01.123' AS TIMESTAMP)")
      .count() == 1)
    assert(back.selectExpr("sum(dec)").collect()(0).getDecimal(0)
      .compareTo(new java.math.BigDecimal("-0.75")) == 0)
    // pruning reaches the scan (the container then skips the other
    // columns' buffers entirely — hive.io.file.readcolumn.ids)
    val plan = back.select("s").queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: s"), plan)
    assert(back.count() == 3) // zero projected columns still counts rows
  }

  test("STORED AS RCFILE / ColumnarSerDe / SET FILEFORMAT map to graft-rcfile") {
    val d = Engine.ddl(spark, _: String)
    d("DROP TABLE IF EXISTS r10_rcddl")
    d("CREATE TABLE r10_rcddl (k INT, v STRING) STORED AS RCFILE")
    assert(spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser
        .parseTableIdentifier("r10_rcddl")).provider.get == "graft-rcfile")
    d("INSERT INTO r10_rcddl VALUES (1, 'x'), (2, NULL)")
    // CoW DML over _metadata.file_path works on the RCFile container
    d("UPDATE r10_rcddl SET v = 'y' WHERE k = 1")
    d("DELETE FROM r10_rcddl WHERE k = 2")
    val rows = spark.table("r10_rcddl")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows == Seq((1, "y")), rows)
    // the explicit text columnar serde maps; the IO-class pair maps
    d("DROP TABLE IF EXISTS r10_rcserde")
    d("""CREATE TABLE r10_rcserde (k INT)
         ROW FORMAT SERDE 'org.apache.hadoop.hive.serde2.columnar.ColumnarSerDe'
         STORED AS RCFILE""")
    d("DROP TABLE IF EXISTS r10_rcio")
    d("""CREATE TABLE r10_rcio (k INT)
         STORED AS INPUTFORMAT 'org.apache.hadoop.hive.ql.io.RCFileInputFormat'
         OUTPUTFORMAT 'org.apache.hadoop.hive.ql.io.RCFileOutputFormat'""")
    for (t <- Seq("r10_rcserde", "r10_rcio")) {
      d(s"INSERT INTO $t VALUES (7)")
      assert(spark.table(t).collect().map(_.getInt(0)).toSeq == Seq(7), t)
    }
    // LazyBinaryColumnarSerDe (binary cells — the reference's DEFAULT
    // rcfile serde) round-trips through the real serde class
    d("""CREATE TABLE r10_rcbin (k INT, v STRING)
         ROW FORMAT SERDE 'org.apache.hadoop.hive.serde2.columnar.LazyBinaryColumnarSerDe'
         STORED AS RCFILE""")
    d("INSERT INTO r10_rcbin VALUES (3, 'bin'), (4, NULL)")
    assert(spark.table("r10_rcbin").collect()
      .map(r => (r.getInt(0), Option(r.getString(1)))).toSet
      == Set((3, Some("bin")), (4, None)))
    d("DROP TABLE r10_rcbin")
    // ALTER ... SET FILEFORMAT RCFILE converts a table in place
    d("DROP TABLE IF EXISTS r10_rcalter")
    d("CREATE TABLE r10_rcalter (k INT) STORED AS PARQUET")
    d("INSERT INTO r10_rcalter VALUES (5)")
    d("ALTER TABLE r10_rcalter SET FILEFORMAT RCFILE")
    d("INSERT INTO r10_rcalter VALUES (6)")
    assert(spark.table("r10_rcalter").collect().map(_.getInt(0)).toSet
      == Set(5, 6))
    Seq("r10_rcddl", "r10_rcserde", "r10_rcio", "r10_rcalter")
      .foreach(t => d(s"DROP TABLE $t"))
  }

  test("graft-rcfile: hybrid insert, LOAD DATA PARTITION, SHOW TABLE EXTENDED") {
    val base = Files.createTempDirectory("r10_rchyb").toString + "/t"
    val d = Engine.ddl(spark, _: String)
    spark.sql("DROP TABLE IF EXISTS r10_hybrc")
    spark.sql(s"""CREATE TABLE r10_hybrc (k INT) USING `graft-rcfile`
                  PARTITIONED BY (ds STRING, hr INT) LOCATION '$base'""")
    Tables.views(spark, sf, "nation")
    d("""INSERT OVERWRITE TABLE r10_hybrc PARTITION (ds='d1', hr)
         SELECT n_nationkey, CAST(n_regionkey AS INT) FROM nation""")
    assert(spark.table("r10_hybrc").count() == 25)
    assert(spark.table("r10_hybrc").where("hr = 2").count() == 5)
    val stage = Files.createTempDirectory("r10_rcstage").toString + "/s"
    spark.sql("SELECT 900 AS k").write.format("graft-rcfile")
      .mode("overwrite").save(stage)
    d(s"LOAD DATA INPATH '$stage' INTO TABLE r10_hybrc PARTITION (ds='d9', hr=9)")
    val loaded = spark.table("r10_hybrc").where("ds = 'd9'")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq
    assert(loaded == Seq((900, "d9", 9)), loaded)
    // the Hive status lines advertise the genuine RCFile IO classes
    val status = Engine.ddl(spark,
      "SHOW TABLE EXTENDED LIKE 'r10_hybrc'")
      .collect().map(_.mkString("\t")).mkString("\n")
    assert(status.contains("RCFileInputFormat"), status)
    assert(status.contains("RCFileOutputFormat"), status)
    spark.sql("DROP TABLE r10_hybrc")
  }

  test("graft-rcfile container interops with Hive's own RCFile reader") {
    // read the files back with the raw hive-exec Reader (no graft code on
    // the read path): with the explicit text serde the cell bytes must be
    // the ColumnarSerDe text contract ('41', '\N')
    val dir = Files.createTempDirectory("r10_rcraw").toString + "/t"
    spark.sql("SELECT 41 AS a, 'x' AS b UNION ALL SELECT 42, NULL")
      .coalesce(1).write.format("graft-rcfile")
      .option("serde", "org.apache.hadoop.hive.serde2.columnar.ColumnarSerDe")
      .mode("overwrite").save(dir)
    val file = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_")
        && !f.getName.startsWith(".")).head
    val conf = new org.apache.hadoop.conf.Configuration()
    val p = new org.apache.hadoop.fs.Path(file.toString)
    val r = new org.apache.hadoop.hive.ql.io.RCFile.Reader(
      p.getFileSystem(conf), p, conf)
    val id = new org.apache.hadoop.io.LongWritable()
    val row = new org.apache.hadoop.hive.serde2.columnar.BytesRefArrayWritable()
    val cells = scala.collection.mutable.Buffer[Seq[String]]()
    while (r.next(id)) {
      r.getCurrentRow(row)
      cells += (0 until row.size).map { i =>
        val c = row.get(i)
        new String(c.getData, c.getStart, c.getLength, "UTF-8")
      }
    }
    r.close()
    assert(cells.sortBy(_.head) ==
      Seq(Seq("41", "x"), Seq("42", "\\N")), cells)
    // and the DEFAULT (binary) serde: decode a graft-written file with an
    // independently initialized LazyBinaryColumnarSerDe — the genuine
    // Hive implementation, no graft code on the decode path
    val bdir = Files.createTempDirectory("r10_rcbinraw").toString + "/t"
    spark.sql("SELECT 7 AS a, 'bin' AS b").coalesce(1)
      .write.format("graft-rcfile").mode("overwrite").save(bdir)
    val bfile = new java.io.File(bdir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_")
        && !f.getName.startsWith(".")).head
    val bp = new org.apache.hadoop.fs.Path(bfile.toString)
    val br = new org.apache.hadoop.hive.ql.io.RCFile.Reader(
      bp.getFileSystem(conf), bp, conf)
    val brow = new org.apache.hadoop.hive.serde2.columnar.BytesRefArrayWritable()
    assert(br.next(id)); br.getCurrentRow(brow); br.close()
    val serde = new org.apache.hadoop.hive.serde2.columnar.LazyBinaryColumnarSerDe()
    val props = new java.util.Properties()
    props.setProperty("columns", "a,b")
    props.setProperty("columns.types", "int:string")
    serde.initialize(new org.apache.hadoop.conf.Configuration(), props)
    val obj = serde.deserialize(brow)
    val soi = serde.getObjectInspector
      .asInstanceOf[org.apache.hadoop.hive.serde2.objectinspector.StructObjectInspector]
    val vals = soi.getAllStructFieldRefs.toArray.toSeq.map { ref0 =>
      val ref = ref0.asInstanceOf[
        org.apache.hadoop.hive.serde2.objectinspector.StructField]
      ref.getFieldObjectInspector
        .asInstanceOf[org.apache.hadoop.hive.serde2.objectinspector.PrimitiveObjectInspector]
        .getPrimitiveJavaObject(soi.getStructFieldData(obj, ref))
    }
    assert(vals == Seq(7, "bin"), vals)
  }

  test("CONCATENATE merges rcfile small files through the right serde") {
    // the rcfile_merge*.q surface: many small inserts, one CONCATENATE,
    // content identical, file count reduced — and the rewrite must run
    // under the table's own cell codec (tableDmlOptions plumbing)
    val d = Engine.ddl(spark, _: String)
    d("DROP TABLE IF EXISTS r10_rcmerge")
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + "/r10_rcmerge")
    wh.getFileSystem(spark.sessionState.newHadoopConf()).delete(wh, true): Unit
    d("CREATE TABLE r10_rcmerge (k INT, v STRING) STORED AS RCFILE")
    (1 to 4).foreach(i => d(s"INSERT INTO r10_rcmerge VALUES ($i, 'v$i')"))
    def files = new java.io.File(wh.toUri.getPath).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_")
        && !f.getName.startsWith(".")).length
    assert(files >= 4, files)
    d("ALTER TABLE r10_rcmerge CONCATENATE")
    assert(files == 1, files)
    assert(spark.table("r10_rcmerge").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
      == (1 to 4).map(i => (i, s"v$i")).toSet)
    d("DROP TABLE r10_rcmerge")
  }

  test("graft-rcfile timestamps carry the session wall clock (Hive semantics)") {
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      val dir = Files.createTempDirectory("r10_rctz").toString + "/t"
      spark.sql("SELECT TIMESTAMP'2024-03-01 21:00:00' AS ts")
        .write.format("graft-rcfile").mode("overwrite").save(dir)
      // same session zone: wall clock round-trips
      val back = spark.read.schema("ts TIMESTAMP").format("graft-rcfile")
        .load(dir).selectExpr("CAST(ts AS STRING)").head().getString(0)
      assert(back == "2024-03-01 21:00:00", back)
      // a different session zone reinterprets the stored wall clock as its
      // own (Hive's zone-dependent timestamp contract): 21:00 read as UTC
      // is 9h later than 21:00 Tokyo as an instant
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      val utc = spark.read.schema("ts TIMESTAMP").format("graft-rcfile")
        .load(dir).selectExpr("unix_timestamp(ts)").head().getLong(0)
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      val tokyo = spark.read.schema("ts TIMESTAMP").format("graft-rcfile")
        .load(dir).selectExpr("unix_timestamp(ts)").head().getLong(0)
      assert(utc - tokyo == 9 * 3600, s"$utc vs $tokyo")
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  // ---- graft-thrift-seq: the serde class IS the schema -------------------

  test("thrift sequencefile: class-derived schema, union tag, genuine bytes") {
    val d = Engine.ddl(spark, _: String)
    spark.sql("DROP TABLE IF EXISTS r10_thrift")
    d("""CREATE TABLE r10_thrift
         ROW FORMAT SERDE 'org.apache.hadoop.hive.serde2.thrift.ThriftDeserializer'
         WITH SERDEPROPERTIES (
           'serialization.class' = 'org.apache.hadoop.hive.serde2.thrift.test.Complex',
           'serialization.format' = 'org.apache.thrift.protocol.TBinaryProtocol')
         STORED AS SEQUENCEFILE""")
    // the DDL carried no column list: all 10 Complex fields come from the
    // generated thrift metadata, in declaration order
    assert(spark.table("r10_thrift").columns.toSeq == Seq("aint", "aString",
      "lint", "lString", "lintString", "mStringString", "attributes",
      "unionField1", "unionField2", "unionField3"))
    d("""INSERT INTO r10_thrift
         SELECT 1, 'one', array(1, 2), array('a'),
                array(named_struct('myint', 2, 'myString', 'sx', 'underscore_int', 3)),
                map('k', 'v'), NULL,
                named_struct(
                  'intValue', 7, 'longValue', CAST(NULL AS BIGINT),
                  'stringValue', CAST(NULL AS STRING), 'doubleValue', CAST(NULL AS DOUBLE),
                  'flag', CAST(NULL AS BOOLEAN),
                  'lString', CAST(NULL AS ARRAY<STRING>),
                  'unionMStringString', CAST(NULL AS MAP<STRING,STRING>)),
                NULL, NULL""")
    val row = spark.table("r10_thrift").collect()(0)
    assert(row.getInt(0) == 1 && row.getString(1) == "one")
    assert(row.getSeq[Int](2) == Seq(1, 2))
    // the union field wrote through the REAL TUnion (one alternative set)
    val u = row.getStruct(row.fieldIndex("unionField1"))
    assert(u.getInt(0) == 7 && u.isNullAt(2), u)
    // the on-disk record is genuine TBinaryProtocol bytes: read it back
    // with raw libthrift, no graft code on the path
    val loc = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("r10_thrift"))
      .location.getPath
    val file = new java.io.File(loc).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_")
        && !f.getName.startsWith(".")).head
    val conf = new org.apache.hadoop.conf.Configuration()
    val r = new org.apache.hadoop.io.SequenceFile.Reader(conf,
      org.apache.hadoop.io.SequenceFile.Reader.file(
        new org.apache.hadoop.fs.Path(file.toString)))
    val k = new org.apache.hadoop.io.BytesWritable()
    val v = new org.apache.hadoop.io.BytesWritable()
    assert(r.next(k, v)); r.close()
    val obj = new org.apache.hadoop.hive.serde2.thrift.test.Complex()
    new org.apache.thrift.TDeserializer(
        new org.apache.thrift.protocol.TBinaryProtocol.Factory())
      .deserialize(obj, java.util.Arrays.copyOf(v.getBytes, v.getLength))
    assert(obj.getAint == 1 && obj.getAString == "one")
    assert(obj.getUnionField1.getSetField.getFieldName == "intValue")
    assert(obj.getUnionField1.getFieldValue == Integer.valueOf(7))
    spark.sql("DROP TABLE r10_thrift")
  }

  test("thrift reader resolves an external schema by NAME, not position") {
    val dir = Files.createTempDirectory("r10_thrext").toString + "/t"
    val cls = "org.apache.hadoop.hive.serde2.thrift.test.IntString"
    spark.sql("SELECT 5 AS myint, 'five' AS myString, 50 AS underscore_int")
      .write.format("graft-thrift-seq").option("thrift.class", cls)
      .mode("overwrite").save(dir)
    // reordered SUBSET schema: positional resolution would hand back
    // myint (an Integer) under the myString slot and crash or swap
    val r = spark.read.format("graft-thrift-seq").option("thrift.class", cls)
      .schema("myString STRING, myint INT").load(dir).collect()(0)
    assert((r.getString(0), r.getInt(1)) == (("five", 5)))
    // unknown field names fail loudly, never silently misread
    val e = intercept[Exception] {
      spark.read.format("graft-thrift-seq").option("thrift.class", cls)
        .schema("nope STRING").load(dir).collect()
    }
    assert(e.getMessage != null)
  }

  test("DML on a thrift table fails loudly (Hive parity: non-ACID storage)") {
    val d = Engine.ddl(spark, _: String)
    val base = Files.createTempDirectory("r10_tdml").toString + "/t"
    spark.sql("DROP TABLE IF EXISTS r10_tdml")
    d(s"""CREATE TABLE r10_tdml
         ROW FORMAT SERDE 'org.apache.hadoop.hive.serde2.thrift.ThriftDeserializer'
         WITH SERDEPROPERTIES (
           'serialization.class' = 'org.apache.hadoop.hive.serde2.thrift.test.IntString')
         STORED AS SEQUENCEFILE LOCATION '$base'""")
    d("INSERT INTO r10_tdml SELECT 1, 'x', 2")
    // the reference rejects UPDATE/DELETE on non-ACID (thrift) tables
    // outright; the CoW engine's _metadata requirement produces the same
    // loud refusal — and the data must be untouched after the failure
    intercept[Exception](d("UPDATE r10_tdml SET myString = 'y' WHERE myint = 1"))
    intercept[Exception](d("DELETE FROM r10_tdml WHERE myint = 1"))
    val r = spark.table("r10_tdml").collect()(0)
    assert((r.getInt(0), r.getString(1), r.getInt(2)) == ((1, "x", 2)))
    spark.sql("DROP TABLE r10_tdml")
  }

  test("thrift sequencefile: TCompactProtocol round-trips too") {
    val d = Engine.ddl(spark, _: String)
    spark.sql("DROP TABLE IF EXISTS r10_thriftc")
    d("""CREATE TABLE r10_thriftc
         ROW FORMAT SERDE 'org.apache.hadoop.hive.serde2.thrift.ThriftDeserializer'
         WITH SERDEPROPERTIES (
           'serialization.class' = 'org.apache.hadoop.hive.serde2.thrift.test.IntString',
           'serialization.format' = 'org.apache.thrift.protocol.TCompactProtocol')
         STORED AS SEQUENCEFILE""")
    d("INSERT INTO r10_thriftc SELECT 5, 'five', 50")
    val r = spark.table("r10_thriftc").collect()(0)
    assert((r.getInt(0), r.getString(1), r.getInt(2)) == ((5, "five", 50)))
    // compact bytes are NOT binary-protocol bytes: reading them back with
    // the wrong factory must not silently yield the same record
    val loc = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("r10_thriftc"))
      .location.getPath
    val file = new java.io.File(loc).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_")
        && !f.getName.startsWith(".")).head
    val sr = new org.apache.hadoop.io.SequenceFile.Reader(
      new org.apache.hadoop.conf.Configuration(),
      org.apache.hadoop.io.SequenceFile.Reader.file(
        new org.apache.hadoop.fs.Path(file.toString)))
    val (k, v) = (new org.apache.hadoop.io.BytesWritable(),
      new org.apache.hadoop.io.BytesWritable())
    assert(sr.next(k, v)); sr.close()
    val obj = new org.apache.hadoop.hive.serde2.thrift.test.IntString()
    new org.apache.thrift.TDeserializer(
        new org.apache.thrift.protocol.TCompactProtocol.Factory())
      .deserialize(obj, java.util.Arrays.copyOf(v.getBytes, v.getLength))
    assert(obj.getMyint == 5 && obj.getMyString == "five" &&
      obj.getUnderscore_int == 50)
    spark.sql("DROP TABLE r10_thriftc")
  }

  // ---- late statement-surface closures -----------------------------------

  test("TOUCH PARTITION, ALTER NOT SKEWED family accepted; bad table loud") {
    val d = Engine.ddl(spark, _: String)
    d("DROP TABLE IF EXISTS r10_touch")
    d("CREATE TABLE r10_touch (a INT) PARTITIONED BY (p STRING)")
    d("INSERT INTO r10_touch PARTITION (p='x') VALUES (1)")
    d("ALTER TABLE r10_touch TOUCH")
    d("ALTER TABLE r10_touch TOUCH PARTITION (p='x')")
    d("ALTER TABLE r10_touch NOT SKEWED")
    d("ALTER TABLE r10_touch NOT STORED AS DIRECTORIES")
    d("ALTER TABLE r10_touch SKEWED BY (a) ON ((1), (2)) STORED AS DIRECTORIES")
    assert(spark.table("r10_touch").count() == 1)
    intercept[Exception](d("ALTER TABLE r10_no_such_tbl TOUCH"))
    d("DROP TABLE r10_touch")
  }

  test("EXPLAIN ANALYZE and bare INSERT OVERWRITE DIRECTORY work") {
    val d = Engine.ddl(spark, _: String)
    // Hive 2.x EXPLAIN ANALYZE → the cost-annotated plan
    val plan = d("EXPLAIN ANALYZE SELECT 1 AS one").collect()(0).getString(0)
    assert(plan.contains("Optimized Logical Plan") || plan.contains("=="), plan)
    // clause-less directory write defaults to the Hive text layout
    val out = Files.createTempDirectory("r10_iod").toString + "/d"
    Tables.views(spark, sf, "region")
    d(s"INSERT OVERWRITE DIRECTORY '$out' " +
      "SELECT r_regionkey, r_name FROM region")
    val lines = new java.io.File(out).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_")
        && !f.getName.startsWith("."))
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines()).sorted
    assert(lines.length == 5, lines.toSeq)
    assert(lines.head == "0\u0001AFRICA", lines.head)
  }

  test("ALTER CLUSTERED BY INTO n BUCKETS rewrites into real bucketing") {
    val d = Engine.ddl(spark, _: String)
    d("DROP TABLE IF EXISTS r10_clust")
    d("CREATE TABLE r10_clust (k INT, v STRING) STORED AS PARQUET")
    d("INSERT INTO r10_clust SELECT id, concat('v', id) FROM range(100)")
    d("ALTER TABLE r10_clust CLUSTERED BY (k) SORTED BY (k) INTO 4 BUCKETS")
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("r10_clust"))
    // unlike Hive (metadata-only flip over unchanged files), the data was
    // REWRITTEN into the new bucketing, so spec and files agree
    assert(meta.bucketSpec.exists(b =>
      b.numBuckets == 4 && b.bucketColumnNames == Seq("k")), meta.bucketSpec)
    assert(spark.table("r10_clust").count() == 100)
    assert(spark.table("r10_clust").where("k = 42").collect()
      .map(_.getString(1)).toSeq == Seq("v42"))
    d("DROP TABLE r10_clust")
  }

  // ---- permissive-cast retry is statement-scoped (cloned session) --------

  test("narrowing-insert retry does not flip the shared session policy") {
    val d = Engine.ddl(spark, _: String)
    d("DROP TABLE IF EXISTS r10_narrow")
    d("CREATE TABLE r10_narrow (k INT)")
    assert(spark.conf.get("spark.sql.storeAssignmentPolicy") != "LEGACY")
    // string literal into INT column → CANNOT_SAFELY_CAST → cloned-session
    // retry under LEGACY; the calling session's conf must never change
    d("INSERT INTO r10_narrow SELECT '4' || '2'")
    assert(spark.conf.get("spark.sql.storeAssignmentPolicy") != "LEGACY")
    assert(spark.table("r10_narrow").collect().map(_.getInt(0)).toSeq == Seq(42))
    d("DROP TABLE r10_narrow")
  }

  // ---- ALTER TABLE ... EXCHANGE PARTITION (DDLTask.java:4270) ------------

  private def parts(t: String): Seq[String] =
    Engine.ddl(spark, s"SHOW PARTITIONS $t").collect()
      .map(_.getString(0)).toSeq.sorted

  test("EXCHANGE PARTITION moves the partition dest<-src (exchange_partition.q)") {
    val d = Engine.ddl(spark, _: String)
    d("DROP TABLE IF EXISTS r10_ex1"); d("DROP TABLE IF EXISTS r10_ex2")
    d("CREATE TABLE r10_ex1 (f1 STRING) PARTITIONED BY (ds STRING)")
    d("CREATE TABLE r10_ex2 (f1 STRING) PARTITIONED BY (ds STRING)")
    d("INSERT INTO r10_ex2 PARTITION (ds='2013-04-05') VALUES ('row1'), ('row2')")
    d("ALTER TABLE r10_ex1 EXCHANGE PARTITION (ds='2013-04-05') WITH TABLE r10_ex2")
    assert(parts("r10_ex1") == Seq("ds=2013-04-05"))
    assert(parts("r10_ex2") == Seq())
    // the DATA moved with the partition — no rewrite, same rows
    assert(spark.table("r10_ex1").collect().map(_.getString(0)).sorted.toSeq
      == Seq("row1", "row2"))
    assert(spark.table("r10_ex2").count() == 0)
    d("DROP TABLE r10_ex1"); d("DROP TABLE r10_ex2")
  }

  test("EXCHANGE PARTITION partial spec moves the whole subtree (exchange_partition3.q)") {
    val d = Engine.ddl(spark, _: String)
    d("DROP TABLE IF EXISTS r10_ex3"); d("DROP TABLE IF EXISTS r10_ex4")
    d("CREATE TABLE r10_ex3 (f1 STRING) PARTITIONED BY (ds STRING, hr STRING)")
    d("CREATE TABLE r10_ex4 (f1 STRING) PARTITIONED BY (ds STRING, hr STRING)")
    d("ALTER TABLE r10_ex3 ADD PARTITION (ds='2014-01-03', hr='1')")
    d("INSERT INTO r10_ex4 PARTITION (ds='2013-04-05', hr='1') VALUES ('a')")
    d("INSERT INTO r10_ex4 PARTITION (ds='2013-04-05', hr='2') VALUES ('b')")
    d("INSERT INTO r10_ex4 PARTITION (ds='2014-09-09', hr='1') VALUES ('keep')")
    d("ALTER TABLE r10_ex3 EXCHANGE PARTITION (ds='2013-04-05') WITH TABLE r10_ex4")
    assert(parts("r10_ex3") ==
      Seq("ds=2013-04-05/hr=1", "ds=2013-04-05/hr=2", "ds=2014-01-03/hr=1"))
    assert(parts("r10_ex4") == Seq("ds=2014-09-09/hr=1"))
    assert(spark.table("r10_ex3").collect().map(_.getString(0)).sorted.toSeq
      == Seq("a", "b"))
    assert(spark.table("r10_ex4").collect().map(_.getString(0)).toSeq == Seq("keep"))
    d("DROP TABLE r10_ex3"); d("DROP TABLE r10_ex4")
  }

  test("EXCHANGE PARTITION refuses existing dest partitions and schema drift") {
    val d = Engine.ddl(spark, _: String)
    d("DROP TABLE IF EXISTS r10_ex5"); d("DROP TABLE IF EXISTS r10_ex6")
    d("DROP TABLE IF EXISTS r10_ex7")
    d("CREATE TABLE r10_ex5 (f1 STRING) PARTITIONED BY (ds STRING)")
    d("CREATE TABLE r10_ex6 (f1 STRING) PARTITIONED BY (ds STRING)")
    d("CREATE TABLE r10_ex7 (f1 STRING, extra INT) PARTITIONED BY (ds STRING)")
    d("INSERT INTO r10_ex5 PARTITION (ds='d1') VALUES ('already')")
    d("INSERT INTO r10_ex6 PARTITION (ds='d1') VALUES ('incoming')")
    // dest already holds ds=d1 → refuse, and refuse must not half-apply
    val e1 = intercept[Exception](
      d("ALTER TABLE r10_ex5 EXCHANGE PARTITION (ds='d1') WITH TABLE r10_ex6"))
    assert(e1.getMessage.contains("already exists"), e1.getMessage)
    assert(parts("r10_ex6") == Seq("ds=d1")) // source untouched
    // column schemas differ → metastore-shaped refusal
    val e2 = intercept[Exception](
      d("ALTER TABLE r10_ex7 EXCHANGE PARTITION (ds='d1') WITH TABLE r10_ex6"))
    assert(e2.getMessage.contains("different schemas"), e2.getMessage)
    // no matching source partition → loud
    val e3 = intercept[Exception](
      d("ALTER TABLE r10_ex5 EXCHANGE PARTITION (ds='nope') WITH TABLE r10_ex6"))
    assert(e3.getMessage.contains("no partition"), e3.getMessage)
    d("DROP TABLE r10_ex5"); d("DROP TABLE r10_ex6"); d("DROP TABLE r10_ex7")
  }

  test("EXCHANGE PARTITION works on directory-partitioned graft-seq tables") {
    val d = Engine.ddl(spark, _: String)
    d("DROP TABLE IF EXISTS r10_exs"); d("DROP TABLE IF EXISTS r10_exd")
    d(s"""CREATE TABLE r10_exs (v STRING) USING `graft-seq`
          PARTITIONED BY (p STRING) LOCATION '${tools.Tmp.dir("r10_exs")}'""")
    d(s"""CREATE TABLE r10_exd (v STRING) USING `graft-seq`
          PARTITIONED BY (p STRING) LOCATION '${tools.Tmp.dir("r10_exd")}'""")
    spark.sql("SELECT 'x' AS v, 'one' AS p").write.insertInto("r10_exs")
    spark.sql("SELECT 'y' AS v, 'two' AS p").write.insertInto("r10_exs")
    d("ALTER TABLE r10_exd EXCHANGE PARTITION (p='one') WITH TABLE r10_exs")
    assert(parts("r10_exd") == Seq("p=one"))
    assert(parts("r10_exs") == Seq("p=two"))
    assert(spark.table("r10_exd").select("v").collect().map(_.getString(0)).toSeq
      == Seq("x"))
    assert(spark.table("r10_exs").select("v").collect().map(_.getString(0)).toSeq
      == Seq("y"))
    d("DROP TABLE r10_exs"); d("DROP TABLE r10_exd")
  }

  // ---- EXPLAIN LOGICAL / AUTHORIZATION (HiveParser.g:650) ----------------

  test("EXPLAIN LOGICAL prints the scrubbed optimized logical plan") {
    val out = Engine.sql(spark, sf,
      "EXPLAIN LOGICAL SELECT n_name FROM nation WHERE n_regionkey = 1")
      .collect().map(_.getString(0)).mkString("\n")
    assert(out.contains("Filter") || out.contains("Relation"), out)
    assert(!out.matches("(?s).*#\\d+.*"), out) // expression ids scrubbed
    assert(!out.contains("/root/testdata"), out) // paths scrubbed
  }

  test("EXPLAIN [FORMATTED] AUTHORIZATION emits the ExplainTask block") {
    val out = Engine.sql(spark, sf,
      "EXPLAIN AUTHORIZATION SELECT r_name FROM region JOIN nation ON r_regionkey = n_regionkey")
      .collect().map(_.getString(0)).mkString("\n")
    assert(out.contains("INPUTS: "), out)
    assert(out.contains("  nation") && out.contains("  region"), out)
    assert(out.contains("CURRENT_USER: "), out)
    assert(out.contains("OPERATION: \n  QUERY"), out)
    val use = Engine.sql(spark, sf, "EXPLAIN FORMATTED AUTHORIZATION USE default")
      .collect().map(_.getString(0)).mkString("\n")
    assert(use.contains("database:default"), use)
    assert(use.contains("SWITCHDATABASE"), use)
  }

  // ---- SQL names for the Column-composed function family ------------------

  test("every reference FunctionRegistry name resolves in the session") {
    Engine.sql(spark, sf, "SELECT 1").collect() // install the registry
    // the registerUDF/registerGenericUDF/registerUDAF/registerGenericUDAF/
    // register[Generic]UDTF names from the reference's
    // exec/FunctionRegistry.java, minus pure-grammar shapes that Spark
    // parses as syntax rather than named functions (case/when/between/in/
    // like/rlike/regexp/index, boolean connectives, operators, div)
    val names = ("""abs acos add_months array array_contains ascii asin
      assert_true atan avg base64 bin ceil ceiling coalesce collect_list
      collect_set compute_stats concat concat_ws context_ngrams conv corr
      cos count covar_pop covar_samp create_union cume_dist
      current_database current_date current_timestamp current_user date_add
      date_sub datediff day dayofmonth decode degrees dense_rank e elt
      encode ewah_bitmap ewah_bitmap_and ewah_bitmap_empty ewah_bitmap_or
      exp explode field find_in_set first_value floor format_number
      from_unixtime from_utc_timestamp get_json_object greatest hash hex
      histogram_numeric hour if in_file initcap inline instr isnotnull
      isnull java_method json_tuple last_day last_value lcase least length
      levenshtein ln locate log log10 log2 lower lpad ltrim map map_keys
      map_values max min minute month named_struct next_day ngrams ntile
      nvl parse_url parse_url_tuple percent_rank percentile
      percentile_approx pi pmod posexplode pow power printf radians rand
      rank reflect reflect2 regexp_extract regexp_replace repeat reverse
      round row_number rpad rtrim second sentences sign sin size sort_array
      space split sqrt stack std stddev stddev_pop stddev_samp str_to_map
      struct substr substring sum tan to_date to_unix_timestamp
      to_utc_timestamp translate trim ucase unbase64 unhex unix_timestamp
      upper var_pop var_samp variance weekofyear xpath xpath_boolean
      xpath_double xpath_float xpath_int xpath_long xpath_number
      xpath_short xpath_string year""").split("\\s+").filter(_.nonEmpty)
    val missing = names.filterNot { n =>
      try {
        spark.sessionState.catalog.lookupFunctionInfo(
          org.apache.spark.sql.catalyst.FunctionIdentifier(n)); true
      } catch { case _: Exception => false }
    }
    assert(missing.isEmpty, s"unresolved reference functions: ${missing.mkString(", ")}")
  }

  test("ngrams / context_ngrams answer by SQL name in the Hive shape") {
    // ngrams over 'a b a b c': bigram 'a b' twice, others once; the
    // optional accuracy 4th arg is accepted (counts stay exact here).
    // Output shape is Hive's: array<struct<ngram:array<string>,
    // estfrequency:double>> (the .q scripts access `.estfrequency`)
    val g = Engine.sql(spark, sf,
      "SELECT ngrams(split('a b a b c', ' '), 2, 3, 1000) AS g")
      .selectExpr("explode(g) AS t").selectExpr("t.ngram", "t.estfrequency")
      .collect().map(r => (r.getSeq[String](0), r.getDouble(1))).toSeq
    assert(g == Seq((Seq("a", "b"), 2.0), (Seq("b", "a"), 1.0),
      (Seq("b", "c"), 1.0)), g)
    val cg = Engine.sql(spark, sf,
      """SELECT context_ngrams(split('i love cats and i love dogs', ' '),
                               array('love', null), 5) AS g""")
      .selectExpr("explode(g) AS t").selectExpr("t.ngram")
      .collect().map(_.getSeq[String](0)).sortBy(_.mkString).toSeq
    assert(cg == Seq(Seq("cats"), Seq("dogs")), cg)
    // the sentences() nested shape (udaf_ngrams.q's actual idiom):
    // n-grams never cross sentence boundaries — 'fox. The' must NOT count
    val nested = Engine.sql(spark, sf,
      """SELECT ngrams(sentences(lower(
           'The quick fox. The lazy dog. The quick dog.')), 2, 2) AS g""")
      .selectExpr("explode(g) AS t")
      .selectExpr("t.ngram", "t.estfrequency").collect()
      .map(r => (r.getSeq[String](0).mkString(" "), r.getDouble(1))).toSeq
    assert(nested.head == ("the quick", 2.0), nested.toSeq)
    assert(!nested.exists(_._1.contains("fox the")), nested.toSeq)
    val nestedCtx = Engine.sql(spark, sf,
      """SELECT context_ngrams(sentences(lower(
           'The quick fox. The lazy dog. The quick dog.')),
           array('the', null), 3) AS g""")
      .selectExpr("explode(g) AS t").selectExpr("t.ngram", "t.estfrequency")
      .collect().map(r => (r.getSeq[String](0).mkString(" "), r.getDouble(1)))
      .sortBy(r => (-r._2, r._1)).toSeq
    assert(nestedCtx == Seq(("quick", 2.0), ("lazy", 1.0)), nestedCtx)
  }

  test("ewah_bitmap family and create_union answer by SQL name") {
    val s = Engine.sql(spark, sf, _: String)
    // bits {1,3,5} -> word 0b101010 = 42
    assert(s("SELECT ewah_bitmap(x) AS b FROM (SELECT explode(array(1L,3L,5L)) AS x)")
      .collect().head.getSeq[Long](0) == Seq(42L))
    // {1,3} AND {2,4} = empty; {1,3} OR {2,4} = {1,2,3,4} -> 0b11110 = 30
    assert(s("""SELECT ewah_bitmap_and(a, b) AS x, ewah_bitmap_or(a, b) AS o,
                       ewah_bitmap_empty(ewah_bitmap_and(a, b)) AS e
                FROM (SELECT ewah_bitmap(x) a, ewah_bitmap(x+1) b
                      FROM (SELECT explode(array(1L, 3L)) AS x))""")
      .collect().map(r => (r.getSeq[Long](0), r.getSeq[Long](1), r.getBoolean(2)))
      .toSeq == Seq((Seq(), Seq(30L), true)))
    // create_union: tag picks the live alternative, the rest are NULL
    val u = s("SELECT create_union(1, 'a', 2.0D) AS u").collect().head.getStruct(0)
    assert(u.getInt(0) == 1 && u.isNullAt(1) && u.getDouble(2) == 2.0, u)
  }

  test("compute_stats answers the per-type Hive struct by SQL name") {
    val s = Engine.sql(spark, sf, _: String)
    // Long: ColumnType/Min/Max/CountNulls/NumDistinctValues
    val lg = s("SELECT compute_stats(x, 16) AS st FROM (SELECT explode(array(1L,3L,NULL)) AS x)")
      .selectExpr("st.ColumnType", "st.Min", "st.Max", "st.CountNulls",
        "st.NumDistinctValues").collect().head
    assert(lg.getString(0) == "Long" && lg.getLong(1) == 1L && lg.getLong(2) == 3L
      && lg.getLong(3) == 1L && lg.getLong(4) == 2L, lg)
    // String: ColumnType/MaxLength/AvgLength/CountNulls/NumDistinctValues
    val st = s("SELECT compute_stats(v, 16) AS st FROM (SELECT explode(array('aa','bbbb',NULL)) AS v)")
      .selectExpr("st.ColumnType", "st.MaxLength", "st.AvgLength",
        "st.CountNulls").collect().head
    assert(st.getString(0) == "String" && st.getLong(1) == 4L
      && st.getDouble(2) == 3.0 && st.getLong(3) == 1L, st)
    // Boolean: ColumnType/CountTrues/CountFalses/CountNulls
    val bl = s("SELECT compute_stats(b, 16) AS st FROM (SELECT explode(array(true,false,NULL)) AS b)")
      .selectExpr("st.ColumnType", "st.CountTrues", "st.CountFalses",
        "st.CountNulls").collect().head
    assert(bl.getString(0) == "Boolean" && bl.getLong(1) == 1L
      && bl.getLong(2) == 1L && bl.getLong(3) == 1L, bl)
    // grouped: stats structs distribute over GROUP BY like any aggregate
    val grouped = Engine.sql(spark, sf,
      """SELECT n_regionkey, compute_stats(n_nationkey, 16) AS st
         FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""")
      .selectExpr("n_regionkey", "st.Min", "st.Max").collect()
    assert(grouped.length == 5)
    assert(grouped.head.getLong(1) == 0L && grouped.head.getLong(2) == 20L)
  }

  // ---- review-fix pins (round-10 self-review batch) -----------------------

  test("EXPLAIN AUTHORIZATION/LOGICAL of DML analyzes without executing") {
    val d = Engine.ddl(spark, _: String)
    d("DROP TABLE IF EXISTS r10_noexec")
    d("CREATE TABLE r10_noexec (k INT) STORED AS PARQUET")
    d("INSERT INTO r10_noexec VALUES (1)")
    // explaining an INSERT must not perform it (spark.sql would); the
    // write target lists under OUTPUTS, the read tables under INPUTS
    val auth = Engine.sql(spark, sf,
      "EXPLAIN AUTHORIZATION INSERT INTO r10_noexec SELECT n_nationkey FROM nation")
      .collect().map(_.getString(0)).mkString("\n")
    assert(auth.contains("r10_noexec"), auth)
    assert(auth.indexOf("OUTPUTS") < auth.indexOf("r10_noexec"), auth)
    assert(auth.contains("  nation") &&
      auth.indexOf("nation") < auth.indexOf("OUTPUTS"), auth)
    d("EXPLAIN LOGICAL INSERT INTO r10_noexec VALUES (3)").collect()
    assert(spark.table("r10_noexec").collect().map(_.getInt(0)).toSeq == Seq(1))
    // trailing semicolon on the explained statement must not leak
    val use = d("EXPLAIN AUTHORIZATION USE default;")
      .collect().map(_.getString(0)).mkString("\n")
    assert(use.contains("database:default\n") || use.endsWith("database:default")
      || !use.contains("default;"), use)
    d("DROP TABLE r10_noexec")
  }

  test("ngrams SQL name keeps space-bearing tokens and distinct grams apart") {
    // ('New York','City') must answer ngram=['New York','City'], not a
    // 3-token split; and ('a b','c') vs ('a','b c') must not merge
    val g = Engine.sql(spark, sf,
      "SELECT ngrams(array('New York', 'City'), 2, 5) AS g")
      .selectExpr("explode(g) AS t").selectExpr("t.ngram").collect()
      .map(_.getSeq[String](0)).toSeq
    assert(g == Seq(Seq("New York", "City")), g)
    val two = Engine.sql(spark, sf,
      """SELECT ngrams(ws, 2, 5) AS g FROM (
           SELECT array('a b', 'c') AS ws UNION ALL SELECT array('a', 'b c'))""")
      .selectExpr("explode(g) AS t").selectExpr("t.ngram", "t.estfrequency")
      .collect().map(r => (r.getSeq[String](0), r.getDouble(1))).toSeq
    assert(two.toSet == Set((Seq("a b", "c"), 1.0), (Seq("a", "b c"), 1.0)), two)
  }

  test("EXCHANGE PARTITION accepts backticked identifiers") {
    val d = Engine.ddl(spark, _: String)
    d("DROP TABLE IF EXISTS r10_exb1"); d("DROP TABLE IF EXISTS r10_exb2")
    d("CREATE TABLE r10_exb1 (f1 STRING) PARTITIONED BY (ds STRING)")
    d("CREATE TABLE r10_exb2 (f1 STRING) PARTITIONED BY (ds STRING)")
    d("INSERT INTO r10_exb2 PARTITION (ds='x') VALUES ('v')")
    d("ALTER TABLE `r10_exb1` EXCHANGE PARTITION (ds='x') WITH TABLE `r10_exb2`")
    assert(parts("r10_exb1") == Seq("ds=x"))
    d("DROP TABLE r10_exb1"); d("DROP TABLE r10_exb2")
  }

  test("compute_stats answers zero counters over empty input") {
    val r = Engine.sql(spark, sf,
      "SELECT compute_stats(k, 16) AS st FROM (SELECT 1 AS k) WHERE k = 0")
      .selectExpr("st.CountNulls", "st.NumDistinctValues").collect().head
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L, r)
    val b = Engine.sql(spark, sf,
      "SELECT compute_stats(b, 16) AS st FROM (SELECT true AS b) WHERE NOT b")
      .selectExpr("st.CountTrues", "st.CountFalses", "st.CountNulls")
      .collect().head
    assert((b.getLong(0), b.getLong(1), b.getLong(2)) == ((0L, 0L, 0L)), b)
  }

  test("DELETE FILE/JAR accepted as loud no-ops; row DELETE still routes") {
    val d = Engine.ddl(spark, _: String)
    // the CLI DeleteResourceProcessor surface: a script's cleanup lines
    // must not error the run (Spark cannot un-add session resources)
    d("DELETE FILE /tmp/nonexistent_resource.txt")
    d("DELETE JARS a.jar b.jar")
    d("DELETE ARCHIVE x.tgz")
    // ...and the resource form must not shadow row-level DELETE
    d("DROP TABLE IF EXISTS r10_delres")
    d("CREATE TABLE r10_delres (k INT) STORED AS PARQUET")
    d("INSERT INTO r10_delres VALUES (1), (2)")
    d("DELETE FROM r10_delres WHERE k = 1")
    assert(spark.table("r10_delres").collect().map(_.getInt(0)).toSeq == Seq(2))
    d("DROP TABLE r10_delres")
  }

  // ---- graft-text: STORED AS TEXTFILE with complex types -----------------
  //      (LazySimpleSerDe nested separators; serde/.../lazy/
  //      LazySimpleSerDe.java — the csv datasource cannot express these)

  private val X1 = "\u0001"; private val X2 = "\u0002"; private val X3 = "\u0003"

  test("complex-typed TEXTFILE tables route to graft-text, bytes Hive-exact") {
    val d = Engine.ddl(spark, _: String)
    val dir = tools.Tmp.dir("r10_gt1")
    d("DROP TABLE IF EXISTS r10_gt1")
    d(s"""CREATE TABLE r10_gt1 (m MAP<INT, STRING>, a ARRAY<INT>,
          s STRUCT<x: INT, y: STRING>) STORED AS TEXTFILE LOCATION '$dir'""")
    d("INSERT INTO r10_gt1 SELECT map(1, 'a', 2, 'b'), array(7, 8), " +
      "named_struct('x', 3, 'y', 'z')")
    val r = d("SELECT m[2], a[1], s.y FROM r10_gt1").collect().head
    assert(r.getString(0) == "b" && r.getInt(1) == 8 && r.getString(2) == "z", r)
    // raw bytes are the serde's exact layout: fields \001, collection
    // items \002, map key-value \003 — Hive-readable in place
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part")).head
    val bytes = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    assert(bytes == s"1${X3}a${X2}2${X3}b${X1}7${X2}8${X1}3${X2}z\n",
      bytes.getBytes("UTF-8").map(_.toInt).mkString(","))
    d("DROP TABLE r10_gt1")
  }

  test("graft-text reads Hive-written lines and honors custom delimiters") {
    val d = Engine.ddl(spark, _: String)
    // a file as Hive's serde would have written it (simulated existing data)
    val dir = tools.Tmp.dir("r10_gt3")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "000000_0"),
      s"k1${X2}k2${X1}1${X2}2${X2}3\nonly${X1}9\n".getBytes("UTF-8"))
    d("DROP TABLE IF EXISTS r10_gt3")
    d(s"""CREATE TABLE r10_gt3 (names ARRAY<STRING>, nums ARRAY<INT>)
          STORED AS TEXTFILE LOCATION '$dir'""")
    assert(d("SELECT size(names), nums[0] FROM r10_gt3 ORDER BY 2").collect()
      .map(x => (x.getInt(0), x.getInt(1))).toSeq == Seq((2, 1), (1, 9)))
    d("DROP TABLE r10_gt3")
    // explicit COLLECTION ITEMS delimiter routes to graft-text too
    d("DROP TABLE IF EXISTS r10_gt2")
    d(s"""CREATE TABLE r10_gt2 (a ARRAY<STRING>)
          ROW FORMAT DELIMITED FIELDS TERMINATED BY ','
          COLLECTION ITEMS TERMINATED BY '|'
          STORED AS TEXTFILE LOCATION '${tools.Tmp.dir("r10_gt2")}'""")
    d("INSERT INTO r10_gt2 SELECT array('p', 'q', 'r')")
    assert(d("SELECT a[2] FROM r10_gt2").collect().head.getString(0) == "r")
    d("DROP TABLE r10_gt2")
  }

  test("partitioned graft-text supports CoW DML and partition listing") {
    val d = Engine.ddl(spark, _: String)
    d("DROP TABLE IF EXISTS r10_gt4")
    d(s"""CREATE TABLE r10_gt4 (tags ARRAY<STRING>, v INT)
          PARTITIONED BY (p STRING) STORED AS TEXTFILE
          LOCATION '${tools.Tmp.dir("r10_gt4")}'""")
    d("INSERT INTO r10_gt4 PARTITION (p='a') SELECT array('t1'), 1")
    d("INSERT INTO r10_gt4 PARTITION (p='b') SELECT array('t2','t3'), 2")
    d("UPDATE r10_gt4 SET v = v + 10 WHERE p = 'b'")
    assert(d("SELECT p, v, size(tags) FROM r10_gt4 ORDER BY p").collect()
      .map(x => (x.getString(0), x.getInt(1), x.getInt(2))).toSeq ==
      Seq(("a", 1, 1), ("b", 12, 2)))
    assert(parts("r10_gt4") == Seq("p=a", "p=b"))
    d("DROP TABLE r10_gt4")
  }

  test("UNIONTYPE DDL rewrites to the struct shim; custom null marker holds") {
    val d = Engine.ddl(spark, _: String)
    d("DROP TABLE IF EXISTS r10_gt5")
    d(s"""CREATE TABLE r10_gt5 (u UNIONTYPE<INT, STRING>)
          STORED AS TEXTFILE LOCATION '${tools.Tmp.dir("r10_gt5")}'""")
    d("INSERT INTO r10_gt5 SELECT named_struct('tag', 1, " +
      "'field0', CAST(NULL AS INT), 'field1', 'hello')")
    val u = d("SELECT u.tag, u.field1 FROM r10_gt5").collect().head
    assert(u.getInt(0) == 1 && u.getString(1) == "hello", u)
    d("DROP TABLE r10_gt5")
    // NULL DEFINED AS on a complex-typed text table writes/reads the
    // custom marker at every level
    d("DROP TABLE IF EXISTS r10_gt6")
    d(s"""CREATE TABLE r10_gt6 (a ARRAY<STRING>, s STRING)
          ROW FORMAT DELIMITED NULL DEFINED AS 'NADA'
          STORED AS TEXTFILE LOCATION '${tools.Tmp.dir("r10_gt6")}'""")
    d("INSERT INTO r10_gt6 SELECT NULL, NULL")
    d("INSERT INTO r10_gt6 SELECT array('x'), 'y'")
    assert(d("SELECT a IS NULL, s IS NULL FROM r10_gt6 ORDER BY 1").collect()
      .map(x => (x.getBoolean(0), x.getBoolean(1))).toSeq ==
      Seq((false, false), (true, true)))
    d("DROP TABLE r10_gt6")
  }

  test("INSERT OVERWRITE DIRECTORY with complex types falls back to graft-text") {
    val dir = tools.Tmp.dir("r10_iodx")
    Engine.sql(spark, sf,
      s"""INSERT OVERWRITE DIRECTORY '$dir'
          SELECT n_nationkey, array(n_name, 'x') AS a FROM nation WHERE n_nationkey < 2""")
    val lines = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines()).sorted.toSeq
    // Hive text layout: fields \001, array items \002
    assert(lines == Seq(s"0${X1}NATION_0${X2}x", s"1${X1}NATION_1${X2}x"), lines)
  }

  test("directory exports to the graft DSv2 formats write through the API") {
    // INSERT OVERWRITE DIRECTORY ... USING <dsv2> is rejected by Spark's
    // FileFormat-only command — the engine retries through the DataFrame
    // writer, so STORED AS SEQUENCEFILE/RCFILE/AVRO exports work
    for ((stored, fmt) <- Seq("SEQUENCEFILE" -> "graft-seq",
        "RCFILE" -> "graft-rcfile", "AVRO" -> "graft-avro")) {
      val dir = tools.Tmp.dir(s"r10_iod_$fmt")
      Engine.sql(spark, sf,
        s"""INSERT OVERWRITE DIRECTORY '$dir' STORED AS $stored
            SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 3""")
      assert(spark.read.schema("n_nationkey INT, n_name STRING")
        .format(fmt).load(dir).count() == 3, fmt)
    }
  }

  test("CONCATENATE and LOAD DATA work on complex-typed text tables") {
    val d = Engine.ddl(spark, _: String)
    d("DROP TABLE IF EXISTS r10_gtc")
    d(s"""CREATE TABLE r10_gtc (a ARRAY<INT>) STORED AS TEXTFILE
          LOCATION '${tools.Tmp.dir("r10_gtc")}'""")
    d("INSERT INTO r10_gtc SELECT array(1, 2)")
    d("INSERT INTO r10_gtc SELECT array(3)")
    d("ALTER TABLE r10_gtc CONCATENATE")
    assert(spark.table("r10_gtc").count() == 2)
    val src = tools.Tmp.dir("r10_gtl")
    java.nio.file.Files.write(java.nio.file.Paths.get(src, "f.txt"),
      s"1${X2}2\n3\n".getBytes("UTF-8"))
    d(s"LOAD DATA LOCAL INPATH '$src/f.txt' INTO TABLE r10_gtc")
    assert(spark.table("r10_gtc").count() == 4)
    d("DROP TABLE r10_gtc")
  }

  test("SET FILEFORMAT TEXTFILE on a complex-typed table routes to graft-text") {
    val d = Engine.ddl(spark, _: String)
    d("DROP TABLE IF EXISTS r10_gts")
    d(s"""CREATE TABLE r10_gts (a ARRAY<INT>) STORED AS PARQUET
          LOCATION '${tools.Tmp.dir("r10_gts")}'""")
    d("INSERT INTO r10_gts SELECT array(1, 2)")
    d("ALTER TABLE r10_gts SET FILEFORMAT TEXTFILE")
    assert(spark.table("r10_gts").collect().head.getSeq[Int](0) == Seq(1, 2))
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("r10_gts"))
    assert(meta.provider.exists(_.contains("graft-text")), meta.provider)
    // EXPORT/IMPORT round-trips the graft-text table too
    d("DROP TABLE IF EXISTS r10_gts2")
    val dump = tools.Tmp.dir("r10_gts_dump") + "/d"
    d(s"EXPORT TABLE r10_gts TO '$dump'")
    d(s"IMPORT TABLE r10_gts2 FROM '$dump'")
    assert(spark.table("r10_gts2").collect().head.getSeq[Int](0) == Seq(1, 2))
    d("DROP TABLE r10_gts"); d("DROP TABLE r10_gts2")
  }

  test("TIMESTAMP text tables write Hive wall-clock bytes via graft-text") {
    val d = Engine.ddl(spark, _: String)
    val dir = tools.Tmp.dir("r10_gtts")
    d("DROP TABLE IF EXISTS r10_gtts")
    d(s"""CREATE TABLE r10_gtts (t TIMESTAMP, s STRING)
          STORED AS TEXTFILE LOCATION '$dir'""")
    d("INSERT INTO r10_gtts VALUES (TIMESTAMP '2024-05-06 07:08:09.123', 'x')")
    d("INSERT INTO r10_gtts VALUES (TIMESTAMP '2024-05-06 07:08:09', 'y')")
    val lines = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part"))
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines()).sorted.toSeq
    // Hive Timestamp.toString: space-separated wall clock, fraction only
    // when non-zero — NOT the csv writer's ISO T/Z form a Hive reader
    // cannot parse
    assert(lines == Seq(s"2024-05-06 07:08:09${X1}y",
      s"2024-05-06 07:08:09.123${X1}x"), lines)
    assert(d("SELECT CAST(t AS STRING) FROM r10_gtts ORDER BY s").collect()
      .map(_.getString(0)).toSeq ==
      Seq("2024-05-06 07:08:09.123", "2024-05-06 07:08:09"))
    d("DROP TABLE r10_gtts")
  }

  test("CTAS text tables with complex select output retry as graft-text") {
    val d = Engine.ddl(spark, _: String)
    d("DROP TABLE IF EXISTS r10_gtcx")
    d(s"""CREATE TABLE r10_gtcx STORED AS TEXTFILE
          LOCATION '${tools.Tmp.dir("r10_gtcx")}' AS SELECT array(1, 2) AS a""")
    assert(spark.table("r10_gtcx").collect().head.getSeq[Int](0) == Seq(1, 2))
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("r10_gtcx"))
    assert(meta.provider.exists(_.contains("graft-text")), meta.provider)
    d("DROP TABLE r10_gtcx")
  }

  test("graft-text reads CRLF and gzip files like the reference's reader") {
    val d = Engine.ddl(spark, _: String)
    val dir = tools.Tmp.dir("r10_gtcrlf")
    // Windows line endings: Hive's LineRecordReader strips \r, so must we
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "crlf.txt"),
      s"a${X2}b\r\nc\r\n".getBytes("UTF-8"))
    // gzip member: unsplittable single-stream read via the codec factory
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(
        java.nio.file.Paths.get(dir, "more.txt.gz")))
    gz.write(s"d${X2}e${X2}f\n".getBytes("UTF-8")); gz.close()
    d("DROP TABLE IF EXISTS r10_gtr")
    d(s"CREATE TABLE r10_gtr (a ARRAY<STRING>) STORED AS TEXTFILE LOCATION '$dir'")
    val r = d("SELECT size(a) FROM r10_gtr ORDER BY 1").collect()
      .map(_.getInt(0)).toSeq
    assert(r == Seq(1, 2, 3), r) // c | a,b | d,e,f — no \r residue
    val vals = d("SELECT a FROM r10_gtr").collect()
      .map(_.getSeq[String](0)).sortBy(_.length)
    assert(vals(0) == Seq("c") && vals(1) == Seq("a", "b")
      && vals(2) == Seq("d", "e", "f"), vals.toSeq)
    d("DROP TABLE r10_gtr")
  }

  test("simple TEXTFILE tables keep the csv fast path") {
    val d = Engine.ddl(spark, _: String)
    d("DROP TABLE IF EXISTS r10_gt7")
    d(s"""CREATE TABLE r10_gt7 (k INT, s STRING) STORED AS TEXTFILE
          LOCATION '${tools.Tmp.dir("r10_gt7")}'""")
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("r10_gt7"))
    assert(meta.provider.contains("csv"), meta.provider)
    d("DROP TABLE r10_gt7")
  }

  test("SHOW CREATE TABLE ... AS SERDE degrades to the plain runnable DDL") {
    val d = Engine.ddl(spark, _: String)
    d("DROP TABLE IF EXISTS r10_scts")
    d("CREATE TABLE r10_scts (k INT) STORED AS PARQUET")
    val out = d("SHOW CREATE TABLE r10_scts AS SERDE")
      .collect().map(_.getString(0)).mkString("\n")
    assert(out.toUpperCase.contains("CREATE TABLE") && out.contains("r10_scts"), out)
    d("DROP TABLE r10_scts")
  }
}
