package graft

import org.apache.spark.sql.functions._

/** Round-7 gates: TABLESAMPLE(BUCKET) text rewrite, reflect2, EXPLAIN
  * stability, SOURCE cycle guard, and the corrupt-WAV termination fix.
  */
class Round7Spec extends SparkSpec {
  import spark.implicits._

  // ---- TABLESAMPLE(BUCKET x OUT OF y ON cols) text rewrite ----

  test("rewriteBucketSample rewrites the ON-cols form into a Hive-hash filter") {
    val got = frontend.Rewrites.rewriteBucketSample(
      "SELECT * FROM src TABLESAMPLE(BUCKET 1 OUT OF 2 ON key) WHERE v > 0")
    // (hash & Int.MaxValue) % y — ObjectInspectorUtils.getBucketNumber;
    // the registered `hash` is the exact 32-bit Hive chain, and the mask
    // (not pmod) handles negative hashes the way Hive does
    assert(got ==
      "SELECT * FROM (SELECT * FROM src WHERE ((hash(key) & 2147483647) % 2) = 0) AS src WHERE v > 0",
      got)
  }

  test("rewriteBucketSample keeps an explicit alias and combines columns Hive-style") {
    val got = frontend.Rewrites.rewriteBucketSample(
      "SELECT s.k FROM src TABLESAMPLE(BUCKET 3 OUT OF 5 ON k, v) AS s")
    assert(got.contains("((hash(k, v) & 2147483647) % 5) = 2"), got)
    assert(got.contains(") AS s"), got)
  }

  test("rewriteBucketSample leaves the ON-less form for Spark's native parser") {
    val q = "SELECT * FROM src TABLESAMPLE(BUCKET 1 OUT OF 4)"
    assert(frontend.Rewrites.rewriteBucketSample(q) == q)
  }

  test("TABLESAMPLE BUCKET ON through Engine.sql selects exactly the bucket") {
    val all = Tables.t(spark, sf, "lineitem")
      .filter(pmod(col("l_orderkey"), lit(7)) === 3).count()
    val sampled = Engine.sql(spark, sf,
      "SELECT count(*) AS n FROM lineitem TABLESAMPLE(BUCKET 4 OUT OF 7 ON l_orderkey)")
      .head().getLong(0)
    assert(sampled == all)
    assert(sampled > 0)
  }

  test("TABLESAMPLE BUCKET ON rand() samples roughly a 1/y fraction") {
    val total = Tables.t(spark, sf, "lineitem").count()
    val n = Engine.sql(spark, sf,
      "SELECT count(*) AS n FROM lineitem TABLESAMPLE(BUCKET 1 OUT OF 4 ON rand())")
      .head().getLong(0)
    assert(n > total / 8 && n < total / 2, s"$n of $total")
  }

  // ---- reflect2 ----

  test("reflect2 resolves instance methods with Hive-compatible semantics") {
    val r = Engine.sql(spark, sf,
      """SELECT reflect2('hello world', 'length') AS len,
                reflect2('hello world', 'substring', 6) AS tail,
                reflect2('hello', 'toUpperCase') AS up,
                reflect2('hello', 'indexOf', 'l') AS idx,
                reflect2(CAST(255 AS INT), 'toString') AS s255
      """).head()
    assert(r.getInt(0) == 11)
    assert(r.getString(1) == "world")
    assert(r.getString(2) == "HELLO")
    assert(r.getInt(3) == 2)
    assert(r.getString(4) == "255")
  }

  test("reflect2 is null-safe and rejects unknown methods at analysis") {
    val r = Engine.sql(spark, sf,
      "SELECT reflect2(CAST(NULL AS STRING), 'length') AS n").head()
    assert(r.isNullAt(0))
    val e = intercept[Exception] {
      Engine.sql(spark, sf, "SELECT reflect2('x', 'noSuchMethod')").collect()
    }
    assert(e.getMessage.toLowerCase.contains("nosuchmethod"))
  }

  // ---- EXPLAIN through the script surface ----

  test("EXPLAIN output is scrubbed of expression ids and file paths") {
    val plan = Engine.sql(spark, sf,
      "EXPLAIN SELECT l_returnflag, sum(l_quantity) FROM lineitem GROUP BY l_returnflag")
      .head().getString(0)
    assert(plan.contains("HashAggregate") || plan.contains("Aggregate"), plan)
    assert(!"""#\d+""".r.findFirstIn(plan).isDefined, plan)
    assert(!plan.contains(sf), plan) // no host-specific data paths
  }

  // ---- SOURCE guard ----

  test("SOURCE cycle fails with a descriptive error, not StackOverflow") {
    val dir = java.nio.file.Files.createTempDirectory("graft_src_cycle")
    val a = dir.resolve("a.sql"); val b = dir.resolve("b.sql")
    java.nio.file.Files.writeString(a, s"SOURCE $b;")
    java.nio.file.Files.writeString(b, s"SOURCE $a;")
    val e = intercept[IllegalArgumentException] {
      Engine.script(spark, sf, s"SOURCE $a;")
    }
    assert(e.getMessage.contains("cycle"), e.getMessage)
  }

  test("SOURCE of a missing file names the offending statement") {
    val e = intercept[IllegalArgumentException] {
      Engine.script(spark, sf, "SOURCE /no/such/file_12345.sql;")
    }
    assert(e.getMessage.contains("file_12345"), e.getMessage)
  }

  // ---- corrupt WAV payloads terminate ----

  test("parseWav returns None (not a hang) on corrupt chunk lengths") {
    // chunk declares length 0xFFFFFFFF: the old Int math advanced by 0
    val bad = java.nio.ByteBuffer.allocate(32)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bad.put("RIFF".getBytes).putInt(24).put("WAVE".getBytes)
    bad.put("junk".getBytes).putInt(0xFFFFFFFF)
    assert(graft.operators.Multimodal.parseWav(bad.array()).isEmpty)
    // truncated mid-walk
    val trunc = java.nio.ByteBuffer.allocate(20)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    trunc.put("RIFF".getBytes).putInt(12).put("WAVE".getBytes)
    trunc.put("fmt ".getBytes).putInt(1000)
    assert(graft.operators.Multimodal.parseWav(trunc.array()).isEmpty)
  }

  // ---- new gates return plausible rows at sf0.001 ----

  test("round-7 registry queries run and return rows") {
    Seq("q137_current_user", "q138_tablesample_bucket_sql",
        "q139_reflect2", "q140_regex_serde").foreach { name =>
      val df = Registry.byName(name).fn(spark, sf)
      assert(df.count() > 0, name)
    }
  }

  test("q137 asserts the session user matches the JVM user") {
    val rows = Registry.byName("q137_current_user").fn(spark, sf).collect()
    assert(rows.forall(_.getBoolean(1)), "current_user() != expected session user")
  }

  test("q140 malformed log line survives as an all-NULL row") {
    val df = Registry.byName("q140_regex_serde").fn(spark, sf)
    assert(df.filter(col("host").isNull).count() == 1)
  }

  // ---- legacy Hive CREATE TABLE DDL rewrite ----

  test("rewriteHiveCreate maps TEXTFILE + delimiters onto csv options") {
    val got = frontend.Rewrites.rewriteHiveCreate(
      """CREATE TABLE t1 (a STRING, b INT)
        |ROW FORMAT DELIMITED FIELDS TERMINATED BY '\t' NULL DEFINED AS 'NUL'
        |STORED AS TEXTFILE""".stripMargin)
    assert(got.contains("USING csv"), got)
    assert(got.contains("sep = '\t'"), got)
    assert(got.contains("nullValue = 'NUL'"), got)
    assert(!got.toUpperCase.contains("STORED AS"), got)
    assert(!got.toUpperCase.contains("ROW FORMAT"), got)
  }

  test("rewriteHiveCreate anchors USING after the schema, before clauses") {
    val got = frontend.Rewrites.rewriteHiveCreate(
      "CREATE EXTERNAL TABLE t2 (k INT) PARTITIONED BY (p INT) STORED AS PARQUET LOCATION '/tmp/x'")
    assert("(?is)\\(k INT\\)\\s+USING parquet\\s+PARTITIONED BY".r
      .findFirstIn(got).nonEmpty, got)
    assert(!got.toUpperCase.contains("EXTERNAL"), got)
    assert(got.contains("LOCATION '/tmp/x'"), got)
  }

  test("rewriteHiveCreate decodes octal delimiters and leaves non-Hive DDL alone") {
    val oct = frontend.Rewrites.rewriteHiveCreate(
      "CREATE TABLE t3 (a STRING) ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\001' STORED AS TEXTFILE")
    assert(oct.contains("sep = '\u0001'"), oct)
    val plain = "CREATE TABLE t4 (a STRING) USING parquet"
    assert(frontend.Rewrites.rewriteHiveCreate(plain) == plain)
    // round 8: SEQUENCEFILE maps to the DSv2 source; round 10: RCFILE too
    val seq = "CREATE TABLE t5 (a STRING) STORED AS SEQUENCEFILE"
    assert(frontend.Rewrites.rewriteHiveCreate(seq).contains("USING `graft-seq`"))
    val rc = "CREATE TABLE t6 (a STRING) STORED AS RCFILE"
    assert(frontend.Rewrites.rewriteHiveCreate(rc).contains("USING `graft-rcfile`"))
  }

  test("rewriteHiveInsertDir maps directory writes onto USING providers") {
    val got = frontend.Rewrites.rewriteHiveInsertDir(
      "INSERT OVERWRITE DIRECTORY '/tmp/out' ROW FORMAT DELIMITED FIELDS TERMINATED BY ',' STORED AS TEXTFILE SELECT 1")
    assert(got.contains("USING csv"), got)
    assert(got.contains("sep = ','"), got)
    assert(got.endsWith(" SELECT 1"), got)
    val par = frontend.Rewrites.rewriteHiveInsertDir(
      "INSERT OVERWRITE DIRECTORY '/tmp/out2' STORED AS PARQUET SELECT 2 AS v")
    assert(par.contains("'/tmp/out2' USING parquet SELECT 2 AS v"), par)
  }

  test("INSERT OVERWRITE DIRECTORY with Hive serde text writes and reads back") {
    val out = java.nio.file.Files.createTempDirectory("r7_iod").toString + "/d"
    Engine.sql(spark, sf,
      s"""INSERT OVERWRITE DIRECTORY '$out'
          ROW FORMAT DELIMITED FIELDS TERMINATED BY '|' STORED AS TEXTFILE
          SELECT r_regionkey, r_name FROM region""")
    val lines = spark.read.text(out).collect().map(_.getString(0)).sorted
    assert(lines.length == 5)
    assert(lines.forall(_.contains("|")), lines.mkString(","))
  }

  test("legacy textfile DDL round-trips data through the csv provider") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
    Engine.ddl(spark, "DROP TABLE IF EXISTS graft_tmp.r7_txt")
    Engine.ddl(spark,
      "CREATE TABLE graft_tmp.r7_txt (k INT, v STRING) ROW FORMAT DELIMITED FIELDS TERMINATED BY ',' STORED AS TEXTFILE")
    spark.sql("INSERT OVERWRITE TABLE graft_tmp.r7_txt VALUES (1, 'a'), (2, NULL), (3, 'c,d')")
    val got = spark.table("graft_tmp.r7_txt").collect()
      .map(r => (r.getInt(0), Option(r.getString(1)))).toSet
    assert(got == Set((1, Some("a")), (2, None), (3, Some("c,d"))))
  }

  test("ALTER TABLE CONCATENATE merges files, preserves content, guards partitioned") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
    Engine.ddl(spark, "DROP TABLE IF EXISTS graft_tmp.r7_cc")
    val loc = java.nio.file.Files.createTempDirectory("r7_cc").toString
    spark.sql(s"CREATE TABLE graft_tmp.r7_cc (k INT) USING parquet LOCATION '$loc'")
    (1 to 3).foreach(i =>
      spark.sql(s"INSERT INTO graft_tmp.r7_cc VALUES ($i), (${i * 10})"))
    def nFiles = new java.io.File(loc).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(nFiles >= 3)
    Engine.ddl(spark, "ALTER TABLE graft_tmp.r7_cc CONCATENATE")
    assert(nFiles == 1)
    val got = spark.table("graft_tmp.r7_cc").collect().map(_.getInt(0)).sorted
    assert(got.toSeq == Seq(1, 2, 3, 10, 20, 30))
    // partitioned table without a PARTITION spec must be rejected
    Engine.ddl(spark, "DROP TABLE IF EXISTS graft_tmp.r7_ccp")
    spark.sql("CREATE TABLE graft_tmp.r7_ccp (k INT) USING parquet PARTITIONED BY (p INT)")
    intercept[IllegalArgumentException] {
      Engine.ddl(spark, "ALTER TABLE graft_tmp.r7_ccp CONCATENATE")
    }
  }

  // ---- q23's single-partition window vs the GlobalRank scale path ----

  test("q23 distribution functions == GlobalRank.distribution (no single partition)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
    val viaWindow = Registry.byName("q23_window_ntile").fn(spark, sf)
      .collect().map(key).toSet
    val sup = Tables.t(spark, sf, "supplier")
    val global = graft.operators.GlobalRank.distribution(sup,
      keyOrder = Seq(col("s_acctbal").desc),
      keys = Seq(col("s_acctbal"), col("s_suppkey")),
      tieBreak = Seq(col("s_suppkey").asc), buckets = 4)
    val proj = global.select(col("s_suppkey"), col("nt").cast("long"),
      (round(col("pr") * 1e6) / 1e6).as("pr"),
      (round(col("cd") * 1e6) / 1e6).as("cd"))
    val viaGlobal = proj.collect().map(key).toSet
    // the literal-SQL gate (q23, dimension-sized input by contract) and
    // the 100 TB shape (GlobalRank, range-partitioned) must agree exactly
    assert(viaGlobal == viaWindow)
    // and the scale path must plan WITHOUT the single-partition window
    val plan = proj.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan)
    tools.Checkpoints.sweep()
  }

  // ---- nested-schema pruning: a one-field struct projection must not
  //      scan the whole struct (100 TB: wide metadata structs read at
  //      field granularity, Spark's nestedSchemaPruning) ----
  test("struct field select prunes the parquet ReadSchema to that field") {
    val dir = graft.tools.Tmp.dir("graft_nested") + "/t"
    Tables.t(spark, sf, "nation")
      .select(col("n_nationkey"),
        struct(col("n_name").as("name"), col("n_regionkey").as("region"),
          concat(col("n_name"), lit("-x")).as("comment")).as("meta"))
      .write.mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir).select(col("n_nationkey"),
      col("meta.region"))
    assert(q.collect().length == 25)
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    val readSchema = scan.substring(scan.indexOf("ReadSchema:"))
    assert(readSchema.contains("region"), readSchema)
    // the pruned scan must NOT read the struct's sibling fields
    assert(!readSchema.contains("name"), readSchema)
    assert(!readSchema.contains("comment"), readSchema)
  }

  test("rewritePtfNoop turns noop(on tab partition/order) into distribute/sort") {
    val got = frontend.Rewrites.rewritePtfNoop(
      "SELECT * FROM noop(on part partition by p_brand order by p_name)")
    assert(got ==
      "SELECT * FROM (SELECT * FROM part DISTRIBUTE BY p_brand SORT BY p_name) part")
  }

  test("rewritePtfNoop keeps subquery aliases and the trailing call alias") {
    val got = frontend.Rewrites.rewritePtfNoop(
      "FROM noop (on (select * from part p1) j distribute by j.p_brand sort by j.p_name) abc WHERE x")
    assert(got ==
      "FROM (SELECT * FROM (select * from part p1) j distribute by j.p_brand sort by j.p_name) abc WHERE x")
  }

  test("rewritePtfNoop leaves trailing SQL keywords outside the alias") {
    val got = frontend.Rewrites.rewritePtfNoop(
      "FROM noopwithmap(on part partition by p_brand) WHERE p_size < 10")
    assert(got ==
      "FROM (SELECT * FROM part DISTRIBUTE BY p_brand) part WHERE p_size < 10")
  }

  test("matchPathRows emits one row per match START with the full tpath") {
    import spark.implicits._
    val df = Seq(
      ("u1", 1, 10), ("u1", 2, 90), ("u1", 3, 95), ("u1", 4, 80), ("u1", 5, 5),
      ("u2", 1, 99), ("u2", 2, 10)).toDF("u", "seq", "v")
    val got = operators.MatchPath.matchPathRows(spark, df,
      Seq(col("u")), Seq(col("seq")), "HI.HI+",
      Seq(("HI", col("v") > 50)))
      .selectExpr("u", "seq", "size(tpath) as sz", "tpath[0].seq as p0")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .sortBy(t => (t._1, t._2))
    // u1 rows 2,3,4 are HI: overlapping starts at 2 (len 3) and 3 (len 2);
    // u2's single HI cannot match HI.HI+
    assert(got.toSeq == Seq(("u1", 2, 3, 2), ("u1", 3, 2, 3)))
  }

  test("rewriteMatchPath splices a computed view over the PTF call text") {
    import spark.implicits._
    Seq((1, 1, 70), (1, 2, 80), (1, 3, 10)).toDF("k", "s", "v")
      .createOrReplaceTempView("mp_src")
    val out = Engine.sql(spark, sf,
      """SELECT k, s, sz FROM matchpath(on mp_src distribute by k sort by s
        | arg1('A.A'), arg2('A'), arg3(v > 50),
        | arg4('k, s, size(tpath) as sz')) ORDER BY s""".stripMargin)
    assert(out.collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
      .toSeq == Seq((1, 1, 2)))
  }

  test("greatest/least return NULL on any NULL argument (HIVE-12082)") {
    val r = spark
      .sql("""SELECT greatest(1, 2, NULL), least(1, NULL),
                     greatest(1, 2), least(3, 4, 2),
                     greatest('a', NULL, 'c')""").collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1), "null-strict semantics")
    assert(r.getInt(2) == 2 && r.getInt(3) == 2)
    assert(r.isNullAt(4))
  }

  test("ON-less TABLESAMPLE BUCKET leaves non-bucketed tables to Spark") {
    val s = "SELECT * FROM nation TABLESAMPLE (BUCKET 1 OUT OF 2) t"
    // nation is a temp view with no bucket spec -> statement unchanged
    assert(frontend.Rewrites.rewriteBucketSampleNoOn(spark, s) == s)
  }

  test("ORC scan pushes filters like parquet (orc_predicate_pushdown parity)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("g_orc_ppd").toString
    Tables.t(spark, sf, "orders").write.mode("overwrite").orc(dir)
    val plan = spark.read.orc(dir)
      .filter($"o_orderkey" < 100).select("o_orderkey", "o_totalprice")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("LessThan(o_orderkey,100)"), plan.take(800))
    assert(plan.contains("ReadSchema") && !plan.contains("o_orderdate"),
      "projection not pruned to the selected columns")
  }

  test("t15 chunking covers every token with the declared overlap") {
    import spark.implicits._
    val chunks = Registry.byName("t15_chunk_overlap").fn(spark, sf)
    val perDoc = chunks.groupBy("doc_id")
      .agg(sum("n_tokens").as("chunked"), count(lit(1)).as("n_chunks"))
    val docs = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
    val joined = perDoc.join(docs, "doc_id")
      .select($"doc_id", $"chunked", $"n_chunks", $"n").collect()
    joined.foreach { r =>
      val (chunked, nChunks, n) = (r.getLong(1), r.getLong(2), r.getLong(3))
      // one chunk per stride-24 start below n
      assert(nChunks == (n - 1) / 24 + 1, r.toString)
      // full coverage, overlap bounded by 8 tokens per chunk boundary
      assert(chunked >= n && chunked <= n + (nChunks - 1) * 8, r.toString)
    }
    assert(joined.nonEmpty)
  }
}
