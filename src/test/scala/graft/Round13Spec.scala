package graft

import org.apache.spark.sql.functions._

/** Round-13 gates: the r12 advisor findings.
  *
  *  - (high) CREATE TEMPORARY TABLE must register its name for
  *    session-end drop only AFTER the statement succeeds and only when
  *    the table was NEWLY created — a failed CREATE (permanent table of
  *    the same name exists) or an IF NOT EXISTS no-op must never queue a
  *    PERMANENT table for a purge-drop at application end.
  *  - (medium) DROP PARTITION on an EXTERNAL heterogeneous-format table
  *    removes the catalog partition but keeps the files; the divergence
  *    entry must be pruned against the CATALOG, not directory existence,
  *    or the union read keeps serving the dropped partition forever.
  *  - (low) a thread created while strict checks are suspended must NOT
  *    inherit the suspension (fail-closed: checks enforced).
  *  - (low) the MP4 box walk must handle size==0 (box-to-EOF) and
  *    size==1 (64-bit largesize) encodings — real-world files use both.
  */
class Round13Spec extends SparkSpec {

  private def freshDb(): Unit =
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")

  // ---- temp-table registration only on successful NEW create (high) ----

  test("failed CREATE TEMPORARY TABLE never queues the permanent table for drop") {
    freshDb()
    Engine.ddl(spark, "DROP TABLE IF EXISTS graft_tmp.r13_perm")
    Engine.ddl(spark, "CREATE TABLE graft_tmp.r13_perm (k INT) USING PARQUET")
    spark.sql("INSERT INTO graft_tmp.r13_perm VALUES (7)")
    intercept[Exception] {
      Engine.ddl(spark,
        "CREATE TEMPORARY TABLE graft_tmp.r13_perm (k INT) USING PARQUET")
    }
    Engine.dropTempTables(spark) // what the session-end listener runs
    assert(spark.catalog.tableExists("graft_tmp.r13_perm"),
      "session end purged a permanent table a FAILED create never made")
    assert(spark.table("graft_tmp.r13_perm").count() == 1)
  }

  test("IF NOT EXISTS no-op CREATE TEMPORARY TABLE does not register either") {
    freshDb()
    Engine.ddl(spark, "DROP TABLE IF EXISTS graft_tmp.r13_perm2")
    Engine.ddl(spark, "CREATE TABLE graft_tmp.r13_perm2 (k INT) USING PARQUET")
    spark.sql("INSERT INTO graft_tmp.r13_perm2 VALUES (1), (2)")
    // succeeds as a no-op — the table it "created" is the permanent one
    Engine.ddl(spark,
      "CREATE TEMPORARY TABLE IF NOT EXISTS graft_tmp.r13_perm2 (k INT) USING PARQUET")
    Engine.dropTempTables(spark)
    assert(spark.catalog.tableExists("graft_tmp.r13_perm2"),
      "session end purged a permanent table an IF NOT EXISTS no-op never made")
    assert(spark.table("graft_tmp.r13_perm2").count() == 2)
  }

  test("Engine.closeSession drops the session's temp tables (Hive session scope)") {
    freshDb()
    Engine.ddl(spark, "DROP TABLE IF EXISTS graft_tmp.r13_close_t")
    Engine.ddl(spark, "DROP TABLE IF EXISTS graft_tmp.r13_close_p")
    Engine.ddl(spark,
      "CREATE TEMPORARY TABLE graft_tmp.r13_close_t (k INT) USING PARQUET")
    Engine.ddl(spark,
      "CREATE TABLE graft_tmp.r13_close_p (k INT) USING PARQUET")
    Engine.closeSession(spark)
    assert(!spark.catalog.tableExists("graft_tmp.r13_close_t"),
      "session close must drop the session's temp tables")
    assert(spark.catalog.tableExists("graft_tmp.r13_close_p"),
      "session close must not touch permanent tables")
    Engine.closeSession(spark) // idempotent
  }

  test("a genuinely created IF NOT EXISTS temp table is still dropped") {
    freshDb()
    Engine.ddl(spark, "DROP TABLE IF EXISTS graft_tmp.r13_fresh")
    Engine.ddl(spark,
      "CREATE TEMPORARY TABLE IF NOT EXISTS graft_tmp.r13_fresh (k INT) USING PARQUET")
    assert(spark.catalog.tableExists("graft_tmp.r13_fresh"))
    Engine.dropTempTables(spark)
    assert(!spark.catalog.tableExists("graft_tmp.r13_fresh"),
      "a temp table the statement DID create must be session-scoped")
  }

  // ---- hetero entry pruning against the catalog (medium) ---------------

  test("DROP PARTITION on an EXTERNAL hetero table prunes the entry despite surviving files") {
    freshDb()
    Engine.ddl(spark, "DROP TABLE IF EXISTS graft_tmp.r13_ext")
    val ext = java.nio.file.Files.createTempDirectory("r13_ext").toString
    spark.sql(s"""CREATE TABLE graft_tmp.r13_ext (v STRING, p STRING)
      USING parquet PARTITIONED BY (p) LOCATION '$ext'""")
    spark.sql("INSERT INTO graft_tmp.r13_ext PARTITION (p='keep') VALUES ('base')")
    spark.sql("INSERT INTO graft_tmp.r13_ext PARTITION (p='old') VALUES ('seed')")
    Engine.ddl(spark,
      "ALTER TABLE graft_tmp.r13_ext PARTITION (p='old') SET FILEFORMAT SEQUENCEFILE")
    Engine.ddl(spark, """INSERT OVERWRITE TABLE graft_tmp.r13_ext
      PARTITION (p='old') SELECT 'gone'""")
    assert(plans.HeteroPartitions.entriesOf(spark, "graft_tmp.r13_ext").nonEmpty)
    Engine.ddl(spark, "ALTER TABLE graft_tmp.r13_ext DROP PARTITION (p='old')")
    // EXTERNAL: the files survive the drop — the exact shape that made a
    // directory-existence-only prune keep the divergence entry alive
    assert(new java.io.File(ext + "/p=old").exists,
      "precondition: external DROP PARTITION keeps the files on disk")
    assert(plans.HeteroPartitions.entriesOf(spark, "graft_tmp.r13_ext").isEmpty,
      "divergence entry must be pruned against the CATALOG partition list")
    val rows = spark.table("graft_tmp.r13_ext").select("v")
      .collect().map(_.getString(0)).toSet
    assert(rows == Set("base"),
      s"dropped partition's rows kept being served: $rows")
  }

  // ---- strict-check suspension must not leak into child threads (low) --

  test("a thread created inside a suspended block starts with checks enforced") {
    Tables.views(spark, sf, "nation")
    spark.conf.set("hive.mapred.mode", "strict")
    try {
      plans.StrictChecks.suspended(spark) {
        // under the pre-fix InheritableThreadLocal, this thread inherits
        // depth>=1 at creation and nothing ever decrements it — strict
        // checks permanently and silently disabled on it
        @volatile var refused: Option[String] = None
        val t = new Thread(() => {
          try {
            spark.sql("SELECT n_name FROM nation ORDER BY n_name").collect()
            ()
          } catch { case e: Exception => refused = Some(e.getMessage) }
        })
        t.start(); t.join()
        assert(refused.exists(_.contains("LIMIT must also be specified")),
          s"child thread silently skipped strict checks: $refused")
        // the suspending thread itself IS still suspended
        assert(spark.sql("SELECT n_name FROM nation ORDER BY n_name")
          .count() > 0)
      }
    } finally spark.conf.unset("hive.mapred.mode")
  }

  // ---- ISO-BMFF size encodings: largesize and box-to-EOF (low) ---------

  private def be32(v: Long): Array[Byte] =
    Array(((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
  private def be64(v: Long): Array[Byte] = be32(v >>> 32) ++ be32(v & 0xFFFFFFFFL)
  private def readBe32(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xFF) << 24) | ((b(o + 1) & 0xFF) << 16) |
      ((b(o + 2) & 0xFF) << 8) | (b(o + 3) & 0xFF)

  /** Re-encode the synthetic MP4's top-level boxes: moov as a size==1
    * largesize box and mdat as a size==0 to-EOF box — the two encodings
    * the plain 32-bit walk could not step over. */
  private def reEncode(b: Array[Byte]): Array[Byte] = {
    val s1 = readBe32(b, 0)                    // ftyp
    val s2 = readBe32(b, s1)                   // moov
    val ftyp = b.slice(0, s1)
    val moovPayload = b.slice(s1 + 8, s1 + s2)
    val mdatPayload = b.slice(s1 + s2 + 8, b.length)
    val moovLarge = be32(1) ++ "moov".getBytes("US-ASCII") ++
      be64(16L + moovPayload.length) ++ moovPayload
    val mdatEof = be32(0) ++ "mdat".getBytes("US-ASCII") ++ mdatPayload
    ftyp ++ moovLarge ++ mdatEof
  }

  test("decodeVideoMeta handles largesize and to-EOF boxes identically") {
    import spark.implicits._
    val plain = operators.Multimodal.mp4Bytes(5L)
    val media = Seq((1L, plain), (2L, reEncode(plain)))
      .toDF("doc_id", "payload")
    val metas = operators.Multimodal.decodeVideoMeta(spark, media)
      .collect().sortBy(_.doc_id)
    assert(metas.length == 2)
    val (a, b) = (metas(0), metas(1))
    assert(a.sizes_ok && b.sizes_ok, s"$a / $b")
    assert(a.duration_ms == b.duration_ms && a.n_tracks == b.n_tracks &&
      a.mdat_bytes == b.mdat_bytes && a.frame_size == b.frame_size &&
      a.n_frames == b.n_frames,
      s"re-encoded sizes changed the decoded metadata: $a vs $b")
  }

  test("a truncated largesize header stops the walk instead of throwing") {
    import spark.implicits._
    // size==1 but fewer than 16 bytes remain: corrupt — m01 convention
    val corrupt = be32(1) ++ "ftyp".getBytes("US-ASCII") ++ be32(0)
    val media = Seq((1L, corrupt)).toDF("doc_id", "payload")
    val m = operators.Multimodal.decodeVideoMeta(spark, media).collect().head
    assert(m.duration_ms == -1 && !m.sizes_ok, m.toString)
  }

  // ---- third-party Hive UDF execution: CREATE FUNCTION ... USING JAR ---

  private val udfJar = "src/test/resources/jars/graft-hiveudf.jar"

  test("CREATE FUNCTION ... USING JAR runs a third-party GenericUDF (constant-OI arg)") {
    Tables.views(spark, sf, "nation")
    Engine.ddl(spark,
      s"CREATE TEMPORARY FUNCTION r13_repeat_tag AS 'graftjar.RepeatTag' USING JAR '$udfJar'")
    val rows = spark.sql(
      """SELECT n_name, r13_repeat_tag(n_name, 2) AS tagged
         FROM nation WHERE n_nationkey < 3 ORDER BY n_nationkey""").collect()
    rows.foreach { r =>
      val n = r.getString(0).toUpperCase
      assert(r.getString(1) == s"$n-$n", r.toString)
    }
    // null in, null out (the UDF's own null contract drives)
    val nul = spark.sql(
      "SELECT r13_repeat_tag(CAST(NULL AS STRING), 2) AS t").collect().head
    assert(nul.isNullAt(0))
  }

  test("a GenericUDF that REQUIRES a constant arg refuses a column there") {
    Tables.views(spark, sf, "nation")
    Engine.ddl(spark,
      s"CREATE TEMPORARY FUNCTION r13_rt2 AS 'graftjar.RepeatTag' USING JAR '$udfJar'")
    val e = intercept[Exception] {
      spark.sql(
        "SELECT r13_rt2(n_name, n_nationkey) FROM nation LIMIT 1").collect()
    }
    assert(exceptionChain(e).toLowerCase.contains("constant"), e.getMessage)
  }

  test("a legacy UDF runs through GenericUDFBridge with per-type overloads") {
    Tables.views(spark, sf, "nation")
    Engine.ddl(spark,
      s"CREATE TEMPORARY FUNCTION r13_plus_one AS 'graftjar.LegacyPlusOne' USING JAR '$udfJar'")
    val r = spark.sql(
      """SELECT r13_plus_one(n_nationkey) AS bumped,
                r13_plus_one(n_name) AS tagged
         FROM nation WHERE n_nationkey = 4""").collect().head
    assert(r.getLong(0) == 5L, r.toString)
    assert(r.getString(1).endsWith("+1"), r.toString)
  }

  test("the adapter distributes: third-party UDF over every row of a real scan") {
    Tables.views(spark, sf, "nation")
    Engine.ddl(spark,
      s"CREATE TEMPORARY FUNCTION r13_rt3 AS 'graftjar.RepeatTag' USING JAR '$udfJar'")
    val n = spark.sql(
      """SELECT count(*) AS c FROM nation
         WHERE r13_rt3(n_name, 1) = upper(n_name)""").collect().head.getLong(0)
    assert(n == spark.sql("SELECT count(*) FROM nation").collect().head.getLong(0))
  }

  test("a third-party GenericUDTF runs as a Generator (LATERAL VIEW + close())") {
    Tables.views(spark, sf, "nation")
    Engine.ddl(spark,
      s"CREATE TEMPORARY FUNCTION r13_tok_explode AS 'graftjar.TokenExplode' USING JAR '$udfJar'")
    // select-list generator position
    val rows = spark.sql(
      """SELECT token, len FROM (SELECT r13_tok_explode('alpha bb c') AS (token, len)) t"""
    ).collect().map(r => (r.getString(0), r.getInt(1)))
    // process() forwards the three tokens; close() forwards the final
    // per-partition total row (the reference's operator-close contract)
    assert(rows.toSet == Set(("alpha", 5), ("bb", 2), ("c", 1), ("__rows", 3)),
      rows.mkString(", "))
    // LATERAL VIEW position over a real scan
    val lv = spark.sql(
      """SELECT n.n_name, t.token, t.len
         FROM nation n LATERAL VIEW r13_tok_explode(n.n_name) t AS token, len
         WHERE n.n_nationkey < 2 AND t.token != '__rows'""").collect()
    assert(lv.forall(r => r.getString(1) == r.getString(0) &&
      r.getInt(2) == r.getString(0).length), lv.mkString(", "))
  }

  test("a third-party GenericUDAF aggregates through partial/final modes") {
    Tables.views(spark, sf, "nation")
    Engine.ddl(spark,
      s"CREATE TEMPORARY FUNCTION r13_sum_squares AS 'graftjar.SumSquares' USING JAR '$udfJar'")
    val got = spark.sql(
      """SELECT n_regionkey, r13_sum_squares(n_nationkey) AS ss
         FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getDouble(1)))
    val want = spark.sql(
      """SELECT n_regionkey,
                sum(CAST(n_nationkey AS DOUBLE) * n_nationkey) AS ss
         FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getDouble(1)))
    assert(got.sameElements(want),
      s"got ${got.mkString(",")} want ${want.mkString(",")}")
    // group-less total (single final merge over all partials)
    val tot = spark.sql(
      "SELECT r13_sum_squares(n_nationkey) AS ss FROM nation")
      .collect().head.getDouble(0)
    assert(math.abs(tot - want.map(_._2).sum) < 1e-9, tot.toString)
  }

  test("complex types cross the adapter: array<int> in, struct out") {
    Engine.ddl(spark,
      s"CREATE TEMPORARY FUNCTION r13_astats AS 'graftjar.ArrayStats' USING JAR '$udfJar'")
    val r = spark.sql(
      """SELECT r13_astats(array(3, 1, 4, 1, 5)) AS s,
                r13_astats(array(7, CAST(NULL AS INT), 2)).mn AS mn2,
                r13_astats(CAST(NULL AS ARRAY<INT>)) AS nul""").collect().head
    val s = r.getStruct(0)
    assert((s.getInt(0), s.getInt(1), s.getInt(2)) == ((1, 5, 5)), s.toString)
    assert(r.getInt(1) == 2, r.toString)
    assert(r.isNullAt(2))
    // distributed over a real column too (array built per row)
    Tables.views(spark, sf, "nation")
    val agg = spark.sql(
      """SELECT sum(r13_astats(array(n_nationkey, n_regionkey)).mx) AS smax
         FROM nation""").collect().head.getLong(0)
    val want = spark.sql(
      """SELECT sum(CAST(greatest(n_nationkey, n_regionkey) AS BIGINT))
         FROM nation""").collect().head.getLong(0)
    assert(agg == want, s"$agg vs $want")
  }

  test("CREATE FUNCTION USING JAR with a missing jar fails loudly") {
    val e = intercept[Exception] {
      Engine.ddl(spark,
        "CREATE TEMPORARY FUNCTION r13_missing AS 'graftjar.RepeatTag' USING JAR '/no/such/graft.jar'")
    }
    val msg = exceptionChain(e).toLowerCase
    assert(msg.contains("not") || msg.contains("exist") || msg.contains("fail"), e.getMessage)
  }

  private def exceptionChain(t: Throwable, depth: Int = 0): String =
    if (t == null || depth > 8) ""
    else t.getMessage + " || " + exceptionChain(t.getCause, depth + 1)

  // ---- ARCHIVE / UNARCHIVE real semantics (archive_multi.q contract) ---

  private def archTableLoc(name: String): String =
    new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(name)).location)
      .toUri.getPath

  test("ARCHIVE relocates but reads keep working; UNARCHIVE restores; writes gate") {
    freshDb()
    Engine.ddl(spark, "DROP TABLE IF EXISTS graft_tmp.r13_arch")
    spark.sql("""CREATE TABLE graft_tmp.r13_arch (v STRING, ds STRING, hr STRING)
      USING parquet PARTITIONED BY (ds, hr)""")
    spark.sql("INSERT INTO graft_tmp.r13_arch PARTITION (ds='d1', hr='h1') VALUES ('a')")
    spark.sql("INSERT INTO graft_tmp.r13_arch PARTITION (ds='d1', hr='h2') VALUES ('b')")
    spark.sql("INSERT INTO graft_tmp.r13_arch PARTITION (ds='d2', hr='h1') VALUES ('c')")
    // gated behind hive.archive.enabled (ErrorMsg 10107)
    spark.conf.set("hive.archive.enabled", "false")
    val e0 = intercept[Exception] {
      Engine.ddl(spark, "ALTER TABLE graft_tmp.r13_arch ARCHIVE PARTITION (ds='d1')")
    }
    assert(e0.getMessage.contains("disabled"), e0.getMessage)
    spark.conf.set("hive.archive.enabled", "true")
    try {
      // a PREFIX spec archives every partition under it
      Engine.ddl(spark, "ALTER TABLE graft_tmp.r13_arch ARCHIVE PARTITION (ds='d1')")
      val loc = archTableLoc("graft_tmp.r13_arch")
      assert(new java.io.File(loc + "/.graft_archive/ds=d1/hr=h1").exists,
        "archived files must relocate under .graft_archive")
      assert(!new java.io.File(loc + "/ds=d1/hr=h1").exists,
        "the standard layout for an archived partition must be gone")
      // read-back: archive_multi.q re-selects and expects identical rows
      assert(spark.table("graft_tmp.r13_arch")
        .filter("ds = 'd1'").count() == 2)
      assert(spark.table("graft_tmp.r13_arch").count() == 3)
      // double archive / overlapping archive refused
      val e1 = intercept[Exception] {
        Engine.ddl(spark, "ALTER TABLE graft_tmp.r13_arch ARCHIVE PARTITION (ds='d1')")
      }
      assert(e1.getMessage.contains("already archived"), e1.getMessage)
      val e2 = intercept[Exception] {
        Engine.ddl(spark,
          "ALTER TABLE graft_tmp.r13_arch ARCHIVE PARTITION (ds='d1', hr='h1')")
      }
      assert(e2.getMessage.contains("already archived"), e2.getMessage)
      // INSERT into (or under) the archive refuses; elsewhere still works
      val e3 = intercept[Exception] {
        Engine.ddl(spark, """INSERT INTO graft_tmp.r13_arch
          PARTITION (ds='d1', hr='h1') VALUES ('x')""")
      }
      assert(e3.getMessage.contains("conflict with existing archive"), e3.getMessage)
      val e4 = intercept[Exception] { // dynamic insert could land anywhere
        Engine.ddl(spark,
          "INSERT INTO graft_tmp.r13_arch SELECT 'y', 'd1', 'h9'")
      }
      assert(e4.getMessage.contains("conflict with existing archive"), e4.getMessage)
      Engine.ddl(spark, """INSERT INTO graft_tmp.r13_arch
        PARTITION (ds='d2', hr='h1') VALUES ('d')""")
      assert(spark.table("graft_tmp.r13_arch").filter("ds = 'd2'").count() == 2)
      // UNARCHIVE must match the archive's granularity
      val e5 = intercept[Exception] {
        Engine.ddl(spark,
          "ALTER TABLE graft_tmp.r13_arch UNARCHIVE PARTITION (ds='d1', hr='h1')")
      }
      assert(e5.getMessage.contains("not archived"), e5.getMessage)
      // UNARCHIVE restores layout, reads, and writes
      Engine.ddl(spark, "ALTER TABLE graft_tmp.r13_arch UNARCHIVE PARTITION (ds='d1')")
      assert(new java.io.File(loc + "/ds=d1/hr=h1").exists)
      assert(spark.table("graft_tmp.r13_arch").count() == 4)
      Engine.ddl(spark, """INSERT INTO graft_tmp.r13_arch
        PARTITION (ds='d1', hr='h1') VALUES ('z')""")
      assert(spark.table("graft_tmp.r13_arch").count() == 5)
    } finally spark.conf.unset("hive.archive.enabled")
  }

  test("ARCHIVE spec must be a leading prefix of the partition columns") {
    freshDb()
    Engine.ddl(spark, "DROP TABLE IF EXISTS graft_tmp.r13_arch2")
    spark.sql("""CREATE TABLE graft_tmp.r13_arch2 (v STRING, ds STRING, hr STRING)
      USING parquet PARTITIONED BY (ds, hr)""")
    spark.sql("INSERT INTO graft_tmp.r13_arch2 PARTITION (ds='d1', hr='h1') VALUES ('a')")
    spark.conf.set("hive.archive.enabled", "true")
    try {
      // reference ArchiveUtils.java:78-79: (hr) alone cannot archive
      val e = intercept[Exception] {
        Engine.ddl(spark, "ALTER TABLE graft_tmp.r13_arch2 ARCHIVE PARTITION (hr='h1')")
      }
      assert(e.getMessage.contains("not the same as"), e.getMessage)
      // table-level ARCHIVE refused (ErrorMsg 10110)
      val e2 = intercept[Exception] {
        Engine.ddl(spark, "ALTER TABLE graft_tmp.r13_arch2 ARCHIVE")
      }
      assert(e2.getMessage.contains("only be run on partitions"), e2.getMessage)
    } finally spark.conf.unset("hive.archive.enabled")
  }

  // ---- IMPORT into an existing PARTITIONED table (latent-bug fix) ------

  test("IMPORT of a partitioned export appends into a compatible existing table") {
    freshDb()
    Engine.ddl(spark, "DROP TABLE IF EXISTS graft_tmp.r13_imp_src")
    Engine.ddl(spark, "DROP TABLE IF EXISTS graft_tmp.r13_imp_dst")
    spark.sql("""CREATE TABLE graft_tmp.r13_imp_src (k INT, ds STRING)
      USING parquet PARTITIONED BY (ds)""")
    spark.sql("INSERT INTO graft_tmp.r13_imp_src PARTITION (ds='d1') VALUES (1), (2)")
    val exp = java.nio.file.Files.createTempDirectory("r13_imp").toString + "/e"
    Engine.ddl(spark, s"EXPORT TABLE graft_tmp.r13_imp_src TO '$exp'")
    spark.sql("""CREATE TABLE graft_tmp.r13_imp_dst (k INT, ds STRING)
      USING parquet PARTITIONED BY (ds)""")
    spark.sql("INSERT INTO graft_tmp.r13_imp_dst PARTITION (ds='d0') VALUES (9)")
    // pre-fix this threw PARSE_SYNTAX_ERROR: the descriptor's partition
    // NAMES were parsed as DDL and the full export schema was compared
    // against data-only columns
    Engine.ddl(spark, s"IMPORT TABLE graft_tmp.r13_imp_dst FROM '$exp'")
    val rows = spark.table("graft_tmp.r13_imp_dst")
      .select("k", "ds").collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(rows == Set((9, "d0"), (1, "d1"), (2, "d1")), rows.toString)
  }

  // ---- authorization ENFORCEMENT (hive.security.authorization.enabled) --

  test("authorization enforcement: grant admits, revoke denies, admin bypasses") {
    freshDb()
    Engine.ddl(spark, "DROP TABLE IF EXISTS graft_tmp.r13_auth")
    spark.sql("CREATE TABLE graft_tmp.r13_auth (k INT) USING parquet")
    spark.sql("INSERT INTO graft_tmp.r13_auth VALUES (1), (2)")
    spark.conf.set("hive.security.authorization.enabled", "true")
    try {
      // no grant: denied with the reference's message shape
      val e = intercept[Exception] {
        Engine.ddl(spark, "SELECT k FROM graft_tmp.r13_auth")
      }
      assert(e.getMessage.contains("No privilege 'Select' found"), e.getMessage)
      // grant to the implicit public role (held by every user): admitted
      Engine.ddl(spark, "GRANT SELECT ON TABLE graft_tmp.r13_auth TO ROLE public")
      assert(Engine.ddl(spark, "SELECT k FROM graft_tmp.r13_auth").count() == 2)
      // a Select grant does NOT cover writes
      val e2 = intercept[Exception] {
        Engine.ddl(spark, "INSERT INTO graft_tmp.r13_auth VALUES (3)")
      }
      assert(e2.getMessage.contains("No privilege 'Insert' found"), e2.getMessage)
      // ALL covers everything
      Engine.ddl(spark, "GRANT ALL ON TABLE graft_tmp.r13_auth TO ROLE public")
      Engine.ddl(spark, "INSERT INTO graft_tmp.r13_auth VALUES (3)")
      assert(Engine.ddl(spark, "SELECT k FROM graft_tmp.r13_auth").count() == 3)
      // revoke closes the door again (REVOKE ALL removes every grant;
      // revoking again would itself be refused — revoke_table_fail1.q)
      Engine.ddl(spark, "REVOKE ALL ON TABLE graft_tmp.r13_auth FROM ROLE public")
      val e3 = intercept[Exception] {
        Engine.ddl(spark, "SELECT k FROM graft_tmp.r13_auth")
      }
      assert(e3.getMessage.contains("No privilege 'Select' found"), e3.getMessage)
      // the admin role bypasses enforcement entirely (SQLStd superuser)
      Engine.ddl(spark,
        s"GRANT ROLE admin TO USER ${System.getProperty("user.name")}")
      assert(Engine.ddl(spark, "SELECT k FROM graft_tmp.r13_auth").count() == 3)
      Engine.ddl(spark,
        s"REVOKE ROLE admin FROM USER ${System.getProperty("user.name")}")
    } finally spark.conf.unset("hive.security.authorization.enabled")
  }

  test("column-level grants admit exactly the granted columns (authorization_1.q)") {
    freshDb()
    Engine.ddl(spark, "DROP TABLE IF EXISTS graft_tmp.r13_colg")
    spark.sql("CREATE TABLE graft_tmp.r13_colg (key INT, value STRING) USING parquet")
    spark.sql("INSERT INTO graft_tmp.r13_colg VALUES (1, 'a'), (2, 'b')")
    spark.conf.set("hive.security.authorization.enabled", "true")
    try {
      Engine.ddl(spark,
        "GRANT SELECT(key) ON TABLE graft_tmp.r13_colg TO ROLE public")
      // reads touching only the granted column pass
      assert(Engine.ddl(spark,
        "SELECT key FROM graft_tmp.r13_colg").count() == 2)
      // ...and an aggregate over it
      assert(Engine.ddl(spark,
        "SELECT sum(key) FROM graft_tmp.r13_colg").count() == 1)
      // a read touching the OTHER column refuses, naming it
      val e = intercept[Exception] {
        Engine.ddl(spark, "SELECT key, value FROM graft_tmp.r13_colg")
      }
      assert(e.getMessage.contains("No privilege 'Select' found") &&
        e.getMessage.contains("columnName:value"), e.getMessage)
      // SHOW GRANT filters by column coverage
      assert(Engine.ddl(spark,
        "SHOW GRANT ROLE public ON TABLE graft_tmp.r13_colg(key)").count() == 1)
      assert(Engine.ddl(spark,
        "SHOW GRANT ROLE public ON TABLE graft_tmp.r13_colg(value)").count() == 0)
      // column-scoped revoke closes it again
      Engine.ddl(spark,
        "REVOKE SELECT(key) ON TABLE graft_tmp.r13_colg FROM ROLE public")
      val e2 = intercept[Exception] {
        Engine.ddl(spark, "SELECT key FROM graft_tmp.r13_colg")
      }
      assert(e2.getMessage.contains("No privilege 'Select' found"), e2.getMessage)
    } finally spark.conf.unset("hive.security.authorization.enabled")
  }

  test("spark.graft.checkpointDir makes EVERY checkpoint durable, not just cut()") {
    val dir = java.nio.file.Files.createTempDirectory("r13_ckpt").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      import spark.implicits._
      val cp = tools.Checkpoints.local(Seq(1, 2, 3).toDF("v"))
      assert(cp.count() == 3)
      // the counting checkpoint too, with the count its one job returns
      val (counted, rows) = tools.Checkpoints.counted(Seq(1, 2).toDF("v"))
      assert(rows == 2 && counted.count() == 2)
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .iterator()
      var n = 0
      while (files.hasNext) { files.next(); n += 1 }
      assert(n > 1, s"Checkpoints.local ignored the durable dir ($dir empty)")
    } finally {
      spark.conf.unset("spark.graft.checkpointDir")
      tools.Checkpoints.sweep()
    }
  }

  // ---- round-13 self-review regression pins -----------------------------

  test("FROM-first multi-insert is gated by authorization enforcement") {
    freshDb()
    Engine.ddl(spark, "DROP TABLE IF EXISTS graft_tmp.r13_ff_src")
    Engine.ddl(spark, "DROP TABLE IF EXISTS graft_tmp.r13_ff_dst")
    spark.sql("CREATE TABLE graft_tmp.r13_ff_src (k INT) USING parquet")
    spark.sql("CREATE TABLE graft_tmp.r13_ff_dst (k INT) USING parquet")
    spark.sql("INSERT INTO graft_tmp.r13_ff_src VALUES (1)")
    spark.conf.set("hive.security.authorization.enabled", "true")
    try {
      val e = intercept[Exception] {
        Engine.ddl(spark, """FROM graft_tmp.r13_ff_src
          INSERT OVERWRITE TABLE graft_tmp.r13_ff_dst SELECT k""")
      }
      assert(e.getMessage.contains("No privilege"), e.getMessage)
      // grants on both sides open the path
      Engine.ddl(spark, "GRANT SELECT ON TABLE graft_tmp.r13_ff_src TO ROLE public")
      Engine.ddl(spark, "GRANT INSERT ON TABLE graft_tmp.r13_ff_dst TO ROLE public")
      Engine.ddl(spark, """FROM graft_tmp.r13_ff_src
        INSERT OVERWRITE TABLE graft_tmp.r13_ff_dst SELECT k""")
      assert(spark.table("graft_tmp.r13_ff_dst").count() == 1)
    } finally spark.conf.unset("hive.security.authorization.enabled")
  }

  test("INSERT OVERWRITE DIRECTORY is not misparsed as a table named DIRECTORY") {
    spark.conf.set("hive.security.authorization.enabled", "true")
    try {
      val dir = java.nio.file.Files.createTempDirectory("r13_dirins").toString
      // must not refuse with "table:DIRECTORY" — a directory write has no
      // table output to check
      Engine.ddl(spark,
        s"INSERT OVERWRITE DIRECTORY '$dir/out' USING parquet SELECT 1 AS one")
      assert(spark.read.parquet(s"$dir/out").count() == 1)
    } finally spark.conf.unset("hive.security.authorization.enabled")
  }

  test("TRUNCATE refuses while partitions are archived") {
    freshDb()
    Engine.ddl(spark, "DROP TABLE IF EXISTS graft_tmp.r13_trunc")
    spark.sql("""CREATE TABLE graft_tmp.r13_trunc (v STRING, ds STRING)
      USING parquet PARTITIONED BY (ds)""")
    spark.sql("INSERT INTO graft_tmp.r13_trunc PARTITION (ds='d1') VALUES ('a')")
    spark.conf.set("hive.archive.enabled", "true")
    try {
      Engine.ddl(spark, "ALTER TABLE graft_tmp.r13_trunc ARCHIVE PARTITION (ds='d1')")
      val e = intercept[Exception] {
        Engine.ddl(spark, "TRUNCATE TABLE graft_tmp.r13_trunc")
      }
      assert(e.getMessage.contains("conflict with existing archive"), e.getMessage)
      // UNARCHIVE restores truncatability
      Engine.ddl(spark, "ALTER TABLE graft_tmp.r13_trunc UNARCHIVE PARTITION (ds='d1')")
      Engine.ddl(spark, "TRUNCATE TABLE graft_tmp.r13_trunc")
      assert(spark.table("graft_tmp.r13_trunc").count() == 0)
    } finally spark.conf.unset("hive.archive.enabled")
  }

  test("archiving a format-diverged partition refuses; archiving others keeps the divergence") {
    freshDb()
    Engine.ddl(spark, "DROP TABLE IF EXISTS graft_tmp.r13_harch")
    spark.sql("""CREATE TABLE graft_tmp.r13_harch (v STRING, p STRING)
      USING parquet PARTITIONED BY (p)""")
    spark.sql("INSERT INTO graft_tmp.r13_harch PARTITION (p='seq') VALUES ('s')")
    spark.sql("INSERT INTO graft_tmp.r13_harch PARTITION (p='plain') VALUES ('x')")
    spark.sql("INSERT INTO graft_tmp.r13_harch PARTITION (p='drop') VALUES ('d')")
    Engine.ddl(spark,
      "ALTER TABLE graft_tmp.r13_harch PARTITION (p='seq') SET FILEFORMAT SEQUENCEFILE")
    Engine.ddl(spark, """INSERT OVERWRITE TABLE graft_tmp.r13_harch
      PARTITION (p='seq') SELECT 's1'""")
    spark.conf.set("hive.archive.enabled", "true")
    try {
      // archiving the DIVERGED partition refuses: the hetero union read
      // derives its path from the standard layout and cannot follow the
      // relocation — silent empty reads would be worse
      val e = intercept[Exception] {
        Engine.ddl(spark, "ALTER TABLE graft_tmp.r13_harch ARCHIVE PARTITION (p='seq')")
      }
      assert(e.getMessage.contains("heterogeneous"), e.getMessage)
      // archiving a PLAIN partition of the same table is fine, and an
      // unrelated DROP PARTITION must not strip the live divergence entry
      Engine.ddl(spark, "ALTER TABLE graft_tmp.r13_harch ARCHIVE PARTITION (p='plain')")
      Engine.ddl(spark, "ALTER TABLE graft_tmp.r13_harch DROP PARTITION (p='drop')")
      assert(plans.HeteroPartitions.entriesOf(spark, "graft_tmp.r13_harch")
        .map(_._1) == Seq("p=seq"),
        "unrelated archive + drop stripped the hetero entry")
      val rows = spark.table("graft_tmp.r13_harch").select("v")
        .collect().map(_.getString(0)).toSet
      assert(rows == Set("s1", "x"), rows.toString)
      Engine.ddl(spark, "ALTER TABLE graft_tmp.r13_harch UNARCHIVE PARTITION (p='plain')")
      assert(spark.table("graft_tmp.r13_harch").count() == 2)
    } finally spark.conf.unset("hive.archive.enabled")
  }

  test("backticked targets cannot slip past the archive write guard") {
    freshDb()
    Engine.ddl(spark, "DROP TABLE IF EXISTS graft_tmp.r13_bt")
    spark.sql("""CREATE TABLE graft_tmp.r13_bt (v STRING, ds STRING)
      USING parquet PARTITIONED BY (ds)""")
    spark.sql("INSERT INTO graft_tmp.r13_bt PARTITION (ds='d1') VALUES ('a')")
    spark.conf.set("hive.archive.enabled", "true")
    try {
      Engine.ddl(spark, "ALTER TABLE graft_tmp.r13_bt ARCHIVE PARTITION (ds='d1')")
      val e = intercept[Exception] {
        Engine.ddl(spark, """INSERT INTO `graft_tmp`.`r13_bt`
          PARTITION (ds='d1') VALUES ('x')""")
      }
      assert(e.getMessage.contains("conflict with existing archive"), e.getMessage)
    } finally spark.conf.unset("hive.archive.enabled")
  }

  test("column grant and revoke are order-insensitive") {
    freshDb()
    Engine.ddl(spark, "DROP TABLE IF EXISTS graft_tmp.r13_colord")
    spark.sql("CREATE TABLE graft_tmp.r13_colord (key INT, value STRING) USING parquet")
    spark.conf.set("hive.security.authorization.enabled", "true")
    try {
      Engine.ddl(spark,
        "GRANT SELECT(key, value) ON TABLE graft_tmp.r13_colord TO ROLE public")
      // a reordered duplicate is still the metastore PK violation
      val e = intercept[Exception] {
        Engine.ddl(spark,
          "GRANT SELECT(value, key) ON TABLE graft_tmp.r13_colord TO ROLE public")
      }
      assert(e.getMessage.contains("already granted"), e.getMessage)
      // a reordered revoke removes the grant
      Engine.ddl(spark,
        "REVOKE SELECT(value, key) ON TABLE graft_tmp.r13_colord FROM ROLE public")
      val e2 = intercept[Exception] {
        Engine.ddl(spark, "SELECT key FROM graft_tmp.r13_colord")
      }
      assert(e2.getMessage.contains("No privilege 'Select' found"), e2.getMessage)
    } finally spark.conf.unset("hive.security.authorization.enabled")
  }

  test("a third-party UDTF over an empty partition still runs close() initialized") {
    Engine.ddl(spark,
      s"CREATE TEMPORARY FUNCTION r13_tok_empty AS 'graftjar.TokenExplode' USING JAR '$udfJar'")
    // zero input rows: terminate() fires on partitions that never saw
    // eval() — pre-fix the UDTF's close() ran before initialize()
    val rows = spark.sql(
      """SELECT t.token, t.len
         FROM (SELECT 'x' AS s) src
         LATERAL VIEW r13_tok_empty(s) t AS token, len
         WHERE 1 = 0""").collect()
    assert(rows.isEmpty)
  }

  // ---- one-pass hive.exec.max.dynamic.partitions enforcement -----------

  test("dynamic-partition cap runs the SELECT once and guards nondeterministic ones") {
    freshDb()
    Tables.views(spark, sf, "nation")
    Engine.ddl(spark, "DROP TABLE IF EXISTS graft_tmp.r13_dyncap")
    spark.sql("""CREATE TABLE graft_tmp.r13_dyncap (a STRING, p STRING)
      USING parquet PARTITIONED BY (p)""")
    spark.conf.set("hive.exec.max.dynamic.partitions", "2")
    try {
      // over the cap: refused, and NOTHING written (clean rollback — the
      // old pre-write probe already gave this; the staging keeps it)
      val e = intercept[Exception] {
        Engine.ddl(spark, """INSERT OVERWRITE TABLE graft_tmp.r13_dyncap
          PARTITION (p) SELECT n_name, CAST(n_regionkey AS STRING) FROM nation""")
      }
      assert(e.getMessage.contains("more than hive.exec.max.dynamic.partitions"),
        e.getMessage)
      assert(spark.table("graft_tmp.r13_dyncap").count() == 0,
        "a tripped cap must leave the table untouched")
      // ONE-PASS: an accumulator-tagged projection fires once per row;
      // the r12 pre-write probe executed the SELECT twice (50 here)
      val acc = spark.sparkContext.longAccumulator("r13_dyncap_rows")
      spark.udf.register("r13_touch", (s: String) => { acc.add(1); s })
      Engine.ddl(spark, """INSERT OVERWRITE TABLE graft_tmp.r13_dyncap
        PARTITION (p) SELECT r13_touch(n_name),
        CAST(n_regionkey % 2 AS STRING) FROM nation""")
      assert(spark.table("graft_tmp.r13_dyncap").count() == 25)
      assert(acc.value == 25L,
        s"cap enforcement must not re-execute the SELECT (ran ${acc.value} rows)")
      // NONDETERMINISTIC SELECTs are now guarded too (the r12 probe had
      // to skip them — counting a different sample than the write)
      val e2 = intercept[Exception] {
        Engine.ddl(spark, """INSERT OVERWRITE TABLE graft_tmp.r13_dyncap
          PARTITION (p) SELECT n_name,
          CAST(CAST(rand() * 1000 AS INT) AS STRING) FROM nation""")
      }
      assert(e2.getMessage.contains("more than hive.exec.max.dynamic.partitions"),
        e2.getMessage)
      // and a nondeterministic SELECT under the cap writes the exact rows
      // it counted (both read the one materialized pass)
      Engine.ddl(spark, """INSERT OVERWRITE TABLE graft_tmp.r13_dyncap
        PARTITION (p) SELECT n_name,
        CAST(CAST(rand() * 2 AS INT) AS STRING) FROM nation""")
      assert(spark.table("graft_tmp.r13_dyncap").count() == 25)
    } finally {
      spark.conf.unset("hive.exec.max.dynamic.partitions")
      tools.Checkpoints.sweep()
    }
  }

  test("dropping archived partitions prunes the archive entry") {
    freshDb()
    Engine.ddl(spark, "DROP TABLE IF EXISTS graft_tmp.r13_arch3")
    spark.sql("""CREATE TABLE graft_tmp.r13_arch3 (v STRING, ds STRING, hr STRING)
      USING parquet PARTITIONED BY (ds, hr)""")
    spark.sql("INSERT INTO graft_tmp.r13_arch3 PARTITION (ds='d1', hr='h1') VALUES ('a')")
    spark.sql("INSERT INTO graft_tmp.r13_arch3 PARTITION (ds='d1', hr='h2') VALUES ('b')")
    spark.conf.set("hive.archive.enabled", "true")
    try {
      Engine.ddl(spark, "ALTER TABLE graft_tmp.r13_arch3 ARCHIVE PARTITION (ds='d1')")
      // dropping ONE covered leaf keeps the entry (hr=h2 still archived)
      Engine.ddl(spark,
        "ALTER TABLE graft_tmp.r13_arch3 DROP PARTITION (ds='d1', hr='h1')")
      assert(operators.Archive.entriesOf(spark, "graft_tmp.r13_arch3") == Seq("ds=d1"))
      assert(spark.table("graft_tmp.r13_arch3").count() == 1)
      // dropping the last covered leaf prunes it
      Engine.ddl(spark,
        "ALTER TABLE graft_tmp.r13_arch3 DROP PARTITION (ds='d1', hr='h2')")
      assert(operators.Archive.entriesOf(spark, "graft_tmp.r13_arch3").isEmpty)
    } finally spark.conf.unset("hive.archive.enabled")
  }
}
