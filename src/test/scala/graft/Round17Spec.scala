package graft

import org.apache.spark.sql.catalyst.TableIdentifier

/** Round-17 gates: the r16 ADVICE findings.
  *
  *  - char/varchar read clamp on UNTRACKED provenance (ADVICE #1): LOAD
  *    DATA (byte copy) and CREATE TABLE ... LOCATION over pre-existing
  *    files can place over-length values without a rewrite; the reference
  *    truncates at every read (HiveBaseChar.enforceMaxLength), so both
  *    paths now stamp the clamp property.
  *  - IMPORT existing-table LOCATION check compares FULLY-QUALIFIED paths
  *    (ADVICE #2): file:/x vs /x is the same place, not a mismatch.
  *  - sql-std ownership backfills from the catalog owner field (ADVICE
  *    #3): a table created outside engine tracking is not ungated when
  *    the catalog records an owner.
  *  - TRANSFORM-script auth gate runs on MASKED text (ADVICE #4): a
  *    string literal shaped like "MAP a USING 'cat'" is not refused; the
  *    real script name is recovered from the original text at the match
  *    offsets.
  *  - Avro nested record names survive 32-bit hashCode collisions
  *    (ADVICE #5): SHA-256 of the shape, not String.hashCode.
  */
class Round17Spec extends SparkSpec {

  private def freshDb(): Unit =
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")

  private def withSqlStd(body: => Unit): Unit = {
    spark.conf.set("hive.security.authorization.enabled", "true")
    spark.conf.set("hive.security.authorization.manager",
      "org.apache.hadoop.hive.ql.security.authorization.plugin.sqlstd.SQLStdHiveAuthorizerFactoryForTest")
    try body
    finally {
      spark.conf.unset("hive.security.authorization.enabled")
      spark.conf.unset("hive.security.authorization.manager")
      spark.conf.unset("user.name")
    }
  }

  // ---- untracked provenance stamps the char/varchar clamp (ADVICE #1) --

  test("LOAD DATA stamps the char/varchar read clamp") {
    freshDb()
    Engine.ddl(spark, "DROP TABLE IF EXISTS graft_tmp.r17_load")
    Engine.ddl(spark,
      "CREATE TABLE graft_tmp.r17_load (v VARCHAR(5), c CHAR(3)) USING parquet")
    // forge a parquet file with OVER-LENGTH values the engine never
    // wrote (the write path would have clamped them)
    val src = tools.Tmp.dir("r17_load_src")
    spark.sql("SELECT 'abcdefghij' AS v, 'wxyz' AS c")
      .write.mode("overwrite").parquet(src)
    Engine.ddl(spark, s"LOAD DATA INPATH '$src' INTO TABLE graft_tmp.r17_load")
    val meta = spark.sessionState.catalog.getTableMetadata(
      TableIdentifier("r17_load", Some("graft_tmp")))
    assert(meta.properties.contains(
      plans.HiveSemantics.CharStripReads.NarrowedProp),
      meta.properties.toString)
    val r = Engine.ddl(spark,
      "SELECT v, c, length(v) AS lv, length(c) AS lc FROM graft_tmp.r17_load")
      .collect()(0)
    assert(r.getString(0) == "abcde" && r.getString(1) == "wxy" &&
      r.getInt(2) == 5 && r.getInt(3) == 3, r.toString)
  }

  test("CREATE TABLE ... LOCATION over foreign files clamps char reads") {
    freshDb()
    val loc = tools.Tmp.dir("r17_extloc") + "/t"
    spark.sql("SELECT 'abcdefghij' AS v, 'pqrs' AS c")
      .write.mode("overwrite").parquet(loc)
    Engine.ddl(spark, "DROP TABLE IF EXISTS graft_tmp.r17_ext")
    Engine.ddl(spark, s"""CREATE TABLE graft_tmp.r17_ext
      (v VARCHAR(4), c CHAR(2)) USING parquet LOCATION '$loc'""")
    val r = Engine.ddl(spark,
      "SELECT v, c FROM graft_tmp.r17_ext").collect()(0)
    assert(r.getString(0) == "abcd" && r.getString(1) == "pq", r.toString)
    // a LOCATION inside a string LITERAL must not stamp anything
    Engine.ddl(spark, "DROP TABLE IF EXISTS graft_tmp.r17_noloc")
    Engine.ddl(spark, """CREATE TABLE graft_tmp.r17_noloc
      (v VARCHAR(4)) USING parquet
      TBLPROPERTIES ('note' = "says LOCATION 'x' in a literal")""")
    val meta = spark.sessionState.catalog.getTableMetadata(
      TableIdentifier("r17_noloc", Some("graft_tmp")))
    assert(!meta.properties.contains(
      plans.HiveSemantics.CharStripReads.NarrowedProp),
      meta.properties.toString)
  }

  // ---- IMPORT location check is scheme-insensitive (ADVICE #2) ---------

  test("IMPORT into existing table accepts the same location unqualified") {
    freshDb()
    Engine.ddl(spark, "DROP TABLE IF EXISTS graft_tmp.r17_imp_src")
    Engine.ddl(spark, "DROP TABLE IF EXISTS graft_tmp.r17_imp")
    Engine.ddl(spark,
      "CREATE TABLE graft_tmp.r17_imp_src (i INT) USING parquet")
    Engine.ddl(spark, "INSERT INTO graft_tmp.r17_imp_src VALUES (1), (2)")
    val dump = tools.Tmp.dir("r17_imp_dump") + "/d"
    Engine.ddl(spark, s"EXPORT TABLE graft_tmp.r17_imp_src TO '$dump'")
    // EMPTY pre-existing target (import into a non-empty managed table is
    // refused separately): the catalog holds file:/...; the statement
    // gives the bare path — the SAME place, so the import must proceed
    val loc = tools.Tmp.dir("r17_imp_loc") + "/t"
    Engine.ddl(spark,
      s"CREATE TABLE graft_tmp.r17_imp (i INT) USING parquet LOCATION '$loc'")
    Engine.ddl(spark,
      s"IMPORT TABLE graft_tmp.r17_imp FROM '$dump' LOCATION '$loc'")
    val n = Engine.ddl(spark,
      "SELECT count(*) AS n FROM graft_tmp.r17_imp").collect()(0).getLong(0)
    assert(n == 2, s"expected import of 2 rows, got $n")
    // a genuinely DIFFERENT location still refuses
    val e = intercept[Exception] {
      Engine.ddl(spark, s"IMPORT TABLE graft_tmp.r17_imp FROM '$dump' " +
        s"LOCATION '${loc}_elsewhere'")
    }
    assert(e.getMessage.contains("Location does not match"), e.getMessage)
  }

  // ---- ownership backfill from the catalog owner (ADVICE #3) -----------

  test("sql-std: ownership backfills from the catalog owner field") {
    freshDb()
    val snap = operators.Auth.snapshot(spark)
    try {
      // created OUTSIDE engine tracking (Spark's own parser, past the
      // front end): no owners-map entry
      spark.sql("DROP TABLE IF EXISTS graft_tmp.r17_ownbf")
      frontend.HiveQlParser.bypassed(
        spark.sql("CREATE TABLE graft_tmp.r17_ownbf (i INT) USING parquet"))
      assert(operators.Auth.ownerOf(spark, "graft_tmp", "r17_ownbf").isEmpty)
      val cat = spark.sessionState.catalog
      val id = TableIdentifier("r17_ownbf", Some("graft_tmp"))
      cat.alterTable(cat.getTableMetadata(id).copy(owner = "r17catowner"))
      withSqlStd {
        Engine.ddl(spark, "set user.name=r17stranger")
        val e = intercept[Exception] {
          Engine.ddl(spark, "DROP TABLE graft_tmp.r17_ownbf")
        }
        assert(e.getMessage.contains("OBJECT OWNERSHIP"), e.getMessage)
        // the catalog owner CAN act (backfilled entry)
        Engine.ddl(spark, "set user.name=r17catowner")
        Engine.ddl(spark, "DROP TABLE graft_tmp.r17_ownbf")
      }
      // a table whose catalog owner is blank stays ungated BY OWNERSHIP
      // (pre-tracking contract unchanged when nobody recorded anything):
      // the failure a stranger hits is the separate Drop PRIVILEGE gate,
      // never OBJECT OWNERSHIP
      frontend.HiveQlParser.bypassed(
        spark.sql("CREATE TABLE graft_tmp.r17_ownbf2 (i INT) USING parquet"))
      cat.alterTable(cat.getTableMetadata(
        TableIdentifier("r17_ownbf2", Some("graft_tmp"))).copy(owner = ""))
      withSqlStd {
        Engine.ddl(spark, "set user.name=r17stranger")
        val e2 = intercept[Exception] {
          Engine.ddl(spark, "DROP TABLE graft_tmp.r17_ownbf2")
        }
        assert(e2.getMessage.contains("No privilege 'Drop'") &&
          !e2.getMessage.contains("OBJECT OWNERSHIP"), e2.getMessage)
      }
      spark.sql("DROP TABLE graft_tmp.r17_ownbf2")
    } finally operators.Auth.restore(spark, snap)
  }

  // ---- TRANSFORM auth gate masks literals (ADVICE #4) ------------------

  test("sql-std: MAP-shaped string literal is not refused as a script") {
    val snap = operators.Auth.snapshot(spark)
    try withSqlStd {
      Engine.ddl(spark, "set user.name=r17plain")
      val r = Engine.ddl(spark,
        "SELECT 'MAP a USING ''cat''' AS s").collect()(0)
      assert(r.getString(0) == "MAP a USING 'cat'", r.getString(0))
      // a REAL transform still refuses, with the script name recovered
      // from the original (unmasked) text
      val e = intercept[Exception] {
        Engine.ddl(spark,
          "SELECT TRANSFORM(x) USING 'cat' AS (y) FROM (SELECT 1 AS x)")
      }
      assert(e.getMessage.contains("LOCAL_URI, name=cat"), e.getMessage)
    } finally operators.Auth.restore(spark, snap)
  }

  // ---- CoW DML single-writer contract (verdict r16 #6) ------------------

  test("concurrent UPDATEs on one table serialize, never corrupt") {
    freshDb()
    Engine.ddl(spark, "DROP TABLE IF EXISTS graft_tmp.r17_cow")
    Engine.ddl(spark,
      "CREATE TABLE graft_tmp.r17_cow (id INT, v INT) USING parquet")
    Engine.ddl(spark, "INSERT INTO graft_tmp.r17_cow " +
      "SELECT id, 0 FROM range(200)")
    // two writers hammer DISJOINT halves of the same table concurrently:
    // without the per-table lock, each rewrite's file swap could delete
    // files the other's in-flight swap still references (lost or
    // duplicated rows); with it they serialize. 8 rounds each.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(lo: Int, hi: Int): Runnable = () =>
      try (1 to 8).foreach { i =>
        Engine.ddl(spark, s"UPDATE graft_tmp.r17_cow SET v = $i " +
          s"WHERE id >= $lo AND id < $hi")
      } catch { case t: Throwable => errs.add(t) }
    val f1 = pool.submit(writer(0, 100))
    val f2 = pool.submit(writer(100, 200))
    f1.get(); f2.get(); pool.shutdown()
    // loud failure would be acceptable under the contract; silent
    // corruption is not — with the in-process lock neither happens
    assert(errs.isEmpty, errs.toString)
    val r = Engine.ddl(spark, """SELECT count(*) AS n,
        count(DISTINCT id) AS d,
        sum(CASE WHEN v = 8 THEN 1 ELSE 0 END) AS done
      FROM graft_tmp.r17_cow""").collect()(0)
    assert(r.getLong(0) == 200 && r.getLong(1) == 200 && r.getLong(2) == 200,
      r.toString)
  }

  // ---- avro record names are collision-resistant (ADVICE #5) -----------

  test("avro record names survive a 32-bit hashCode collision") {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    // "Aa" and "BB" share a String.hashCode; so do the two DDLs — the
    // old scheme named both records identically and avro silently wrote
    // the second as a name REFERENCE to the first definition
    val inner1 = StructType(Seq(StructField("Aa", IntegerType)))
    val inner2 = StructType(Seq(StructField("BB", IntegerType)))
    assert(inner1.toDDL.hashCode == inner2.toDDL.hashCode,
      "collision premise broken: pick another pair")
    val schema = StructType(Seq(
      StructField("x", inner1), StructField("y", inner2)))
    val avro = sources.Avro.toAvroSchema(schema)
    def rec(f: org.apache.avro.Schema.Field): org.apache.avro.Schema = {
      val s = f.schema()
      if (s.getType == org.apache.avro.Schema.Type.UNION)
        s.getTypes.asScala.find(
          _.getType == org.apache.avro.Schema.Type.RECORD).get
      else s
    }
    val rx = rec(avro.getField("x"))
    val ry = rec(avro.getField("y"))
    assert(rx.getName != ry.getName, s"${rx.getName} == ${ry.getName}")
    assert(rx.getField("Aa") != null && ry.getField("BB") != null,
      s"x=${rx.getFields.asScala.map(_.name)} y=${ry.getFields.asScala.map(_.name)}")
    // determinism: rebuilding the same shape yields the same name
    assert(sources.Avro.toAvroSchema(schema).getField("x").schema().toString
      == avro.getField("x").schema().toString)
  }
}
