package graft

import java.nio.file.Files

/** The front end's statement router, table-driven: each statement names
  * the handler `Router.route` must pick. Rows that share a handler, or
  * fall through to the native path, pin where the handler ORDER decides
  * the route (UPDATE with and without WHERE, exact vs partial vs
  * comparator DROP PARTITION, the three CREATE FUNCTION class kinds,
  * SHOW PARTITIONS on a view vs a graft table vs a parquet table, the
  * EXPLAIN family). */
class RoutingSpec extends SparkSpec {
  import RoutingSpec._

  test("every statement reaches its declared handler") {
    fixtures(spark) {
      val wrong = cases.flatMap { case (stmt, want) =>
        val got = frontend.Router.route(spark, stmt)
        if (got == want) None else Some(s"$stmt -> $got (want $want)")
      }
      assert(wrong.isEmpty, wrong.mkString("\n"))
    }
  }

  test("the routing table covers every handler") {
    val declared = (frontend.Router.early ++ frontend.Router.late).map(_.name)
    assert(declared.distinct == declared, "handler names must be unique")
    assert(declared.toSet == cases.map(_._2).toSet)
  }
}

object RoutingSpec {

  val cases: Seq[(String, String)] = Seq(
    "SHOW ROLES" -> "authorization",
    "SET mapred.reduce.tasks=4" -> "set-bridged",
    "ALTER TABLE rt_t TOUCH" -> "touch",
    "ALTER TABLE rt_t NOT SKEWED" -> "alter-skew",
    "ALTER TABLE rt_t CLUSTERED BY (id) INTO 2 BUCKETS" -> "alter-cluster",
    "ALTER TABLE rt_part EXCHANGE PARTITION (p='a') WITH TABLE rt_part2" ->
      "exchange-partition",
    "CREATE TABLE rt_h (k INT) STORED BY 'org.apache.hadoop.hive.hbase.HBaseStorageHandler'" ->
      "stored-by",
    "SHOW CONF 'spark.sql.shuffle.partitions'" -> "show-conf",
    "SHOW TABLE EXTENDED LIKE 'rt_t'" -> "show-table-extended",
    "CREATE INDEX rt_i ON TABLE rt_t (id) AS 'COMPACT'" -> "index",
    "ALTER TABLE rt_part ARCHIVE PARTITION (p='a')" -> "archive",
    "DELETE FILE /tmp/rt_file" -> "delete-resource",
    "SHOW LOCKS" -> "show-locks",
    "LOCK TABLE rt_t SHARED" -> "lock",
    "dfs -ls /tmp" -> "dfs",
    "ALTER TABLE rt_t SET SERDEPROPERTIES ('a'='b')" -> "set-serde",
    "SHOW TRANSACTIONS" -> "show-transactions",
    "SHOW COMPACTIONS" -> "show-compactions",
    "SET hive.support.quoted.identifiers=none" -> "quoted-identifiers",
    "CREATE TEMPORARY MACRO rt_m(x INT) x + 1" -> "create-macro",
    "DROP TEMPORARY MACRO rt_m" -> "drop-macro",
    "ALTER TABLE rt_t SET FILEFORMAT ORC" -> "set-fileformat",
    "ALTER TABLE rt_graft ADD COLUMNS (z INT)" -> "add-columns",
    "ALTER TABLE rt_t REPLACE COLUMNS (id INT)" -> "replace-columns",
    "ALTER TABLE rt_part PARTITION COLUMN (p STRING)" -> "partition-column-type",
    "ALTER TABLE rt_t NOT CLUSTERED" -> "not-clustered",
    "ALTER TABLE rt_t CHANGE s s2 STRING" -> "change-column",
    "INSERT OVERWRITE TABLE rt_part PARTITION (p='a', q='b') IF NOT EXISTS SELECT 1, 's'" ->
      "insert-or-native",
    // a builtin-catalog class, a session-jar class, an unknown class: one
    // handler (a jar class only loads once its USING JAR ships)
    "CREATE TEMPORARY FUNCTION rt_f AS 'org.apache.hadoop.hive.ql.udf.generic.GenericUDFField'" ->
      "create-function",
    "CREATE TEMPORARY FUNCTION rt_j AS 'rt.JarPlus' USING JAR '/tmp/rt.jar'" ->
      "create-function",
    "CREATE TEMPORARY FUNCTION rt_u AS 'no.such.Cls'" -> "create-function",
    "DROP TEMPORARY FUNCTION rt_f" -> "drop-function",
    "ALTER TABLE rt_t RENAME TO rt_t2" -> "rename-table",
    "ALTER VIEW rt_pv RENAME TO rt_pv2" -> "rename-view",
    "ALTER VIEW rt_pv ADD PARTITION (p='a')" -> "view-add-partition",
    "ALTER VIEW rt_pv DROP PARTITION (p='a')" -> "view-drop-partition",
    "SHOW PARTITIONS rt_pv" -> "show-partitions",
    "SHOW PARTITIONS rt_graft" -> "show-partitions",
    "SHOW PARTITIONS rt_part" -> "insert-or-native",
    "LOAD DATA LOCAL INPATH '/tmp/rt_file' INTO TABLE rt_t" -> "load-data",
    "ALTER TABLE rt_part DROP PARTITION (p='a', q='b')" -> "insert-or-native",
    "ALTER TABLE rt_part DROP PARTITION (p='a')" -> "drop-partition",
    "ALTER TABLE rt_part DROP PARTITION (p > 'a')" -> "drop-partition",
    "ALTER TABLE rt_graft ADD PARTITION (p='z')" -> "add-partition",
    "DESCRIBE rt_t.s" -> "describe-xpath",
    "DESCRIBE FORMATTED rt_het PARTITION (p='a')" -> "describe-partition-format",
    "ALTER TABLE rt_het PARTITION (p='a') RENAME TO PARTITION (p='b')" ->
      "rename-partition",
    "MERGE INTO rt_t t USING rt_t s ON t.id = s.id WHEN MATCHED THEN DELETE" -> "merge",
    "UPDATE rt_t SET s = 'x' WHERE id = 1" -> "update",
    "UPDATE rt_t SET s = 'x'" -> "update",
    "DELETE FROM rt_t WHERE id = 1" -> "delete",
    "DELETE FROM rt_t" -> "delete",
    "ALTER TABLE rt_t ENABLE NO_DROP" -> "protect-mode",
    "DROP TABLE rt_prot" -> "drop-protected-table",
    "DROP TABLE rt_t" -> "insert-or-native",
    "ALTER TABLE rt_prot DROP PARTITION (p='a')" -> "drop-protected-partition",
    "DROP DATABASE default CASCADE" -> "drop-protected-database",
    "ALTER TABLE rt_t COMPACT 'major'" -> "compact",
    "ALTER TABLE rt_t CONCATENATE" -> "concatenate",
    "EXPORT TABLE rt_t TO '/tmp/rt_export'" -> "export",
    "IMPORT TABLE rt_imp FROM '/tmp/rt_export'" -> "import",
    "FROM rt_t INSERT INTO TABLE rt_t2 SELECT id INSERT INTO TABLE rt_t3 SELECT id" ->
      "multi-insert",
    "EXPLAIN DEPENDENCY SELECT * FROM rt_t" -> "explain-dependency",
    "SHOW CREATE TABLE rt_t AS SERDE" -> "show-create-serde",
    "EXPLAIN LOGICAL SELECT * FROM rt_t" -> "explain-logical",
    "EXPLAIN AUTHORIZATION SELECT * FROM rt_t" -> "explain-authorization",
    "EXPLAIN SELECT * FROM rt_t" -> "explain",
    "CREATE VIEW rt_v2 AS SELECT count(*) FROM rt_t" -> "create-view-names",
    "CREATE TABLE rt_c AS SELECT count(*) FROM rt_t" -> "ctas-names",
    "-- a leading comment line\nSELECT 1" -> "insert-or-native")

  /** The catalog objects the statements name, for the length of `body`. */
  def fixtures(spark: org.apache.spark.sql.SparkSession)(body: => Unit): Unit = {
    val dir = Files.createTempDirectory("routing").toString
    spark.sql("CREATE TABLE rt_t (id INT, s STRING) USING parquet")
    spark.sql("""CREATE TABLE rt_part (id INT, s STRING) USING parquet
                 PARTITIONED BY (p STRING, q STRING)""")
    spark.sql(s"""CREATE TABLE rt_graft (id INT) USING `graft-seq`
                  PARTITIONED BY (p STRING) LOCATION '$dir/graft'""")
    spark.sql("CREATE TABLE rt_het (id INT) USING parquet PARTITIONED BY (p STRING)")
    spark.sql("INSERT INTO rt_het PARTITION (p='a') VALUES (1)")
    Engine.ddl(spark, "ALTER TABLE rt_het PARTITION (p='a') SET FILEFORMAT ORC")
    Engine.ddl(spark, "CREATE VIEW rt_pv PARTITIONED ON (p) AS SELECT id, p FROM rt_part")
    spark.sql("CREATE TABLE rt_prot (id INT) USING parquet PARTITIONED BY (p STRING)")
    Engine.ddl(spark, "ALTER TABLE rt_prot ENABLE NO_DROP")
    Engine.ddl(spark, "ALTER TABLE rt_prot PARTITION (p='a') ENABLE NO_DROP")
    try body
    finally {
      Engine.ddl(spark, "ALTER TABLE rt_prot DISABLE NO_DROP")
      Engine.ddl(spark, "ALTER TABLE rt_prot PARTITION (p='a') DISABLE NO_DROP")
      spark.sql("DROP VIEW IF EXISTS rt_pv")
      Seq("rt_t", "rt_part", "rt_graft", "rt_het", "rt_prot")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
