package graft.queries

import graft.{Engine, Q, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{round => _, _}

/** Round-5 sweep: partitioned EXPORT/IMPORT, the CREATE FUNCTION SQL
  * surface, and real (byte-parsed) multimodal metadata decode.
  */
object Round5Queries {
  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  val all: Seq[Q] = Seq(

    // ---- partitioned EXPORT/IMPORT (ExportSemanticAnalyzer exports
    //      per-partition subdirs + partition spec; import must stay
    //      pruning-capable). The imported table is read back WITH a
    //      partition filter — directory pruning, not a full scan. ----
    Q("a07_export_import_part", (s, d) => {
      val base = graft.tools.Tmp.dir("graft_export_part")
      val src = t(s, d, "orders").filter(col("o_orderkey") < 2000)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      graft.operators.ExportImport.exportTable(src, base + "/exp",
        partitionBy = Seq("o_orderstatus"))
      s.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
      s.sql("DROP TABLE IF EXISTS graft_tmp.imported_ord_part")
      graft.operators.ExportImport.importTable(
        s, base + "/exp", "graft_tmp.imported_ord_part", base + "/tbl")
        .filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
             FROM orders WHERE o_orderkey < 2000 AND o_orderstatus = 'F'""")),

    // ---- CREATE TEMPORARY FUNCTION ... AS '<class>' (the reference's
    //      FunctionSemanticAnalyzer + FunctionTask): the function is
    //      registered FROM SQL TEXT by its Hive class name — the statement
    //      a migrating user's script actually contains — then used in a
    //      query under its new name. ----
    Q("q128_create_function_sql", (s, d) => {
      s.sql("DROP TEMPORARY FUNCTION IF EXISTS my_field")
      s.sql(
        "CREATE TEMPORARY FUNCTION my_field AS 'org.apache.hadoop.hive.ql.udf.generic.GenericUDFField'")
      Engine.sql(s, d,
        """SELECT o_orderkey,
           CAST(my_field(o_orderstatus, 'O', 'F', 'P') AS BIGINT) AS f
           FROM orders WHERE o_orderkey < 200""")
    },
      Some("""SELECT o_orderkey,
             CASE o_orderstatus WHEN 'O' THEN 1 WHEN 'F' THEN 2 WHEN 'P' THEN 3
                  ELSE 0 END AS f
             FROM orders WHERE o_orderkey < 200""")),

    // ---- LOAD DATA INPATH (LoadSemanticAnalyzer + MoveTask): files land
    //      in the table directory byte-for-byte, no rewrite — the
    //      statement text a Hive user's ingest scripts contain, served for
    //      this engine's own parquet tables. ----
    Q("q129_load_data", (s, d) => {
      val base = graft.tools.Tmp.dir("graft_load")
      val src = t(s, d, "supplier").filter(col("s_suppkey") < 50)
        .select("s_suppkey", "s_name", "s_acctbal")
      src.write.mode("overwrite").parquet(base + "/staging")
      s.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
      s.sql("DROP TABLE IF EXISTS graft_tmp.loaded_sup")
      s.sql(s"""CREATE TABLE graft_tmp.loaded_sup
               (s_suppkey BIGINT, s_name STRING, s_acctbal DOUBLE)
               USING parquet LOCATION '$base/tbl'""")
      s.sql(s"LOAD DATA INPATH '$base/staging' INTO TABLE graft_tmp.loaded_sup")
      s.table("graft_tmp.loaded_sup")
    },
      Some("""SELECT s_suppkey, s_name, s_acctbal
             FROM supplier WHERE s_suppkey < 50""")),

    // ---- three-branch MERGE: WHEN MATCHED AND <cond> THEN DELETE,
    //      WHEN MATCHED THEN UPDATE, WHEN NOT MATCHED THEN INSERT — the
    //      full UpdateDeleteSemanticAnalyzer branch set in one CoW pass.
    //      Matched keys < 100 with status 'F' are deleted, other matched
    //      keys get priority overwritten, new keys append. ----
    Q("a08_merge_delete", (s, d) => {
      val tbl = graft.tools.Tmp.dir("graft_acid_md") + "/orders"
      t(s, d, "orders").repartitionByRange(4, col("o_orderkey"))
        .write.mode("overwrite").parquet(tbl)
      val updates = t(s, d, "orders").filter(col("o_orderkey") < 300)
        .withColumn("o_orderpriority", lit("9-MERGED"))
      val inserts = t(s, d, "orders").filter(col("o_orderkey") < 40)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      graft.operators.Acid.mergeInto(s, tbl, updates.unionByName(inserts),
        keys = Seq("o_orderkey"), setFromSource = Seq("o_orderpriority"),
        deleteMatched = Some(col("o_orderkey") < 100 && col("o_orderstatus") === "F"))
      s.read.parquet(tbl).groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
    },
      Some("""WITH merged AS (
               SELECT o_orderkey,
                 CASE WHEN o_orderkey < 300 THEN '9-MERGED'
                      ELSE o_orderpriority END AS o_orderpriority
               FROM orders
               WHERE NOT (o_orderkey < 300 AND o_orderkey < 100 AND o_orderstatus = 'F')
               UNION ALL
               SELECT o_orderkey + 10000000, o_orderpriority
               FROM orders WHERE o_orderkey < 40)
             SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             FROM merged GROUP BY o_orderpriority""")),

    // ---- UPDATE / DELETE as SQL TEXT (UpdateDeleteSemanticAnalyzer):
    //      the statements a reference user's scripts contain, parsed by
    //      the front end and routed onto the copy-on-write engine — Spark's
    //      own parser rejects row-level DML on parquet tables. ----
    Q("a09_dml_sql", (s, d) => {
      val base = graft.tools.Tmp.dir("graft_dml_sql")
      t(s, d, "customer")
        .select("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
        .repartitionByRange(4, col("c_custkey"))
        .write.mode("overwrite").parquet(base + "/tbl")
      s.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
      s.sql("DROP TABLE IF EXISTS graft_tmp.dml_cust")
      s.sql(s"""CREATE TABLE graft_tmp.dml_cust
               (c_custkey BIGINT, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING)
               USING parquet LOCATION '${base + "/tbl"}'""")
      s.sql("""UPDATE graft_tmp.dml_cust
           SET c_acctbal = round(c_acctbal * 1.1 * 100) / 100, c_mktsegment = upper(c_mktsegment)
           WHERE c_nationkey < 10""")
      s.sql("DELETE FROM graft_tmp.dml_cust WHERE c_acctbal < 0")
      s.table("graft_tmp.dml_cust")
    },
      Some("""SELECT c_custkey, c_nationkey,
             CASE WHEN c_nationkey < 10 THEN round(c_acctbal * 1.1 * 100) / 100
                  ELSE c_acctbal END AS c_acctbal,
             CASE WHEN c_nationkey < 10 THEN upper(c_mktsegment)
                  ELSE c_mktsegment END AS c_mktsegment
             FROM customer
             WHERE NOT (CASE WHEN c_nationkey < 10 THEN round(c_acctbal * 1.1 * 100) / 100
                             ELSE c_acctbal END < 0)""")),

    // ---- multi-insert as SQL TEXT (`FROM src INSERT ... INSERT ...`,
    //      SemanticAnalyzer.genBodyPlan): Spark's parser rejects the
    //      FROM-first multi-destination form; the front end fans the branches
    //      out over ONE shared scan of the source. Gate reads both
    //      destinations back, tagged, and compares against the equivalent
    //      two selects. ----
    Q("a10_multi_insert_sql", (s, d) => {
      val base = graft.tools.Tmp.dir("graft_mi_sql")
      s.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
      s.sql("DROP TABLE IF EXISTS graft_tmp.mi_hi")
      s.sql("DROP TABLE IF EXISTS graft_tmp.mi_agg")
      s.sql(s"""CREATE TABLE graft_tmp.mi_hi
              (o_orderkey BIGINT, o_totalprice DOUBLE)
              USING parquet LOCATION '$base/hi'""")
      s.sql(s"""CREATE TABLE graft_tmp.mi_agg
              (o_orderpriority STRING, n BIGINT)
              USING parquet LOCATION '$base/agg'""")
      Engine.sql(s, d,
        """FROM orders
           INSERT OVERWRITE TABLE graft_tmp.mi_hi
             SELECT o_orderkey, o_totalprice WHERE o_totalprice > 300000
           INSERT OVERWRITE TABLE graft_tmp.mi_agg
             SELECT o_orderpriority, count(*) GROUP BY o_orderpriority""")
      s.table("graft_tmp.mi_hi")
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("x"),
          lit("hi").as("dst"))
        .unionByName(s.table("graft_tmp.mi_agg")
          .select(col("n").as("k"), lit(null).cast("double").as("x"),
            col("o_orderpriority").as("dst")))
    },
      Some("""SELECT o_orderkey AS k, o_totalprice AS x, 'hi' AS dst
             FROM orders WHERE o_totalprice > 300000
             UNION ALL
             SELECT count(*) AS k, CAST(NULL AS DOUBLE) AS x, o_orderpriority AS dst
             FROM orders GROUP BY o_orderpriority"""))
  )
}
