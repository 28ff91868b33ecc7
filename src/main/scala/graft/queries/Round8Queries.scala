package graft.queries

import graft.{Engine, Q, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round-8 sweep: MERGE INTO as SQL text (the last DML statement a
  * migrating Hive script contains that had no oracled gate), plus
  * join-dialect semantics the new golden families pin — ON-clause
  * non-join predicates, WHERE-driven outer-join conversion, and the
  * union-remove insert shape — each with a DuckDB oracle.
  */
object Round8Queries {
  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  /** DROP + remove any stale managed dir a previous process left (a fresh
    * session's DROP is a catalog no-op and the orphan location blocks
    * CREATE with LOCATION_ALREADY_EXISTS). */
  private def resetTable(s: SparkSession, name: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $name")
    val wh = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir") + "/" + name)
    wh.getFileSystem(s.sessionState.newHadoopConf()).delete(wh, true): Unit
  }

  val all: Seq[Q] = Seq(

    // ---- MERGE INTO ... WHEN MATCHED AND s.op='D' THEN DELETE /
    //      WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED THEN INSERT, as
    //      statement text (UpdateDeleteSemanticAnalyzer's three-branch
    //      rewrite). The engine routes it to the copy-on-write upsert;
    //      the oracle reconstructs the post-state relationally. ----
    Q("q147_merge_sql", (s, d) => {
      Tables.views(s, d, "orders")
      resetTable(s, "q147_t")
      s.sql("CREATE TABLE q147_t (k BIGINT, price DOUBLE, status STRING)")
      s.sql("""INSERT INTO q147_t
           SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
           WHERE o_orderkey <= 300""")
      t(s, d, "orders").where(col("o_orderkey") <= 300)
        .select(
          (col("o_orderkey") + 150).as("k"),
          (col("o_totalprice") * 2).as("price"),
          lit("X").as("status"),
          when(col("o_orderkey") % 3 === 0, "D").otherwise("U").as("op"))
        .createOrReplaceTempView("q147_s")
      s.sql("""MERGE INTO q147_t t USING q147_s s ON t.k = s.k
           WHEN MATCHED AND s.op = 'D' THEN DELETE
           WHEN MATCHED THEN UPDATE SET price = s.price
           WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.price, s.status)""")
      s.table("q147_t").select("k", "price", "status")
    },
      Some("""WITH tgt AS (
                SELECT o_orderkey AS k, o_totalprice AS price,
                       o_orderstatus AS status
                FROM orders WHERE o_orderkey <= 300),
              src AS (
                SELECT o_orderkey + 150 AS k, o_totalprice * 2 AS price,
                       'X' AS status,
                       CASE WHEN o_orderkey % 3 = 0 THEN 'D' ELSE 'U' END AS op
                FROM orders WHERE o_orderkey <= 300)
              SELECT t.k AS k, t.price AS price, t.status AS status
              FROM tgt t WHERE t.k NOT IN (SELECT k FROM src)
              UNION ALL
              SELECT t.k, s.price, t.status
              FROM tgt t JOIN src s ON t.k = s.k WHERE s.op <> 'D'
              UNION ALL
              SELECT s.k, s.price, s.status
              FROM src s WHERE s.k NOT IN (SELECT k FROM tgt)""")),

    // ---- ON-clause non-join predicates across outer joins
    //      (join_filters.q family): for LEFT OUTER they gate matching
    //      only — every left row survives. ----
    Q("q148_join_on_filters", (s, d) =>
      t(s, d, "supplier").as("s")
        .join(t(s, d, "customer").as("c"),
          col("s.s_nationkey") === col("c.c_nationkey") &&
            col("c.c_acctbal") > 9000 && col("s.s_suppkey") < 20,
          "left_outer")
        .select(col("s_suppkey"), col("s_nationkey"),
          col("c_custkey"), col("c_acctbal")),
      Some("""SELECT s_suppkey, s_nationkey, c_custkey, c_acctbal
              FROM supplier s LEFT OUTER JOIN customer c
                ON s.s_nationkey = c.c_nationkey
               AND c.c_acctbal > 9000 AND s.s_suppkey < 20""")),

    // ---- WHERE on the null-padded side converts the outer join to inner
    //      (ppd_outer_join family) — predicate placement semantics. ----
    Q("q150_ppd_outer_join", (s, d) =>
      t(s, d, "nation").as("n")
        .join(t(s, d, "supplier").as("sp"),
          col("n.n_nationkey") === col("sp.s_nationkey"), "left_outer")
        .where(col("sp.s_acctbal") > 3000)
        .select(col("n_name"), col("s_suppkey"), col("s_acctbal")),
      Some("""SELECT n_name, s_suppkey, s_acctbal
              FROM nation n LEFT OUTER JOIN supplier s
                ON n.n_nationkey = s.s_nationkey
              WHERE s.s_acctbal > 3000""")),

    // ---- union-remove shape (union_remove_1.q): INSERT OVERWRITE of a
    //      UNION ALL of two aggregates over one input, read back. ----
    Q("q149_union_remove", (s, d) => {
      Tables.views(s, d, "lineitem")
      resetTable(s, "q149_t")
      s.sql("CREATE TABLE q149_t (rf STRING, n BIGINT)")
      s.sql("""INSERT OVERWRITE TABLE q149_t
           SELECT * FROM (
             SELECT l_returnflag AS rf, count(1) AS n FROM lineitem GROUP BY l_returnflag
             UNION ALL
             SELECT l_returnflag AS rf, count(1) AS n FROM lineitem GROUP BY l_returnflag
           ) u""")
      s.table("q149_t")
    },
      Some("""SELECT l_returnflag AS rf, count(1) AS n FROM lineitem GROUP BY l_returnflag
              UNION ALL
              SELECT l_returnflag AS rf, count(1) AS n FROM lineitem GROUP BY l_returnflag""")),

    // ---- STREAMTABLE hint (join_reorder.q): a Hive reorder directive —
    //      Catalyst owns join order, so the hint must be row-neutral;
    //      oracle runs the same query unhinted. ----
    Q("q151_streamtable_hint", (s, d) => {
      Tables.views(s, d, "nation", "supplier")
      Engine.sql(s, d,
        """SELECT /*+ STREAMTABLE(n) */ n.n_name AS nname, count(1) AS n_sup
           FROM nation n JOIN supplier sp ON n.n_nationkey = sp.s_nationkey
           GROUP BY n.n_name""")
    },
      Some("""SELECT n.n_name AS nname, count(1) AS n_sup
              FROM nation n JOIN supplier s ON n.n_nationkey = s.s_nationkey
              GROUP BY n.n_name""")),

    // ---- MAPJOIN hint on an outer join (join25.q family): the broadcast
    //      must not change outer-join padding. ----
    Q("q152_mapjoin_hint_outer", (s, d) => {
      Tables.views(s, d, "nation", "supplier")
      Engine.sql(s, d,
        """SELECT /*+ MAPJOIN(n) */ sp.s_suppkey AS sk, n.n_name AS nname
           FROM supplier sp LEFT OUTER JOIN nation n
             ON sp.s_nationkey = n.n_nationkey AND n.n_nationkey < 10""")
    },
      Some("""SELECT s.s_suppkey AS sk, n.n_name AS nname
              FROM supplier s LEFT OUTER JOIN nation n
                ON s.s_nationkey = n.n_nationkey AND n.n_nationkey < 10""")),

    // ---- arithmetic join key (join_reorder.q: c.key+1 = a.key): the
    //      expression key must still hash-partition both sides. ----
    Q("q153_join_arith_key", (s, d) =>
      t(s, d, "nation").as("a")
        .join(t(s, d, "nation").as("c"),
          col("c.n_nationkey") + 1 === col("a.n_nationkey"))
        .select(col("a.n_nationkey").as("ak"), col("c.n_nationkey").as("ck"),
          col("a.n_name").as("an")),
      Some("""SELECT a.n_nationkey AS ak, c.n_nationkey AS ck, a.n_name AS an
              FROM nation a JOIN nation c ON c.n_nationkey + 1 = a.n_nationkey""")),

    // ---- round 9: copy-on-write DML on a PARTITIONED table — rewritten
    //      files must land back inside their partition directories
    //      (update_where_partitioned.q / delete_where_partitioned.q) and
    //      a MERGE insert into a NEW partition must become visible.
    //      Oracle = the equivalent row-level mutations in plain SQL. ----
    Q("a14_partitioned_dml", (s, d) => {
      s.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
      s.sql("DROP TABLE IF EXISTS graft_tmp.pdml")
      val base = graft.tools.Tmp.dir("graft_pdml")
      s.sql(s"""CREATE TABLE graft_tmp.pdml (n_nationkey INT, n_name STRING)
               USING parquet PARTITIONED BY (rk INT) LOCATION '$base'""")
      t(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey").as("rk"))
        .write.insertInto("graft_tmp.pdml")
      // r17: the MERGE source table touches neither the UPDATE nor the
      // DELETE target, so its build overlaps them (guide §2.6); the
      // Await before the MERGE preserves program order where it matters
      val srcReady = graft.tools.Pools.submit {
        s.sql("DROP TABLE IF EXISTS graft_tmp.pdml_src")
        // explicit fresh LOCATION: the in-memory catalog forgets the
        // table between JVMs but the warehouse directory survives, and
        // a managed CTAS refuses to reuse it (LOCATION_ALREADY_EXISTS)
        s.sql(s"""CREATE TABLE graft_tmp.pdml_src USING parquet
                LOCATION '${graft.tools.Tmp.dir("graft_pdml_src")}/t' AS
                SELECT 0 AS n_nationkey, 'M0' AS n_name, 0 AS rk
                UNION ALL SELECT 990, 'M99', 99""")
      }
      s.sql("UPDATE graft_tmp.pdml SET n_name = concat('U_', n_name) WHERE rk = 1")
      s.sql("DELETE FROM graft_tmp.pdml WHERE rk = 2 AND n_nationkey % 2 = 0")
      graft.tools.Pools.awaitAll(Seq(srcReady)): Unit
      s.sql("""MERGE INTO graft_tmp.pdml t USING graft_tmp.pdml_src s
           ON t.n_nationkey = s.n_nationkey
           WHEN MATCHED THEN UPDATE SET n_name = s.n_name
           WHEN NOT MATCHED THEN INSERT VALUES (s.n_nationkey, s.n_name, s.rk)""")
      s.table("graft_tmp.pdml").select("n_nationkey", "n_name", "rk")
    },
      Some("""WITH upd AS (
                SELECT n_nationkey,
                       CASE WHEN n_nationkey = 0 THEN 'M0'
                            WHEN n_regionkey = 1 THEN 'U_' || n_name
                            ELSE n_name END AS n_name,
                       n_regionkey AS rk
                FROM nation
                WHERE NOT (n_regionkey = 2 AND n_nationkey % 2 = 0))
              SELECT n_nationkey, n_name, rk FROM upd
              UNION ALL SELECT 990, 'M99', 99"""))
  )
}
