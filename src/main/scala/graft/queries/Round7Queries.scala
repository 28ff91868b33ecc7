package graft.queries

import graft.{Engine, Q, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{round => _, _}
import graft.queries.Fns.round

/** Round-7 sweep: the judge's remaining scalar/text-surface stragglers —
  * TABLESAMPLE(BUCKET ...) as SQL text, current_user, reflect2, and the
  * RegexSerDe read recipe.
  */
object Round7Queries {
  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  val all: Seq[Q] = Seq(

    // ---- current_user() / current_database() session context
    //      (GenericUDFCurrentUser.java / GenericUDFCurrentDatabase.java,
    //      both registered built-ins in exec/FunctionRegistry.java:178
    //      area). Spark ships both; the gate pins that current_user()
    //      answers with THIS session's user — compared engine-side against
    //      the JVM/SPARK_USER identity so the oracle stays host-agnostic. ----
    Q("q137_current_user", (s, d) => {
      val expected = sys.env.getOrElse("SPARK_USER",
        System.getProperty("user.name"))
      t(s, d, "region").select(
        col("r_regionkey"),
        (expr("current_user()") === lit(expected)).as("user_ok"),
        (length(expr("current_user()")) > 0).as("user_nonempty"))
    },
      Some("""SELECT r_regionkey, true AS user_ok, true AS user_nonempty
             FROM region""")),

    // ---- TABLESAMPLE(BUCKET x OUT OF y ON cols) SQL-text form
    //      (parse/FromClauseParser.g:154-166) — the exact statement text a
    //      migrating script contains, rewritten by the front end into the
    //      deterministic bucket filter (Hive's int-column bucket hash IS
    //      the value, so pmod(key, y) = x-1 reproduces the reference's
    //      row-to-bucket assignment; same semantics q42 pins DataFrame-
    //      side). Trailing alias + WHERE exercise the rewrite's tail
    //      handling. ----
    Q("q138_tablesample_bucket_sql", (s, d) =>
      Engine.sql(s, d,
        """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
           FROM lineitem TABLESAMPLE(BUCKET 4 OUT OF 7 ON l_orderkey) li
           WHERE li.l_quantity > 5
           GROUP BY l_returnflag"""),
      Some("""SELECT l_returnflag, count(*) AS n, round(sum(l_quantity),2) AS sum_qty
             FROM lineitem WHERE l_orderkey % 7 = 3 AND l_quantity > 5
             GROUP BY l_returnflag""")),

    // ---- reflect2 instance-method reflection (GenericUDFReflect2.java):
    //      resolved once at analysis time, invoked per row; the gate runs
    //      String methods with SQL-expressible oracles (Java substring is
    //      0-based/end-exclusive, SQL's is 1-based/length). Registered both
    //      as `reflect2` and under the Hive class name via CREATE FUNCTION. ----
    Q("q139_reflect2", (s, d) => {
      Tables.views(s, d, "customer")
      s.sql("""CREATE TEMPORARY FUNCTION hive_reflect2 AS
        'org.apache.hadoop.hive.ql.udf.generic.GenericUDFReflect2'""")
      Engine.sql(s, d,
        """SELECT c_custkey,
                  reflect2(c_name, 'length') AS name_len,
                  reflect2(c_name, 'substring', 9) AS name_tail,
                  reflect2(c_name, 'replace', '#', '-') AS name_dash,
                  hive_reflect2(c_name, 'toUpperCase') AS name_upper,
                  reflect2(c_mktsegment, 'indexOf', 'I') AS seg_i
           FROM customer WHERE c_custkey <= 200""")
    },
      Some("""SELECT c_custkey,
             CAST(length(c_name) AS INT) AS name_len,
             substring(c_name, 10) AS name_tail,
             replace(c_name, '#', '-') AS name_dash,
             upper(c_name) AS name_upper,
             CAST(coalesce(nullif(instr(c_mktsegment, 'I'), 0), 0) - 1 AS INT) AS seg_i
             FROM customer WHERE c_custkey <= 200""")),

    // ---- RegexSerDe read recipe (serde2/RegexSerDe.java): an Apache-log-
    //      style text file projected into columns by ONE regexp_extract
    //      pass per column over spark.read.text — the SURVEY §2.1 mapping
    //      for regex-described text layouts. The log lines are generated
    //      from `orders`, so the oracle reconstructs the same rows
    //      relationally; a malformed line must yield NULL columns and
    //      survive (RegexSerDe's permissive contract). ----
    Q("q140_regex_serde", (s, d) => {
      val base = graft.tools.Tmp.dir("graft_regexserde")
      val logs = t(s, d, "orders").filter(col("o_orderkey") <= 2000)
        .select(concat(
          lit("10.0."), (col("o_orderkey") % 256).cast("string"),
          lit(".1 - - [2015-01-01] \"GET /orders/"),
          col("o_orderkey").cast("string"),
          lit(" HTTP/1.1\" "), (lit(200) + col("o_orderkey") % 3).cast("string"),
          lit(" "), floor(col("o_totalprice")).cast("long").cast("string")
        ).as("value"))
      logs.coalesce(1).write.mode("overwrite").text(s"$base/logs")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$base/logs", "malformed.txt"),
        "this line matches no pattern\n".getBytes("UTF-8"))
      val pat = """^(\S+) \S+ \S+ \[([^\]]+)\] "(\w+) (\S+) [^"]*" (\d+) (\d+)$"""
      val raw = s.read.text(s"$base/logs")
      raw.select(
        nullif2(regexp_extract(col("value"), pat, 1)).as("host"),
        nullif2(regexp_extract(col("value"), pat, 3)).as("method"),
        nullif2(regexp_extract(col("value"), pat, 4)).as("path"),
        nullif2(regexp_extract(col("value"), pat, 5)).cast("int").as("code"),
        nullif2(regexp_extract(col("value"), pat, 6)).cast("long").as("bytes"))
    },
      Some("""SELECT concat('10.0.', CAST(o_orderkey % 256 AS VARCHAR), '.1') AS host,
             'GET' AS method,
             concat('/orders/', CAST(o_orderkey AS VARCHAR)) AS path,
             CAST(200 + o_orderkey % 3 AS INT) AS code,
             CAST(floor(o_totalprice) AS BIGINT) AS bytes
             FROM orders WHERE o_orderkey <= 2000
             UNION ALL
             SELECT NULL, NULL, NULL, NULL, NULL""")),

    // ---- document chunking with overlap: the training-prep step that
    //      splits each document into fixed-size token windows (size 32,
    //      stride 24 = 8-token overlap) for embedding/context packing.
    //      Pure narrow per-row transform — one posexplode per doc, no
    //      shuffle at any corpus size; chunk boundaries are deterministic
    //      functions of the token array. ----
    Q("t15_chunk_overlap", (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) > 0)
        .select(col("doc_id"),
          posexplode(expr(
            "transform(sequence(0, size(ws) - 1, 24), st -> slice(ws, st + 1, 32))"))
            .as(Seq("chunk_id", "chunk")))
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          concat_ws(" ", col("chunk")).as("chunk_text"),
          size(col("chunk")).cast("long").as("n_tokens")),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
                         WHERE len(string_split(text, ' ')) > 0),
              st AS (SELECT doc_id, ws, unnest(range(0, len(ws), 24)) AS s0 FROM t)
             SELECT doc_id, CAST(s0 // 24 AS BIGINT) AS chunk_id,
               array_to_string(list_slice(ws, s0 + 1, least(s0 + 32, len(ws))), ' ') AS chunk_text,
               CAST(len(list_slice(ws, s0 + 1, least(s0 + 32, len(ws)))) AS BIGINT) AS n_tokens
             FROM st""")),

    // ---- PII scrubbing: email / phone / IPv4 masking before training —
    //      the redaction pass every corpus pipeline runs. Chained codegen'd
    //      regexp_replace (same class as t07's masking); the PII-bearing
    //      text is constructed deterministically so the oracle is the
    //      closed-form scrubbed string. ----
    Q("t16_pii_scrub", (s, d) =>
      t(s, d, "customer").filter(col("c_custkey") <= 300)
        .select(col("c_custkey"),
          concat(lit("contact "), lower(col("c_name")),
            lit("@corp.example.com or 555-01"),
            lpad((col("c_custkey") % 100).cast("string"), 2, "0"),
            lit(" ip 10.1."), (col("c_custkey") % 256).cast("string"),
            lit(".7 segment "), col("c_mktsegment")).as("raw"))
        .withColumn("scrubbed",
          regexp_replace(regexp_replace(regexp_replace(col("raw"),
            "[\\w.+-]+@[\\w.-]+", "<EMAIL>"),
            "\\b\\d{3}-\\d{4}\\b", "<PHONE>"),
            "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b", "<IP>"))
        .select("c_custkey", "scrubbed"),
      Some("""SELECT c_custkey,
             concat('contact customer#<EMAIL> or <PHONE> ip <IP> segment ',
                    c_mktsegment) AS scrubbed
             FROM customer WHERE c_custkey <= 300""")),

    // ---- legacy Hive CREATE TABLE DDL text: ROW FORMAT DELIMITED +
    //      STORED AS TEXTFILE (the statement every clientpositive .q
    //      opens with — LazySimpleSerDe \001/\N defaults) rewritten by
    //      frontend.Rewrites.rewriteHiveCreate onto datasource DDL, then written and
    //      read back through the same table. STORED AS PARQUET covered in
    //      the same script. ----
    Q("q141_hive_create_ddl", (s, d) => {
      Tables.views(s, d, "nation")
      s.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
      // r18: the txt and par table programs (drop → create → load) touch
      // distinct tables and are fully independent — overlap them (guide
      // §2.6, same pattern as q133); statement order within each branch
      // is preserved
      graft.tools.Pools.runAll(Seq(
        () => {
          s.sql("DROP TABLE IF EXISTS graft_tmp.q141_txt")
          // a fresh session's DROP is a catalog no-op, but a managed
          // location left by a PREVIOUS process blocks CREATE
          // (LOCATION_ALREADY_EXISTS) — remove the stale warehouse dir
          // like a real operator would
          val wh = new org.apache.hadoop.fs.Path(
            s.conf.get("spark.sql.warehouse.dir") + "/graft_tmp.db/q141_txt")
          wh.getFileSystem(s.sessionState.newHadoopConf()).delete(wh, true)
          s.sql("""CREATE TABLE graft_tmp.q141_txt (n_nationkey INT, n_name STRING)
               ROW FORMAT DELIMITED FIELDS TERMINATED BY '|' NULL DEFINED AS '\N'
               STORED AS TEXTFILE""")
          s.sql("INSERT OVERWRITE TABLE graft_tmp.q141_txt SELECT n_nationkey, n_name FROM nation"): Unit
        },
        () => {
          s.sql("DROP TABLE IF EXISTS graft_tmp.q141_par")
          s.sql(
            "CREATE EXTERNAL TABLE graft_tmp.q141_par (n_nationkey INT, n_regionkey INT) STORED AS PARQUET LOCATION '" +
              graft.tools.Tmp.dir("graft_q141") + "/par'")
          s.sql("INSERT OVERWRITE TABLE graft_tmp.q141_par SELECT n_nationkey, n_regionkey FROM nation"): Unit
        }))
      s.sql("""SELECT t.n_nationkey, t.n_name, p.n_regionkey
               FROM graft_tmp.q141_txt t JOIN graft_tmp.q141_par p
               ON t.n_nationkey = p.n_nationkey""")
    },
      Some("""SELECT n_nationkey, n_name, n_regionkey FROM nation""")),

    // ---- CREATE TEMPORARY MACRO (FunctionSemanticAnalyzer + udf/generic/
    //      GenericUDFMacro.java): Hive expands the macro body inline at
    //      compile time. The front end rewrites the statement onto Spark 4
    //      SQL scalar UDFs (CREATE TEMPORARY FUNCTION ... RETURN body),
    //      which Catalyst inlines identically — the oracle is the body
    //      written out by hand. ----
    Q("q142_macro", (s, d) => {
      Engine.sql(s, d,
        "CREATE TEMPORARY MACRO q142_sig(x DOUBLE) 1.0 / (1.0 + exp(-x))")
      Engine.sql(s, d,
        "CREATE TEMPORARY MACRO q142_add(a INT, b INT) a + b")
      Engine.sql(s, d,
        """SELECT n_nationkey,
                  round(q142_sig(n_regionkey) * 1000000) / 1000000 AS sig,
                  q142_add(n_nationkey, n_regionkey) AS ab
           FROM nation""")
    },
      Some("""SELECT n_nationkey,
             round(1.0 / (1.0 + exp(-n_regionkey)) * 1000000) / 1000000 AS sig,
             n_nationkey + n_regionkey AS ab FROM nation""")),

    // ---- INSERT OVERWRITE ... PARTITION (static) IF NOT EXISTS
    //      (SemanticAnalyzer: the insert is SKIPPED when the partition
    //      already exists; only legal with a fully-static spec). Spark's
    //      parser rejects the clause; the front end checks the catalog and
    //      runs or no-ops. Second insert into p='a' must not overwrite. ----
    Q("q143_insert_ine", (s, d) => {
      s.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
      s.sql("DROP TABLE IF EXISTS graft_tmp.q143_t")
      val wh = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir") + "/graft_tmp.db/q143_t")
      wh.getFileSystem(s.sessionState.newHadoopConf()).delete(wh, true)
      s.sql("""CREATE TABLE graft_tmp.q143_t (v STRING, p STRING)
               USING parquet PARTITIONED BY (p)""")
      s.sql("""INSERT OVERWRITE TABLE graft_tmp.q143_t
        PARTITION (p='a') IF NOT EXISTS SELECT 'first'""")
      s.sql("""INSERT OVERWRITE TABLE graft_tmp.q143_t
        PARTITION (p='a') IF NOT EXISTS SELECT 'second'""")
      s.sql("""INSERT OVERWRITE TABLE graft_tmp.q143_t
        PARTITION (p='b') IF NOT EXISTS SELECT 'fresh'""")
      s.sql("SELECT p, v FROM graft_tmp.q143_t")
    },
      Some("SELECT 'a' AS p, 'first' AS v UNION ALL SELECT 'b', 'fresh'")),

    // ---- ALTER TABLE SET FILEFORMAT (DDLSemanticAnalyzer
    //      alterTableFileFormat): Hive flips serde metadata only; the CoW
    //      interpretation rewrites the rows into the new format (CTAS +
    //      swap), so the table stays readable. TEXTFILE leg exercises the
    //      \001/\N LazySimpleSerDe layout with a NULL round-trip, then ORC. ----
    Q("q144_set_fileformat", (s, d) => {
      s.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
      s.sql("DROP TABLE IF EXISTS graft_tmp.q144_t")
      for (suffix <- Seq("", "_setff_tmp")) {
        val wh = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir") + s"/graft_tmp.db/q144_t$suffix")
        wh.getFileSystem(s.sessionState.newHadoopConf()).delete(wh, true)
      }
      s.sql("CREATE TABLE graft_tmp.q144_t (k INT, v STRING) USING parquet")
      s.sql("INSERT INTO graft_tmp.q144_t VALUES (1, 'a'), (2, NULL)")
      s.sql("ALTER TABLE graft_tmp.q144_t SET FILEFORMAT TEXTFILE")
      s.sql("ALTER TABLE graft_tmp.q144_t SET FILEFORMAT ORC")
      s.sql("SELECT k, v FROM graft_tmp.q144_t")
    },
      Some("SELECT 1 AS k, 'a' AS v UNION ALL SELECT 2, NULL")),

    // ---- Hive statistical-alias semantics: std/stddev/variance are
    //      POPULATION statistics in the reference (FunctionRegistry.java:
    //      348-354: std/stddev/stddev_pop -> GenericUDAFStd, variance/
    //      var_pop -> GenericUDAFVariance) but SAMPLE aliases in stock
    //      Spark — a silent value drift for migrating scripts.
    //      FunctionPack re-points the ambiguous names; the oracle pins
    //      them against DuckDB's explicit population spellings. ----
    Q("q145_hive_stat_aliases", (s, d) =>
      Engine.sql(s, d,
        """SELECT l_returnflag,
                  round(std(l_quantity) * 1000000) / 1000000 AS sd_p,
                  round(stddev(l_quantity) * 1000000) / 1000000 AS sd_p2,
                  round(variance(l_quantity) * 1000000) / 1000000 AS var_p
           FROM lineitem GROUP BY l_returnflag"""),
      Some("""SELECT l_returnflag,
             round(stddev_pop(l_quantity) * 1000000) / 1000000 AS sd_p,
             round(stddev_pop(l_quantity) * 1000000) / 1000000 AS sd_p2,
             round(var_pop(l_quantity) * 1000000) / 1000000 AS var_p
             FROM lineitem GROUP BY l_returnflag""")),

    // ---- sort_array_by (GenericUDFSortArrayByField.java): sorts an
    //      array<struct> by named fields. The implementation BUILDS an
    //      array_sort comparator tree (functions/SortArrayBy.scala), so
    //      the sort runs inside codegen. Oracle: DuckDB structs compare
    //      field-by-field in declaration order, so list_sort over
    //      (sz, nm) structs IS sort-by-sz-then-nm; posexplode pins the
    //      element order positionally. ----
    Q("q146_sort_array_by", (s, d) => {
      Tables.views(s, d, "part")
      s.sql("""SELECT p_brand, pos, e.sz AS sz, e.nm AS nm FROM (
                 SELECT p_brand,
                        sort_array_by(collect_list(named_struct(
                          'sz', p_size, 'nm', p_name)), 'sz', 'nm') AS arr
                 FROM part GROUP BY p_brand) t
               LATERAL VIEW posexplode(arr) x AS pos, e""")
    },
      Some("""SELECT p_brand, pos, s.sz AS sz, s.nm AS nm FROM (
                SELECT p_brand,
                  CAST(unnest(range(len(arr))) AS INT) AS pos,
                  unnest(list_sort(arr)) AS s
                FROM (SELECT p_brand,
                        list({'sz': p_size, 'nm': p_name}) AS arr
                      FROM part GROUP BY p_brand) t) q"""))
  )

  /** regexp_extract returns '' (not NULL) on no-match — RegexSerDe emits
    * NULL for unmatched rows, so normalize. */
  private def nullif2(c: org.apache.spark.sql.Column) =
    when(c === "", lit(null)).otherwise(c)
}
