package graft.queries

import graft.{Engine, Q}
import org.apache.spark.sql.functions._

/** Round-10 verify gates: partitioned copy-on-write DML on the graft DSv2
  * formats (the last CoW-matrix asymmetry, r9 verdict #6) and the hybrid
  * static+dynamic partition insert edge (load_dyn_part family).
  */
object Round10Queries {

  val all: Seq[Q] = Seq(

    // ---- a15: a14-shaped partitioned DML, but on a graft-seq table —
    //      UPDATE/DELETE rewrite inside partition dirs, MERGE insert
    //      lands in a NEW partition directory, reads walk the Hive p=v
    //      layout (SequenceFileDataSource + PartLayout). ----
    Q("a15_partitioned_dml_seq", (s, d) => {
      s.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
      s.sql("DROP TABLE IF EXISTS graft_tmp.pdml_seq")
      val base = graft.tools.Tmp.dir("graft_pdml_seq")
      s.sql(s"""CREATE TABLE graft_tmp.pdml_seq (n_nationkey INT, n_name STRING)
               USING `graft-seq` PARTITIONED BY (rk INT) LOCATION '$base'""")
      graft.Tables.t(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey").as("rk"))
        .write.insertInto("graft_tmp.pdml_seq")
      // r17: the MERGE source build is independent of the UPDATE/DELETE
      // target — overlap them (guide §2.6), Await before the MERGE
      val srcReady = graft.tools.Pools.submit {
        s.sql("DROP TABLE IF EXISTS graft_tmp.pdml_seq_src")
        s.sql(s"""CREATE TABLE graft_tmp.pdml_seq_src USING parquet
                LOCATION '${graft.tools.Tmp.dir("graft_pdml_seq_src")}/t' AS
                SELECT 0 AS n_nationkey, 'M0' AS n_name, 0 AS rk
                UNION ALL SELECT 990, 'M99', 99""")
      }
      s.sql("UPDATE graft_tmp.pdml_seq SET n_name = concat('U_', n_name) WHERE rk = 1")
      s.sql("DELETE FROM graft_tmp.pdml_seq WHERE rk = 2 AND n_nationkey % 2 = 0")
      graft.tools.Pools.awaitAll(Seq(srcReady)): Unit
      s.sql("""MERGE INTO graft_tmp.pdml_seq t USING graft_tmp.pdml_seq_src s
           ON t.n_nationkey = s.n_nationkey
           WHEN MATCHED THEN UPDATE SET n_name = s.n_name
           WHEN NOT MATCHED THEN INSERT VALUES (s.n_nationkey, s.n_name, s.rk)""")
      s.table("graft_tmp.pdml_seq").select("n_nationkey", "n_name", "rk")
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
              UNION ALL SELECT 990, 'M99', 99""")),

    // ---- a16: hybrid static+dynamic partition INSERT OVERWRITE
    //      (load_dyn_part1.q/load_dyn_part8.q family: one partition column
    //      bound statically, the rest routed per row) + an overwrite of a
    //      single fully-bound partition that must leave siblings intact. ----
    Q("a16_hybrid_dyn_part", (s, d) => {
      s.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
      s.sql("DROP TABLE IF EXISTS graft_tmp.hyb")
      val base = graft.tools.Tmp.dir("graft_hyb")
      s.sql(s"""CREATE TABLE graft_tmp.hyb (k INT, v STRING)
               USING parquet PARTITIONED BY (ds STRING, hr INT)
               LOCATION '$base'""")
      graft.Tables.t(s, d, "nation").createOrReplaceTempView("a16_nation")
      // hybrid: ds static, hr dynamic — every region lands in its own hr
      s.sql("""INSERT OVERWRITE TABLE graft_tmp.hyb PARTITION (ds='d1', hr)
           SELECT n_nationkey, n_name, n_regionkey FROM a16_nation""")
      // fully static append into a fresh (ds, hr)
      s.sql("""INSERT INTO graft_tmp.hyb PARTITION (ds='d2', hr=9)
           SELECT n_nationkey, n_name FROM a16_nation WHERE n_nationkey < 3""")
      // fully static overwrite of ONE partition: (d1, 1) is replaced,
      // every sibling hr under d1 and all of d2 stay intact
      s.sql("""INSERT OVERWRITE TABLE graft_tmp.hyb PARTITION (ds='d1', hr=1)
           SELECT n_nationkey + 100, concat('R_', n_name) FROM a16_nation
           WHERE n_regionkey = 1""")
      s.table("graft_tmp.hyb").select("k", "v", "ds", "hr")
    },
      Some("""SELECT n_nationkey AS k, n_name AS v, 'd1' AS ds,
                     n_regionkey AS hr
              FROM nation WHERE n_regionkey <> 1
              UNION ALL
              SELECT n_nationkey + 100, 'R_' || n_name, 'd1', 1
              FROM nation WHERE n_regionkey = 1
              UNION ALL
              SELECT n_nationkey, n_name, 'd2', 9
              FROM nation WHERE n_nationkey < 3""")),

    // ---- a17: the a15 program verbatim, but STORED on the genuine Hive
    //      RCFile columnar container (sources/v2/RcFileDataSource —
    //      reference ql/.../io/RCFile.java via the hive-exec classes Spark
    //      bundles). Same oracle as a15: the storage layer must be
    //      invisible to DML semantics. ----
    Q("a17_partitioned_dml_rcfile", (s, d) => {
      s.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
      s.sql("DROP TABLE IF EXISTS graft_tmp.pdml_rc")
      val base = graft.tools.Tmp.dir("graft_pdml_rc")
      s.sql(s"""CREATE TABLE graft_tmp.pdml_rc (n_nationkey INT, n_name STRING)
               USING `graft-rcfile` PARTITIONED BY (rk INT) LOCATION '$base'""")
      graft.Tables.t(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey").as("rk"))
        .write.insertInto("graft_tmp.pdml_rc")
      // r17: same §2.6 overlap as a15 — the MERGE source build runs
      // concurrent with the UPDATE/DELETE, Await before the MERGE
      val srcReady = graft.tools.Pools.submit {
        s.sql("DROP TABLE IF EXISTS graft_tmp.pdml_rc_src")
        s.sql(s"""CREATE TABLE graft_tmp.pdml_rc_src USING parquet
                LOCATION '${graft.tools.Tmp.dir("graft_pdml_rc_src")}/t' AS
                SELECT 0 AS n_nationkey, 'M0' AS n_name, 0 AS rk
                UNION ALL SELECT 990, 'M99', 99""")
      }
      s.sql("UPDATE graft_tmp.pdml_rc SET n_name = concat('U_', n_name) WHERE rk = 1")
      s.sql("DELETE FROM graft_tmp.pdml_rc WHERE rk = 2 AND n_nationkey % 2 = 0")
      graft.tools.Pools.awaitAll(Seq(srcReady)): Unit
      s.sql("""MERGE INTO graft_tmp.pdml_rc t USING graft_tmp.pdml_rc_src s
           ON t.n_nationkey = s.n_nationkey
           WHEN MATCHED THEN UPDATE SET n_name = s.n_name
           WHEN NOT MATCHED THEN INSERT VALUES (s.n_nationkey, s.n_name, s.rk)""")
      s.table("graft_tmp.pdml_rc").select("n_nationkey", "n_name", "rk")
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
              UNION ALL SELECT 990, 'M99', 99""")),

    // ---- q154: thrift-serialized sequencefile tables (the src_thrift
    //      fixture shape behind join_thrift.q — serde2/thrift/
    //      ThriftDeserializer.java). The serde CLASS is the schema: the
    //      DSv2 source (sources/v2/ThriftSeqDataSource) derives columns
    //      from the generated thrift metadata; records are TBinaryProtocol
    //      bytes in SequenceFile values. ----
    Q("q154_thrift_seq", (s, d) => {
      val de = s.sql(_: String)
      s.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
      s.sql("DROP TABLE IF EXISTS graft_tmp.src_thrift")
      val base = graft.tools.Tmp.dir("graft_src_thrift")
      de(s"""CREATE TABLE graft_tmp.src_thrift
           ROW FORMAT SERDE 'org.apache.hadoop.hive.serde2.thrift.ThriftDeserializer'
           WITH SERDEPROPERTIES (
             'serialization.class' = 'org.apache.hadoop.hive.serde2.thrift.test.Complex',
             'serialization.format' = 'org.apache.thrift.protocol.TBinaryProtocol')
           STORED AS SEQUENCEFILE
           LOCATION '$base/t'""")
      graft.Tables.t(s, d, "nation").createOrReplaceTempView("q154_nation")
      de("""INSERT INTO graft_tmp.src_thrift
           SELECT CAST(n_nationkey AS INT),
                  concat('record_', n_nationkey),
                  array(CAST(n_nationkey AS INT), CAST(n_regionkey AS INT)),
                  array(n_name),
                  array(named_struct(
                    'myint', CAST(n_nationkey * 2 AS INT),
                    'myString', concat('s', n_name),
                    'underscore_int', CAST(n_nationkey + 1 AS INT))),
                  map('key', n_name),
                  NULL, NULL, NULL, NULL
           FROM q154_nation WHERE n_nationkey < 5""")
      // The nested array<struct> column is projected through scalar fields
      // (plus the array length) so the driver's pandas comparator can sort
      // the result — s2.lintString still exercises the thrift decode of the
      // full LIST<STRUCT> field; only the gate's OUTPUT is scalar.
      s.sql("""SELECT s1.aint AS aint, s1.aString AS astring,
                      size(s2.lintString) AS n_lint,
                      s2.lintString[0].myint AS l_myint,
                      s2.lintString[0].myString AS l_mystring,
                      s2.lintString[0].underscore_int AS l_uint
               FROM graft_tmp.src_thrift s1
               JOIN graft_tmp.src_thrift s2 ON s1.aint = s2.aint""")
    },
      Some("""WITH t AS (
                SELECT CAST(n_nationkey AS INT) AS aint,
                       'record_' || n_nationkey AS astring,
                       [struct_pack(
                          myint := CAST(n_nationkey * 2 AS INT),
                          myString := 's' || n_name,
                          underscore_int := CAST(n_nationkey + 1 AS INT))]
                         AS lintstring
                FROM nation WHERE n_nationkey < 5)
              SELECT s1.aint AS aint, s1.astring AS astring,
                     CAST(len(s2.lintstring) AS INT) AS n_lint,
                     s2.lintstring[1].myint AS l_myint,
                     s2.lintstring[1].myString AS l_mystring,
                     s2.lintstring[1].underscore_int AS l_uint
              FROM t s1 JOIN t s2 ON s1.aint = s2.aint""")),

    // ---- t17: URL canonicalization + URL-level dedup — the CommonCrawl-
    //      style corpus primitive (lowercase scheme/host, strip www. and
    //      default port, drop tracking params, sort the rest, drop the
    //      fragment), then keep one doc per canonical URL (longest,
    //      doc_id tiebreak). Pure functions./higher-order chain — stays
    //      in whole-stage codegen, one shuffle on the canonical key. The
    //      oracle derives the canonical form INDEPENDENTLY from the
    //      generating columns, so a parse bug cannot cancel out. ----
    Q("t17_url_dedup", (s, d) => {
      import org.apache.spark.sql.functions._
      val docs = graft.Tables.t(s, d, "documents")
        .withColumn("url", expr(
          """CASE CAST(doc_id % 3 AS INT)
               WHEN 0 THEN concat('HTTPS://WWW.', upper(source), '.EXAMPLE.COM:443')
               WHEN 1 THEN concat('https://', source, '.example.com')
               ELSE concat('Https://', source, '.Example.Com') END
             || '/docs/' || CAST(doc_id % 40 AS STRING)
             || CASE CAST(doc_id % 2 AS INT)
                  WHEN 0 THEN concat('?utm_source=feed&id=', CAST(doc_id % 5 AS STRING), '&ref=x')
                  ELSE concat('?id=', CAST(doc_id % 5 AS STRING)) END
             || CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN '#sec' ELSE '' END"""))
      val canon = docs.withColumn("canonical_url", expr(
        """concat(
             lower(parse_url(url, 'PROTOCOL')), '://',
             regexp_replace(lower(parse_url(url, 'HOST')), '^www\\.', ''),
             regexp_replace(parse_url(url, 'PATH'), '/$', ''),
             CASE WHEN size(filter(split(parse_url(url, 'QUERY'), '&'),
                        p -> p NOT RLIKE '^(utm_|ref=|fbclid=|gclid=)')) > 0
                  THEN concat('?', array_join(array_sort(
                         filter(split(parse_url(url, 'QUERY'), '&'),
                                p -> p NOT RLIKE '^(utm_|ref=|fbclid=|gclid=)')), '&'))
                  ELSE '' END)"""))
      canon.groupBy(col("canonical_url"))
        .agg(min(struct(negate(col("n_chars")), col("doc_id"))).as("k"),
          count(lit(1)).as("n_docs"))
        .select(col("canonical_url"), col("k.doc_id").as("doc_id"),
          negate(col("k.col1")).as("n_chars"), col("n_docs"))
    },
      Some("""WITH canon AS (
                SELECT doc_id, n_chars,
                       'https://' || lower(source) || '.example.com/docs/' ||
                       CAST(doc_id % 40 AS VARCHAR) || '?id=' ||
                       CAST(doc_id % 5 AS VARCHAR) AS canonical_url
                FROM documents),
              ranked AS (
                SELECT canonical_url, doc_id, n_chars,
                       ROW_NUMBER() OVER (PARTITION BY canonical_url
                         ORDER BY n_chars DESC, doc_id) AS rn,
                       COUNT(*) OVER (PARTITION BY canonical_url) AS n_docs
                FROM canon)
              SELECT canonical_url, doc_id, n_chars, n_docs
              FROM ranked WHERE rn = 1""")),

    // ---- q155: the ngrams SQL-NAME route (FunctionPack registration →
    //      GraftColumnBridge → NGrams.ngramsHive) — same counting contract
    //      as the API gate q64, but exercising the FunctionRegistry path
    //      and Hive's array<struct<ngram:array<string>, estfrequency>>
    //      output shape, with the accepted-and-ignored precision arg. ----
    Q("q155_ngrams_sql", (s, d) =>
      Engine.sql(s, d,
        """SELECT t.ngram[0] AS w1, t.ngram[1] AS w2,
                  CAST(t.estfrequency AS DOUBLE) AS freq
           FROM (SELECT explode(g) AS t FROM
                  (SELECT ngrams(split(text, ' '), 2, 20, 1000) AS g
                   FROM documents))"""),
      Some("""WITH t AS (SELECT doc_id,
                 unnest(range(len(string_split(text,' ')))) AS pos,
                 unnest(string_split(text,' ')) AS word
               FROM documents),
              b AS (SELECT a.word AS w1, c.word AS w2
                    FROM t a JOIN t c ON a.doc_id = c.doc_id AND c.pos = a.pos + 1)
             SELECT w1, w2, CAST(count(*) AS DOUBLE) AS freq FROM b
             GROUP BY w1, w2 ORDER BY freq DESC, w1, w2 LIMIT 20""")),

    // ---- q156: compute_stats SQL name — the deterministic struct fields
    //      (ColumnType/Min/Max/CountNulls) oracle exactly; the
    //      NumDistinctValues HLL++ estimate is deliberately not selected
    //      (approximate by contract, like the reference's FM sketch). ----
    Q("q156_compute_stats_sql", (s, d) =>
      Engine.sql(s, d,
        """SELECT st.ColumnType AS column_type, st.Min AS min_v,
                  st.Max AS max_v, st.CountNulls AS count_nulls
           FROM (SELECT compute_stats(n_chars, 16) AS st FROM documents)"""),
      Some("""SELECT 'Long' AS column_type,
                     CAST(min(n_chars) AS BIGINT) AS min_v,
                     CAST(max(n_chars) AS BIGINT) AS max_v,
                     CAST(count(CASE WHEN n_chars IS NULL THEN 1 END) AS BIGINT)
                       AS count_nulls
              FROM documents""")),

    // ---- q157: complex-typed STORED AS TEXTFILE table — the graft-text
    //      source (real LazySimpleSerDe, nested \002/\003 separators;
    //      create_nested_type.q family). Writes nation-derived arrays and
    //      structs into text lines, reads every nesting level back. ----
    Q("q157_text_complex", (s, d) => {
      s.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
      s.sql("DROP TABLE IF EXISTS graft_tmp.q157_t")
      s.sql(s"""CREATE TABLE graft_tmp.q157_t (
              k INT, words ARRAY<STRING>, st STRUCT<r: INT, nm: STRING>)
            STORED AS TEXTFILE
            LOCATION '${graft.tools.Tmp.dir("q157")}/t'""")
      graft.Tables.t(s, d, "nation").createOrReplaceTempView("q157_nation")
      s.sql("""INSERT INTO graft_tmp.q157_t
               SELECT n_nationkey, array(n_name, upper(n_name)),
                      named_struct('r', n_regionkey, 'nm', n_name)
               FROM q157_nation""")
      s.sql("""SELECT k, words[1] AS w2, size(words) AS nw,
                      st.r AS r, st.nm AS nm
               FROM graft_tmp.q157_t""")
    },
      Some("""SELECT n_nationkey AS k, upper(n_name) AS w2,
                     CAST(2 AS INTEGER) AS nw,
                     n_regionkey AS r, n_name AS nm
              FROM nation"""))
  )
}
