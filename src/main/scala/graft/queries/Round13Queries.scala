package graft.queries

import graft.{Engine, Q, Tables}

/** Round-13 additions: third-party Hive UDF execution — the
  * CREATE FUNCTION ... USING JAR surface (reference
  * ql/exec/FunctionTask.java:164-166,
  * parse/FunctionSemanticAnalyzer.java:134) running arbitrary
  * GenericUDF subclasses and legacy UDFs from a session jar through the
  * ObjectInspector-bridging adapter (functions/HiveUdfAdapter.scala).
  * The fixture jar is repo-local (sources beside it); both UDFs have
  * closed-form SQL semantics, so the full DuckDB oracle applies.
  */
object Round13Queries {

  private val udfJar = new java.io.File(
    "src/test/resources/jars/graft-hiveudf.jar").getAbsolutePath

  val all: Seq[Q] = Seq(

    // ---- q158: CREATE FUNCTION ... USING JAR end-to-end — a GenericUDF
    //      (initialize over ObjectInspectors, constant-OI int arg,
    //      writable return) and a legacy evaluate()-overload UDF (long
    //      and String overloads picked per argument type), both executed
    //      distributed over a real scan. ----
    Q("q158_hive_udf_jar", (s, d) => {
      Tables.t(s, d, "nation").createOrReplaceTempView("q158_nation")
      s.sql("CREATE TEMPORARY FUNCTION q158_repeat_tag AS " +
        s"'graftjar.RepeatTag' USING JAR '$udfJar'")
      s.sql("CREATE TEMPORARY FUNCTION q158_plus_one AS " +
        s"'graftjar.LegacyPlusOne' USING JAR '$udfJar'")
      s.sql("""SELECT n_name,
                      q158_repeat_tag(n_name, 2) AS tagged,
                      q158_plus_one(CAST(n_nationkey AS BIGINT)) AS bumped,
                      q158_plus_one(n_name) AS suffixed
               FROM q158_nation""")
    },
      Some("""SELECT n_name,
                     upper(n_name) || '-' || upper(n_name) AS tagged,
                     CAST(n_nationkey + 1 AS BIGINT) AS bumped,
                     n_name || '+1' AS suffixed
              FROM nation""")),

    // ---- q159: the table-generating and aggregate faces of the jar
    //      surface — a GenericUDTF (process/forward/close as a Catalyst
    //      Generator) explodes synthetic two-token text, and a
    //      GenericUDAF (PARTIAL1/FINAL evaluator modes through Spark's
    //      HiveUDAFFunction bridge) aggregates per token. ----
    Q("q159_hive_udtf_udaf_jar", (s, d) => {
      Tables.t(s, d, "nation").createOrReplaceTempView("q159_nation")
      s.sql("CREATE TEMPORARY FUNCTION q159_tok AS " +
        s"'graftjar.TokenExplode' USING JAR '$udfJar'")
      s.sql("CREATE TEMPORARY FUNCTION q159_ss AS " +
        s"'graftjar.SumSquares' USING JAR '$udfJar'")
      s.sql("""SELECT t.token, count(*) AS n,
                      q159_ss(n.n_nationkey) AS ss
               FROM q159_nation n
               LATERAL VIEW q159_tok(concat(n.n_name, ' tag', n.n_regionkey)) t
                 AS token, len
               WHERE t.token != '__rows'
               GROUP BY t.token""")
    },
      Some("""WITH t AS (
                SELECT n_nationkey,
                       unnest([n_name, 'tag' || CAST(n_regionkey AS VARCHAR)]) AS token
                FROM nation)
              SELECT token, count(*) AS n,
                     CAST(sum(CAST(n_nationkey AS DOUBLE) * n_nationkey) AS DOUBLE) AS ss
              FROM t GROUP BY token"""))
  )
}
