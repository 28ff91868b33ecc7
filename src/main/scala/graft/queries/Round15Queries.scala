package graft.queries

import graft.{Engine, Q, Tables}

/** Round-15 addition: CHAR(n) PARTITION keys — stripped-read semantics
  * AND metastore-convertible static pruning in one oracled entry.
  *
  * The reference prunes char partitions on the STRIPPED value
  * (serde PrimitiveObjectInspectorUtils.java:826 strips at every
  * conversion; clientpositive/char_join1.q family pins stripped
  * comparison). Under plans/HiveSemantics.CharStripReads an equality
  * over a char partition key reaches the scan as `rtrim(c) = 'v'`,
  * which prunes only client-side; HiveSemantics.CharPartitionPruning
  * rewrites it to the bare-attribute form (`c IN (padded, raw)`), so a
  * metastore `listPartitionsByFilter` can serve it without listing
  * every partition — the r14 verdict's 100×-partition scale hazard.
  * PlanSpec pins the rewritten PartitionFilters shape; this entry
  * oracle-gates that the pruned result still matches Hive semantics.
  */
object Round15Queries {

  val all: Seq[Q] = Seq(

    // ---- q161: dynamic-partition write into a CHAR(20)-partitioned
    //      table (catalog values land blank-padded), equality-pruned
    //      read back through the stripped view; DuckDB's pad-free
    //      strings over the raw fixture tables are the exact oracle ----
    Q("q161_char_part_prune", (s, d) => {
      Tables.t(s, d, "nation").createOrReplaceTempView("q161_nation")
      Tables.t(s, d, "region").createOrReplaceTempView("q161_region")
      s.sql("DROP TABLE IF EXISTS q161_partc")
      val loc = graft.tools.Tmp.dir("q161_charpart") + "/t"
      s.sql(s"""CREATE TABLE q161_partc (k INT, c CHAR(20))
        USING parquet PARTITIONED BY (c) LOCATION '$loc'""")
      s.sql("SET hive.exec.dynamic.partition.mode=nonstrict")
      s.sql("""INSERT OVERWRITE TABLE q161_partc PARTITION (c)
        SELECT CAST(n_nationkey AS INT), r_name
        FROM q161_nation JOIN q161_region ON n_regionkey = r_regionkey""")
      s.sql("""SELECT k, c, CAST(length(c) AS INT) AS len
               FROM q161_partc WHERE c = 'ASIA'""")
    },
      Some("""SELECT CAST(n_nationkey AS INT) AS k, r_name AS c,
                     CAST(length(r_name) AS INT) AS len
              FROM nation JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'ASIA'""")),

    // ---- q162: CHAR nested one level down — struct<c:char(n)> through
    //      GetStructField and array<char(n)> elements read STRIPPED
    //      (reference strips at every conversion,
    //      serde PrimitiveObjectInspectorUtils.java:826); storage stays
    //      padded (Spark write-side check), so without the nested strip
    //      clen/alen read pad-inflated and the hash diverges ----
    Q("q162_char_nested", (s, d) => {
      Tables.t(s, d, "nation").createOrReplaceTempView("q162_nation")
      s.sql("DROP TABLE IF EXISTS q162_nested")
      val loc = graft.tools.Tmp.dir("q162_nested") + "/t"
      s.sql(s"""CREATE TABLE q162_nested
        (k INT, st STRUCT<c: CHAR(20), s: STRING>, arr ARRAY<CHAR(8)>)
        USING parquet LOCATION '$loc'""")
      s.sql("""INSERT OVERWRITE TABLE q162_nested
        SELECT CAST(n_nationkey AS INT),
               named_struct('c', n_name, 's', n_name),
               array(substr(n_name, 1, 6))
        FROM q162_nation""")
      s.sql("""SELECT k, st.c AS c, CAST(length(st.c) AS INT) AS clen,
                      concat('[', st.c, ']') AS bracketed,
                      arr[0] AS a0, CAST(length(arr[0]) AS INT) AS alen
               FROM q162_nested""")
    },
      Some("""SELECT CAST(n_nationkey AS INT) AS k, n_name AS c,
                     CAST(length(n_name) AS INT) AS clen,
                     '[' || n_name || ']' AS bracketed,
                     substr(n_name, 1, 6) AS a0,
                     CAST(length(substr(n_name, 1, 6)) AS INT) AS alen
              FROM nation"""))
  )
}
