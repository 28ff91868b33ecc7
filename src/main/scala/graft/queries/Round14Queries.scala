package graft.queries

import graft.{Engine, Q, Tables}

/** Round-14 addition: Hive CHAR trailing-pad semantics as a first-class
  * oracled board entry. The reference converts CHAR to string by
  * STRIPPING trailing blanks everywhere but display
  * (serde PrimitiveObjectInspectorUtils.getString CHAR case,
  * common HiveChar.getCharacterLength/compareTo), so concat/length/
  * comparison over a CHAR column see the unpadded text — and DuckDB
  * treats CHAR(n) as pad-free VARCHAR, which makes the plain-string
  * computation over the raw fixture table an EXACT oracle for the
  * stripped semantics. Without plans/HiveSemantics.CharStripReads the
  * Spark side reads pad-inflated values (bracketed '[NATION_1   ]',
  * length 12, eq false) and the hash diverges.
  */
object Round14Queries {

  val all: Seq[Q] = Seq(

    // ---- q160: a CHAR(12) table written by the engine (storage stays
    //      blank-padded via Spark's write-side check), read back through
    //      the stripped-view rule: concat shows no pad, length counts
    //      content, equality matches the bare literal. ----
    Q("q160_char_strip", (s, d) => {
      Tables.t(s, d, "nation").createOrReplaceTempView("q160_nation")
      s.sql("DROP TABLE IF EXISTS q160_chart")
      // explicit fresh location: a prior SESSION's managed-table dir would
      // otherwise survive in spark-warehouse and fail the CREATE
      val loc = graft.tools.Tmp.dir("q160_char") + "/t"
      s.sql(s"CREATE TABLE q160_chart (k INT, c CHAR(12)) USING parquet LOCATION '$loc'")
      s.sql("""INSERT OVERWRITE TABLE q160_chart
        SELECT CAST(n_nationkey AS INT), n_name FROM q160_nation""")
      s.sql("""SELECT k, concat('[', c, ']') AS bracketed,
                      CAST(length(c) AS INT) AS len,
                      (c = 'NATION_1') AS eq1
               FROM q160_chart""")
    },
      Some("""SELECT CAST(n_nationkey AS INT) AS k,
                     '[' || n_name || ']' AS bracketed,
                     CAST(length(n_name) AS INT) AS len,
                     (n_name = 'NATION_1') AS eq1
              FROM nation"""))
  )
}
