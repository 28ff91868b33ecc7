package graft.queries

import graft.{Engine, Q, Tables}

/** Round-16 addition: CHAR conversion contract at ARBITRARY nesting depth.
  *
  * The reference strips char padding at EVERY conversion, no matter how
  * deep the value sits (serde/.../PrimitiveObjectInspectorUtils.java:826 —
  * the ObjectInspector walk converts each primitive as it is reached), so
  * `struct<inner:struct<c:char(n)>>`, `array<struct<char>>` elements and
  * map values of struct all read UNPADDED. r15 stripped one level;
  * plans/HiveSemantics.CharStripReads is now one recursive rewriter over
  * any nesting, and this entry oracle-gates a 3-level fixture end-to-end
  * (DuckDB's pad-free strings over the raw tables are the exact oracle).
  * Round16Spec additionally pins that STORAGE stays padded (raw parquet
  * read without char metadata shows the blanks).
  */
object Round16Queries {

  val all: Seq[Q] = Seq(

    // ---- q163: char at depth 2–3 — struct-in-struct, array-of-struct,
    //      map-value-of-struct — every leaf reads stripped ----
    Q("q163_char_deep_nested", (s, d) => {
      Tables.t(s, d, "nation").createOrReplaceTempView("q163_nation")
      s.sql("DROP TABLE IF EXISTS q163_deep")
      val loc = graft.tools.Tmp.dir("q163_deep") + "/t"
      s.sql(s"""CREATE TABLE q163_deep (
          k INT,
          ost STRUCT<inner: STRUCT<c: CHAR(16), n: INT>, tag: CHAR(6)>,
          arrst ARRAY<STRUCT<c2: CHAR(10)>>,
          mp MAP<STRING, STRUCT<mc: CHAR(12)>>)
        USING parquet LOCATION '$loc'""")
      s.sql("""INSERT OVERWRITE TABLE q163_deep
        SELECT CAST(n_nationkey AS INT),
               named_struct('inner',
                 named_struct('c', n_name, 'n', CAST(n_regionkey AS INT)),
                 'tag', substr(n_name, 1, 3)),
               array(named_struct('c2', substr(n_name, 1, 5))),
               map('a', named_struct('mc', substr(n_name, 1, 7)))
        FROM q163_nation""")
      s.sql("""SELECT k,
                      ost.inner.c AS c, CAST(length(ost.inner.c) AS INT) AS clen,
                      ost.tag AS tag, CAST(length(ost.tag) AS INT) AS taglen,
                      arrst[0].c2 AS c2, CAST(length(arrst[0].c2) AS INT) AS c2len,
                      mp['a'].mc AS mc, CAST(length(mp['a'].mc) AS INT) AS mclen
               FROM q163_deep""")
    },
      Some("""SELECT CAST(n_nationkey AS INT) AS k,
                     n_name AS c, CAST(length(n_name) AS INT) AS clen,
                     substr(n_name, 1, 3) AS tag,
                     CAST(length(substr(n_name, 1, 3)) AS INT) AS taglen,
                     substr(n_name, 1, 5) AS c2,
                     CAST(length(substr(n_name, 1, 5)) AS INT) AS c2len,
                     substr(n_name, 1, 7) AS mc,
                     CAST(length(substr(n_name, 1, 7)) AS INT) AS mclen
              FROM nation"""))
  )
}
