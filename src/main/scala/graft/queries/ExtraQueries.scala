package graft.queries

import graft.{Q, Tables}
import graft.functions.NGrams
import graft.operators.{MatchPath, MultiInsert}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{round => _, _}
import graft.queries.Fns.round

/** Second coverage sweep: lateral-view-outer, remaining UDTFs (stack,
  * json_tuple), parse_url / str_to_map, conditional + hex/bin function
  * surface, CLUSTER BY, multi-insert fan-out, catalog DDL + ANALYZE,
  * bucketed-table joins, complex-type construction/access, char n-grams,
  * keep-first dedup, approx aggregates, the custom ngrams UDAF + field
  * expression, MatchPath, and Hive script TRANSFORM.
  */
object ExtraQueries {
  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  val all: Seq[Q] = Seq(
    // ---- LATERAL VIEW OUTER (explode_outer keeps empty-array rows) ----
    Q("q48_lateral_outer", (s, d) =>
      t(s, d, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"),
          explode_outer(when(col("doc_id") % 2 === 0, split(col("text"), " "))
            .otherwise(array().cast("array<string>"))).as("w")),
      Some("""SELECT doc_id, unnest(CASE WHEN len(xs)=0 THEN [NULL] ELSE xs END) AS w
             FROM (SELECT doc_id,
                     CASE WHEN doc_id%2=0 THEN string_split(text,' ')
                          ELSE [] END AS xs
                   FROM documents WHERE doc_id < 50)""")),

    // ---- stack UDTF ----
    Q("q49_stack", (s, d) => {
      Tables.views(s, d, "orders")
      s.sql("""SELECT o_orderkey,
              stack(2, 'status', o_orderstatus, 'prio', o_orderpriority) AS (k, v)
              FROM orders WHERE o_orderkey < 50""")
    },
      Some("""SELECT o_orderkey, 'status' AS k, o_orderstatus AS v FROM orders WHERE o_orderkey < 50
             UNION ALL
             SELECT o_orderkey, 'prio' AS k, o_orderpriority AS v FROM orders WHERE o_orderkey < 50""")),

    // ---- json_tuple UDTF (missing key → null) ----
    Q("q50_json_tuple", (s, d) =>
      t(s, d, "events").filter(col("event_id") < 500)
        .select(col("event_id"),
          json_tuple(col("props"), "k", "missing").as(Seq("k", "missing"))),
      Some("""SELECT event_id, json_extract_string(props,'$.k') AS k,
             json_extract_string(props,'$.missing') AS missing
             FROM events WHERE event_id < 500""")),

    // ---- parse_url family ----
    Q("q51_parse_url", (s, d) =>
      t(s, d, "documents").filter(col("doc_id") < 100)
        .withColumn("url", concat(lit("https://"), col("source"),
          lit(".example.com/docs/"), col("doc_id").cast("string"),
          lit("?lang="), col("lang")))
        .select(col("doc_id"),
          expr("parse_url(url, 'HOST')").as("host"),
          expr("parse_url(url, 'PATH')").as("path"),
          expr("parse_url(url, 'QUERY', 'lang')").as("qlang")),
      Some("""SELECT doc_id, source || '.example.com' AS host,
             '/docs/' || CAST(doc_id AS VARCHAR) AS path, lang AS qlang
             FROM documents WHERE doc_id < 100""")),

    // ---- str_to_map ----
    Q("q52_str_to_map", (s, d) =>
      t(s, d, "documents").filter(col("doc_id") < 100)
        .withColumn("kv", concat(lit("id:"), col("doc_id").cast("string"),
          lit(",lang:"), col("lang")))
        .withColumn("m", expr("str_to_map(kv, ',', ':')"))
        .select(col("doc_id"),
          element_at(col("m"), "lang").as("m_lang"),
          element_at(col("m"), "id").cast("long").as("m_id")),
      Some("""SELECT doc_id, lang AS m_lang, doc_id AS m_id
             FROM documents WHERE doc_id < 100""")),

    // ---- conditional surface: nullif/coalesce/greatest/least/case ----
    Q("q53_conditional", (s, d) =>
      t(s, d, "orders").filter(col("o_orderkey") < 200)
        .select(col("o_orderkey"),
          coalesce(expr("nullif(o_orderstatus, 'O')"), lit("OPEN")).as("status2"),
          greatest(col("o_totalprice"), lit(100000.0)).as("g"),
          least(col("o_totalprice"), lit(100000.0)).as("l"),
          when(col("o_totalprice") > 250000, "big").otherwise("small").as("sz")),
      Some("""SELECT o_orderkey, coalesce(nullif(o_orderstatus,'O'),'OPEN') AS status2,
             greatest(o_totalprice, 100000.0) AS g, least(o_totalprice, 100000.0) AS l,
             CASE WHEN o_totalprice > 250000 THEN 'big' ELSE 'small' END AS sz
             FROM orders WHERE o_orderkey < 200""")),

    // ---- hex / bin ----
    Q("q54_hex_bin", (s, d) =>
      t(s, d, "orders").filter(col("o_orderkey") < 300)
        .select(col("o_orderkey"),
          hex(col("o_orderkey")).as("hx"),
          bin(col("o_orderkey")).as("bn")),
      Some("""SELECT o_orderkey, hex(o_orderkey) AS hx, bin(o_orderkey) AS bn
             FROM orders WHERE o_orderkey < 300""")),

    // ---- CLUSTER BY = DISTRIBUTE BY + SORT BY (ReduceSinkOperator modes);
    //      result is the same multiset, layout is per-partition sorted ----
    Q("q55_cluster_by", (s, d) =>
      t(s, d, "lineitem").filter(col("l_orderkey") < 100)
        .repartition(col("l_returnflag"))
        .sortWithinPartitions("l_returnflag", "l_orderkey")
        .select("l_orderkey", "l_linenumber", "l_returnflag"),
      Some("""SELECT l_orderkey, l_linenumber, l_returnflag
             FROM lineitem WHERE l_orderkey < 100""")),

    // ---- multi-insert fan-out: one cached scan, two sinks, read back ----
    Q("q56_multi_insert", (s, d) => {
      val base = graft.tools.Tmp.dir("graft_mi")
      MultiInsert.fanOut(t(s, d, "orders"), Seq(
        s"$base/high" -> ((df: org.apache.spark.sql.DataFrame) =>
          df.filter(col("o_totalprice") > 300000).select("o_orderkey", "o_custkey")),
        s"$base/low" -> ((df: org.apache.spark.sql.DataFrame) =>
          df.filter(col("o_totalprice") < 2000).select("o_orderkey", "o_custkey"))))
      s.read.parquet(s"$base/high").select(lit("high").as("seg"), col("o_orderkey"))
        .unionAll(s.read.parquet(s"$base/low").select(lit("low").as("seg"), col("o_orderkey")))
    },
      Some("""SELECT 'high' AS seg, o_orderkey FROM orders WHERE o_totalprice > 300000
             UNION ALL
             SELECT 'low' AS seg, o_orderkey FROM orders WHERE o_totalprice < 2000""")),

    // ---- catalog DDL: CREATE DATABASE/TABLE (CTAS), ANALYZE, query back ----
    Q("q57_ddl_catalog", (s, d) => {
      Tables.views(s, d, "region")
      s.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
      s.sql("DROP TABLE IF EXISTS graft_tmp.region_copy")
      // explicit fresh location: the warehouse dir outlives the session's
      // in-memory catalog, so a managed CTAS would collide on re-runs
      val loc = graft.tools.Tmp.dir("graft_ddl")
      s.sql(s"CREATE TABLE graft_tmp.region_copy USING parquet LOCATION '$loc/region_copy' AS SELECT * FROM region")
      s.sql("ANALYZE TABLE graft_tmp.region_copy COMPUTE STATISTICS FOR ALL COLUMNS")
      s.sql("SELECT r_regionkey, r_name FROM graft_tmp.region_copy")
    },
      Some("SELECT r_regionkey, r_name FROM region")),

    // ---- bucketed tables: CLUSTERED BY ... INTO n BUCKETS; co-bucketed
    //      join elides the shuffle (SMB join parity) ----
    Q("q58_bucketed_join", (s, d) => {
      s.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
      s.sql("DROP TABLE IF EXISTS graft_tmp.orders_bkt")
      s.sql("DROP TABLE IF EXISTS graft_tmp.customer_bkt")
      // external (explicit fresh path) so disk state from prior sessions
      // can't collide with this session's catalog
      val loc = graft.tools.Tmp.dir("graft_bkt")
      // r17: the two bucketed-table builds are independent jobs over
      // different sources into different tables — overlap them (guide
      // §2.6) so the small customer write back-fills the orders write's
      // task tail. r18: shared bounded pool, all builds settled before
      // the first failure rethrows
      graft.tools.Pools.runAll(Seq(
        () => t(s, d, "orders").write.mode("overwrite")
          .option("path", s"$loc/orders_bkt")
          .bucketBy(8, "o_custkey").sortBy("o_custkey")
          .saveAsTable("graft_tmp.orders_bkt"),
        () => t(s, d, "customer").write.mode("overwrite")
          .option("path", s"$loc/customer_bkt")
          .bucketBy(8, "c_custkey").sortBy("c_custkey")
          .saveAsTable("graft_tmp.customer_bkt")))
      s.table("graft_tmp.orders_bkt")
        .join(s.table("graft_tmp.customer_bkt"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("tot"))
    },
      Some("""SELECT c_mktsegment, count(*) AS n, round(sum(o_totalprice),2) AS tot
             FROM orders JOIN customer ON o_custkey = c_custkey
             GROUP BY c_mktsegment""")),

    // ---- complex types: map/struct/array build + access ----
    Q("q59_complex_types", (s, d) =>
      t(s, d, "orders").filter(col("o_orderkey") < 100)
        .select(col("o_orderkey"),
          element_at(map(lit("status"), col("o_orderstatus"),
            lit("prio"), col("o_orderpriority")), "status").as("m_status"),
          struct(col("o_custkey").as("ck"), col("o_totalprice").as("tp"))
            .getField("ck").as("s_ck"),
          sort_array(array(col("o_orderstatus"), col("o_orderpriority")))
            .getItem(0).as("arr0"),
          array_contains(array(col("o_orderstatus"), lit("X")), "X").as("has_x")),
      Some("""SELECT o_orderkey, o_orderstatus AS m_status, o_custkey AS s_ck,
             least(o_orderstatus, o_orderpriority) AS arr0, true AS has_x
             FROM orders WHERE o_orderkey < 100""")),

    // ---- character 3-gram shingles (text fingerprinting building block) ----
    Q("q60_char_ngrams", (s, d) =>
      t(s, d, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"),
          explode(expr("transform(sequence(1, length(text)-2), i -> substring(text, i, 3))")).as("g"))
        .groupBy("doc_id")
        .agg(countDistinct("g").as("nd_3gram"), count(lit(1)).as("n_3gram")),
      Some("""SELECT doc_id, count(DISTINCT substring(text, CAST(i AS INT), 3)) AS nd_3gram,
             count(*) AS n_3gram
             FROM documents, unnest(range(1, length(text)-1)) t(i)
             WHERE doc_id < 100 GROUP BY doc_id""")),

    // ---- keep-first dedup via window rank (streaming-dedup analog) ----
    Q("q61_events_dedup_first", (s, d) => {
      val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
      t(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id").as("first_event"))
    },
      Some("""SELECT user_id, event_type, event_id AS first_event FROM (
               SELECT user_id, event_type, event_id,
                 row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
               FROM events) WHERE rn = 1""")),

    // ---- approx_count_distinct (HLL++; engine-specific → rows-only) ----
    // Bounded oracle: the HLL++ estimate itself is engine-specific, but
    // its documented error bound is not — the gate emits the EXACT NDV
    // plus a boolean asserting the estimate landed within 3x the
    // requested rsd (0.02 → 6%), and the oracle supplies exact + TRUE.
    // A broken sketch (or a broken bound) now fails the driver gate
    // instead of hiding behind no_oracle.
    // r17: pre-aggregate to the distinct (flag, partkey) pairs, then count
    // + sketch over that — replaces Catalyst's Expand-based rewrite for
    // mixed distinct/non-distinct aggregates (which doubles every input
    // row) with two plain hash aggregates, the first map-side partial.
    // Result-identical: count over distinct pairs IS the distinct count,
    // and HLL++ register updates are idempotent, so the sketch of a
    // de-duplicated column equals the sketch of the raw column bit for bit.
    Q("q62_approx_distinct", (s, d) =>
      t(s, d, "lineitem").select("l_returnflag", "l_partkey").distinct()
        .groupBy("l_returnflag")
        .agg(count("l_partkey").as("exact_nd"),
          approx_count_distinct("l_partkey", 0.02).as("approx_nd"))
        .select(col("l_returnflag"), col("exact_nd"),
          (abs(col("approx_nd") - col("exact_nd")) <=
            col("exact_nd") * 0.06).as("approx_ok")),
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_nd,
             TRUE AS approx_ok FROM lineitem GROUP BY l_returnflag""")),

    // ---- histogram_numeric (Hive UDAF, GenericUDAFHistogramNumeric.java;
    //      bin PLACEMENT is engine-specific, but the NC sketch's exact
    //      invariants are not: bin count = requested N, Σ heights = row
    //      count (merges only ever sum weights), centroids inside
    //      [min,max] and strictly increasing, every height positive.
    //      Bounded oracle (q62/q97 pattern): emit the exact statistics
    //      plus invariant booleans; oracle supplies exact + TRUE. ----
    Q("q63_histogram", (s, d) =>
      t(s, d, "lineitem")
        .agg(expr("histogram_numeric(l_quantity, 5)").as("h"),
          count(lit(1)).as("n_rows"),
          min("l_quantity").as("mn"), max("l_quantity").as("mx"))
        .select(
          size(col("h")).cast("long").as("n_bins"),
          col("n_rows"),
          expr("CAST(round(aggregate(h, 0D, (acc, b) -> acc + b.y)) AS BIGINT)")
            .as("sum_heights"),
          expr("forall(h, b -> b.x >= mn AND b.x <= mx)").as("in_range"),
          expr("forall(sequence(0, size(h)-2), i -> h[i].x < h[i+1].x)")
            .as("monotone"),
          expr("forall(h, b -> b.y > 0)").as("positive")),
      Some("""SELECT CAST(5 AS BIGINT) AS n_bins, count(*) AS n_rows,
             count(*) AS sum_heights, TRUE AS in_range, TRUE AS monotone,
             TRUE AS positive FROM lineitem""")),

    // ---- custom ngrams UDAF (top-k bigrams; same oracle as q44) ----
    Q("q64_ngrams_udaf", (s, d) =>
      t(s, d, "documents")
        .select(split(col("text"), " ").as("ws"))
        .agg(NGrams.ngrams(col("ws"), 2, 20).as("top"))
        .select(explode(col("top")).as("t"))
        .select(col("t.ngram").as("bigram"), col("t.freq").as("cnt")),
      Some("""WITH t AS (SELECT doc_id,
                 unnest(range(len(string_split(text,' ')))) AS pos,
                 unnest(string_split(text,' ')) AS word
               FROM documents),
              b AS (SELECT a.word || ' ' || c.word AS bigram
                    FROM t a JOIN t c ON a.doc_id = c.doc_id AND c.pos = a.pos + 1)
             SELECT bigram, count(*) AS cnt FROM b
             GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 20""")),

    // ---- MatchPath PTF: per-user click+ → purchase sequences ----
    Q("q65_matchpath", (s, d) => {
      val ev = t(s, d, "events")
      MatchPath.matchPath(s, ev,
        partitionCol = col("user_id"),
        ordA = unix_micros(col("ts")), ordB = col("event_id"),
        symbols = Seq('c' -> (col("event_type") === "click"),
          'p' -> (col("event_type") === "purchase")),
        pattern = "c+p")
        .groupBy("pk").agg(count(lit(1)).as("n_matches"))
    },
      Some("""WITH syms AS (
               SELECT CAST(user_id AS VARCHAR) AS pk,
                 string_agg(CASE event_type WHEN 'click' THEN 'c'
                                            WHEN 'purchase' THEN 'p'
                                            ELSE '_' END, '' ORDER BY ts, event_id) AS sstr
               FROM events GROUP BY user_id)
             SELECT pk, len(regexp_extract_all(sstr, 'c+p')) AS n_matches
             FROM syms WHERE len(regexp_extract_all(sstr, 'c+p')) > 0""")),

    // ---- custom `field` Catalyst expression (Hive UDFField) ----
    Q("q66_field", (s, d) => {
      t(s, d, "orders").filter(col("o_orderkey") < 200)
        .select(col("o_orderkey"),
          call_function("field", col("o_orderstatus"),
            lit("O"), lit("F"), lit("P")).cast("long").as("f"))
    },
      Some("""SELECT o_orderkey,
             CASE o_orderstatus WHEN 'O' THEN 1 WHEN 'F' THEN 2 WHEN 'P' THEN 3
                  ELSE 0 END AS f
             FROM orders WHERE o_orderkey < 200""")),

    // ---- Hive TRANSFORM ... USING 'script' (ScriptOperator) ----
    Q("q67_transform_script", (s, d) => {
      Tables.views(s, d, "orders")
      s.sql("""SELECT TRANSFORM(o_orderkey, o_orderstatus) USING 'cat' AS (k STRING, v STRING)
              FROM orders WHERE o_orderkey < 50""")
    },
      Some("""SELECT CAST(o_orderkey AS VARCHAR) AS k, o_orderstatus AS v
             FROM orders WHERE o_orderkey < 50"""))
  )
}
