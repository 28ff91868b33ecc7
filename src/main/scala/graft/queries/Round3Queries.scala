package graft.queries

import graft.{Q, Tables}
import graft.operators.{Acid, AsOf, Dedup, Ranges, Sample, UniqueJoin}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{round => _, _}
import graft.queries.Fns.round

/** Round-3 sweep: the Avro source/sink (the last open §2.1 row), plus the
  * time-series / pipeline operators a training-data stack needs beyond the
  * reference surface — as-of join, scale-safe range join, deterministic
  * stratified sampling — and a gate for copy-on-write compaction.
  */
object Round3Queries {
  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  val all: Seq[Q] = Seq(

    // ---- Avro source/sink round-trip (reference: serde2/avro/AvroSerDe).
    //      Writes orders (+ a synthesized array column) to Avro container
    //      files through graft-avro, reads them back, and aggregates. All
    //      output columns are
    //      exact (counts, integer sums, min/max pass-throughs), so the gate
    //      proves date/timestamp/array/double fidelity through the Avro
    //      encoding with no float-arithmetic slack. ----
    Q("q111_avro_roundtrip", (s, d) => {
      val dir = graft.tools.Tmp.dir("graft_avro") + "/orders_avro"
      val src = t(s, d, "orders").filter(col("o_orderkey") < 500)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"),
          array(col("o_orderkey"), col("o_custkey")).as("ks"))
      src.write.format("graft-avro").mode("overwrite").save(dir)
      s.read.format("graft-avro").load(dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(element_at(col("ks"), 2)).as("sum_cust"),
          min("o_totalprice").as("min_price"),
          max("o_totalprice").as("max_price"),
          max("o_orderdate").as("max_date"))
    },
      Some("""SELECT o_orderstatus, count(*) AS n, CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
             max(o_orderdate) AS max_date
             FROM orders WHERE o_orderkey < 500 GROUP BY o_orderstatus""")),

    // ---- as-of join: each click picks up the value of the user's most
    //      recent purchase at-or-before click time. One shuffle (union +
    //      window), no nested-loop — see AsOf.scala. DuckDB's native ASOF
    //      LEFT JOIN is the oracle, so the >= tie semantics are pinned. ----
    Q("q112_asof_join", (s, d) => {
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max("value").as("pval"))
      AsOf.join(clicks, purchases, "user_id", "ts", "ts", Seq("pval"))
    },
      Some("""WITH clicks AS (SELECT event_id, user_id, ts FROM events
                              WHERE event_type = 'click'),
              pur AS (SELECT user_id, ts, max(value) AS pval FROM events
                      WHERE event_type = 'purchase' GROUP BY user_id, ts)
             SELECT c.event_id, c.user_id, c.ts, p.pval
             FROM clicks c ASOF LEFT JOIN pur p
               ON c.user_id = p.user_id AND c.ts >= p.ts""")),

    // ---- range join via value binning: purchase amounts against part
    //      price bands, WITHOUT an equi-key. The operator rewrites the
    //      inequality join as bin-equi-join + residual filter (Ranges.scala)
    //      so the plan is a hash join, not a nested loop — Round3Spec pins
    //      that. Output columns are integers only: bitwise-safe. ----
    Q("q113_range_join", (s, d) => {
      val pts = t(s, d, "events").filter(col("event_type") === "purchase")
        .select(col("event_id"), (col("value") * 4).as("v"))
      val iv = t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey"), (col("p_retailprice") - 2).as("lo"),
          (col("p_retailprice") + 2).as("hi"))
      Ranges.pointInInterval(pts, "v", iv, "lo", "hi", binWidth = 5.0)
        .select("event_id", "p_partkey")
    },
      Some("""SELECT e.event_id, p.p_partkey
             FROM events e JOIN part p
               ON e.value * 4 >= p.p_retailprice - 2
              AND e.value * 4 <= p.p_retailprice + 2
             WHERE e.event_type = 'purchase' AND p.p_partkey <= 200""")),

    // ---- deterministic stratified sampling: content-hash (md5) quota per
    //      stratum — reproducible on any engine/partitioning, which is
    //      exactly why it CAN be oracled while seeded-RNG sampling (q43)
    //      cannot. Zero-shuffle narrow op. ----
    Q("q114_stratified_sample", (s, d) =>
      Sample.stratified(t(s, d, "events"), col("event_type"), col("event_id"),
        Map("click" -> 0.25, "view" -> 0.5, "purchase" -> 1.0, "signup" -> 0.125))
        .select("event_id", "event_type", "user_id"),
      Some("""SELECT event_id, event_type, user_id FROM events
             WHERE CASE event_type
                     WHEN 'click' THEN substr(md5(CAST(event_id AS VARCHAR)),1,2) < '40'
                     WHEN 'view' THEN substr(md5(CAST(event_id AS VARCHAR)),1,2) < '80'
                     WHEN 'purchase' THEN TRUE
                     WHEN 'signup' THEN substr(md5(CAST(event_id AS VARCHAR)),1,2) < '20'
                     ELSE FALSE END""")),

    // ---- copy-on-write compaction (reference: ql/txn/compactor/Worker):
    //      8 small files in, 2 files out, byte-identical content. The file
    //      count is pinned in Round3Spec; the oracle pins content. ----
    Q("a04_compact", (s, d) => {
      val tbl = graft.tools.Tmp.dir("graft_compact") + "/orders"
      t(s, d, "orders").filter(col("o_orderkey") < 1000)
        .repartition(8).write.mode("overwrite").parquet(tbl)
      Acid.compact(s, tbl, 2)
      s.read.parquet(tbl).select("o_orderkey", "o_orderstatus", "o_totalprice")
    },
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice
             FROM orders WHERE o_orderkey < 1000""")),

    // ---- Avro as a registered DataSource V2 format (parity with the
    //      reference's AvroStorageFormatDescriptor registration): write +
    //      read through spark.read.format("graft-avro"), column pruning
    //      pushed into Avro schema resolution (Round3Spec pins the pruned
    //      ReadSchema in the plan). ----
    Q("q117_avro_dsv2", (s, d) => {
      val dir = graft.tools.Tmp.dir("graft_avro_v2") + "/orders_v2"
      t(s, d, "orders").filter(col("o_orderkey") < 800)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
        .write.format("graft-avro").mode("overwrite").save(dir)
      s.read.format("graft-avro").load(dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum("o_custkey").as("sum_cust"),
          max("o_orderdate").as("max_date"))
    },
      Some("""SELECT o_orderstatus, count(*) AS n, CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             max(o_orderdate) AS max_date
             FROM orders WHERE o_orderkey < 800 GROUP BY o_orderstatus""")),

    // ---- STORED AS SEQUENCEFILE round-trip (HiveSequenceFileOutputFormat +
    //      LazySimpleSerDe layout: \x01 separators, \N nulls, ignored key).
    //      Written and read through graft-seq with the declared schema a
    //      Hive table carries. ----
    Q("q115_sequencefile", (s, d) => {
      val dir = graft.tools.Tmp.dir("graft_seq") + "/nation_seq"
      t(s, d, "nation").select("n_nationkey", "n_name", "n_regionkey")
        .write.format("graft-seq").mode("overwrite").save(dir)
      s.read.format("graft-seq")
        .schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT").load(dir)
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("n"), max("n_name").as("max_name"))
    },
      Some("""SELECT n_regionkey, count(*) AS n, max(n_name) AS max_name
             FROM nation GROUP BY n_regionkey""")),

    // ---- UNIQUEJOIN (HiveParser KW_UNIQUEJOIN / JoinDesc.UNIQUE_JOIN):
    //      PRESERVE customer- and supplier-side per-nation aggregates; the
    //      (filtered) nation table is NOT preserved, so its exclusive keys
    //      drop out while preserved unmatched keys survive with NULLs —
    //      which is why the oracle is FULL JOIN + LEFT JOIN. ----
    Q("q116_uniquejoin", (s, d) => {
      val c = t(s, d, "customer").filter(col("c_custkey") < 500)
        .groupBy("c_nationkey").agg(count(lit(1)).as("nc"))
      val sup = t(s, d, "supplier").filter(col("s_suppkey") < 30)
        .groupBy("s_nationkey").agg(count(lit(1)).as("ns"))
      val n = t(s, d, "nation").filter(col("n_nationkey") < 20)
        .select("n_nationkey", "n_name")
      UniqueJoin(Seq(
        (c, col("c_nationkey"), true),
        (sup, col("s_nationkey"), true),
        (n, col("n_nationkey"), false)))
        .select(col("k").cast("long").as("k"), col("nc"), col("ns"), col("n_name"))
    },
      Some("""WITH c AS (SELECT c_nationkey AS ck, count(*) AS nc FROM customer
                         WHERE c_custkey < 500 GROUP BY 1),
              s AS (SELECT s_nationkey AS sk, count(*) AS ns FROM supplier
                    WHERE s_suppkey < 30 GROUP BY 1),
              n AS (SELECT n_nationkey AS nk, n_name FROM nation
                    WHERE n_nationkey < 20)
             SELECT CAST(COALESCE(ck, sk) AS BIGINT) AS k, nc, ns, n_name
             FROM c FULL JOIN s ON ck = sk
                    LEFT JOIN n ON COALESCE(ck, sk) = nk""")),

    // ---- Gopher-style document quality rules (beyond-reference pipeline
    //      op): mean word length band, stopword floor, alpha-word ratio —
    //      the heuristic battery large-corpus curation applies before
    //      training. All metrics exact-arithmetic; shared split semantics
    //      with the d06 chain. ----
    // ---- MSCK REPAIR TABLE (DDLTask partition discovery): files land in
    //      hive-style partition dirs OUTSIDE the catalog's knowledge; the
    //      repair scan registers them. ----
    Q("q120_msck_repair", (s, d) => {
      val base = graft.tools.Tmp.dir("graft_msck") + "/t"
      val n = t(s, d, "nation")
      // simulate externally-landed partition files (no catalog involvement)
      n.filter(col("n_regionkey") <= 1).select("n_nationkey", "n_name")
        .write.parquet(base + "/p=0")
      n.filter(col("n_regionkey") > 1).select("n_nationkey", "n_name")
        .write.parquet(base + "/p=1")
      s.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
      s.sql("DROP TABLE IF EXISTS graft_tmp.msck_t")
      s.sql(s"""CREATE TABLE graft_tmp.msck_t (n_nationkey BIGINT, n_name STRING)
               USING parquet PARTITIONED BY (p INT) LOCATION '$base'""")
      s.sql("MSCK REPAIR TABLE graft_tmp.msck_t")
      s.sql("""SELECT p, count(*) AS n, max(n_name) AS max_name
              FROM graft_tmp.msck_t GROUP BY p""")
    },
      Some("""SELECT CASE WHEN n_regionkey <= 1 THEN 0 ELSE 1 END AS p,
             count(*) AS n, max(n_name) AS max_name
             FROM nation GROUP BY 1""")),

    // ---- SHOW PARTITIONS over a discovered partitioned table ----
    Q("q122_show_partitions", (s, d) => {
      val base = graft.tools.Tmp.dir("graft_showpart") + "/t"
      val n = t(s, d, "nation")
      n.filter(col("n_regionkey") <= 1).select("n_nationkey")
        .write.parquet(base + "/p=0")
      n.filter(col("n_regionkey") > 1).select("n_nationkey")
        .write.parquet(base + "/p=1")
      s.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
      s.sql("DROP TABLE IF EXISTS graft_tmp.showpart_t")
      s.sql(s"""CREATE TABLE graft_tmp.showpart_t (n_nationkey BIGINT)
               USING parquet PARTITIONED BY (p INT) LOCATION '$base'""")
      s.sql("MSCK REPAIR TABLE graft_tmp.showpart_t")
      s.sql("SHOW PARTITIONS graft_tmp.showpart_t")
    },
      Some("SELECT 'p=0' AS partition UNION ALL SELECT 'p=1'")),

    // ---- INSERT INTO ... VALUES + INSERT INTO ... SELECT (DML surface,
    //      reference grammar HiveParser.g insert clauses) ----
    Q("a05_insert_values", (s, d) => {
      Tables.views(s, d, "nation")
      val loc = graft.tools.Tmp.dir("graft_insv") + "/t"
      s.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
      s.sql("DROP TABLE IF EXISTS graft_tmp.insv")
      s.sql(s"CREATE TABLE graft_tmp.insv (k BIGINT, v STRING) USING parquet LOCATION '$loc'")
      s.sql("INSERT INTO graft_tmp.insv VALUES (100, 'alpha'), (101, 'beta')")
      s.sql("INSERT INTO graft_tmp.insv SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 3")
      s.sql("SELECT k, v FROM graft_tmp.insv")
    },
      Some("""SELECT CAST(100 AS BIGINT) AS k, 'alpha' AS v
             UNION ALL SELECT 101, 'beta'
             UNION ALL SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 3""")),

    // ---- named WINDOW clause (SQL-text window sharing, grammar
    //      parse/HiveParser.g window_clause) ----
    Q("q121_named_window", (s, d) => {
      Tables.views(s, d, "orders")
      s.sql("""SELECT o_orderkey,
                      CAST(rank() OVER w AS BIGINT) AS rk,
                      sum(o_custkey) OVER w2 AS cust_sum
               FROM orders WHERE o_orderkey < 200
               WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey),
                      w2 AS (PARTITION BY o_orderstatus)""")
    },
      Some("""SELECT o_orderkey, rank() OVER w AS rk, CAST(sum(o_custkey) OVER w2 AS BIGINT) AS cust_sum
             FROM orders WHERE o_orderkey < 200
             WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey),
                    w2 AS (PARTITION BY o_orderstatus)""")),

    // ---- scalar-function registry stragglers, sweep 4 (data-driven):
    //      sha2/base64 round-trip/factorial/cbrt/rpad/substring_index/
    //      bit_length/width_bucket/bround. bround's half-even tie break is
    //      spelled out in the oracle (DuckDB rounds .5 away from zero);
    //      exact .5 is representable so the CASE is precise. ----
    Q("q118_funcs_gap2", (s, d) =>
      t(s, d, "customer").filter(col("c_custkey") <= 300)
        .select(col("c_custkey"),
          sha2(col("c_name").cast("binary"), 256).as("sha256_name"),
          unbase64(base64(col("c_name").cast("binary"))).cast("string").as("b64rt"),
          factorial((col("c_custkey") % 10).cast("int")).as("fact"),
          round(cbrt(col("c_custkey").cast("double")), 6).as("cbrt6"),
          rpad(col("c_mktsegment"), 12, "*").as("seg_pad"),
          substring_index(col("c_name"), "#", 1).as("name_head"),
          bit_length(col("c_mktsegment")).cast("long").as("seg_bits"),
          width_bucket((col("c_custkey") % 100).cast("double"), lit(0d), lit(100d), lit(4)).as("wb"),
          bround(col("c_acctbal")).as("bal_even")),
      Some("""SELECT c_custkey,
             sha256(c_name) AS sha256_name,
             CAST(from_base64(to_base64(encode(c_name))) AS VARCHAR) AS b64rt,
             CAST(factorial(CAST(c_custkey % 10 AS INTEGER)) AS BIGINT) AS fact,
             round(cbrt(CAST(c_custkey AS DOUBLE)) * 1000000) / 1000000 AS cbrt6,
             rpad(c_mktsegment, 12, '*') AS seg_pad,
             array_to_string(string_split(c_name, '#')[1:1], '#') AS name_head,
             CAST(bit_length(c_mktsegment) AS BIGINT) AS seg_bits,
             CAST(FLOOR((c_custkey % 100) / 25) + 1 AS BIGINT) AS wb,
             CASE WHEN c_acctbal - floor(c_acctbal) = 0.5
                  THEN CASE WHEN CAST(floor(c_acctbal) AS BIGINT) % 2 = 0
                            THEN floor(c_acctbal) ELSE floor(c_acctbal) + 1 END
                  ELSE round(c_acctbal) END AS bal_even
             FROM customer WHERE c_custkey <= 300""")),

    // ---- digest functions DuckDB lacks (sha1/crc32/soundex), gated
    //      against published test vectors; months_between on literal dates
    //      (DuckDB has no fractional month arithmetic). ----
    Q("q119_hash_vectors", (s, _) =>
      s.sql("""SELECT * FROM VALUES (1,'abc','Robert'), (2,'hello world','Smith'),
               (3,'Spark SQL','Miller') AS t(id, txt, nm)""")
        .select(col("id").cast("long").as("id"),
          sha1(col("txt").cast("binary")).as("sha1_hex"),
          crc32(col("txt").cast("binary")).as("crc"),
          md5(col("txt").cast("binary")).as("md5_hex"),
          soundex(col("nm")).as("sdx"),
          months_between(lit(java.sql.Date.valueOf("2024-07-15")),
            lit(java.sql.Date.valueOf("2024-01-15"))).as("mb")),
      Some("""SELECT * FROM (VALUES
             (CAST(1 AS BIGINT), 'a9993e364706816aba3e25717850c26c9cd0d89d',
              CAST(891568578 AS BIGINT), '900150983cd24fb0d6963f7d28e17f72', 'R163',
              CAST(6.0 AS DOUBLE)),
             (2, '2aae6c35c94fcfb415dbe95f408b9ce91ee846ed',
              222957957, '5eb63bbbe01eeed093cb22bb8f5acdc3', 'S530', 6.0),
             (3, '032e50ab7e1a2421a1515810b22938320751dce4',
              2521631539, '14ab8df5135825bc9f5ff7c30609f02f', 'M460', 6.0))
             AS t(id, sha1_hex, crc, md5_hex, sdx, mb)""")),

    // ---- benchmark decontamination (test-set leakage filter): documents
    //      sharing any 4-gram with the "benchmark" slice (doc_id >= 480)
    //      are dropped; broadcast semi/anti joins, zero corpus shuffle. ----
    Q("d07_decontaminate", (s, d) => {
      val all = t(s, d, "documents")
      Dedup.decontaminate(
        all.filter(col("doc_id") < 480).select("doc_id", "text", "source"),
        all.filter(col("doc_id") >= 480), n = 4)
        .select("doc_id", "source")
    },
      Some("""WITH d AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
              grams AS (SELECT doc_id,
                          array_to_string(list_slice(w, i, i+3), ' ') AS gram
                        FROM (SELECT doc_id, w,
                                unnest(range(1, greatest(len(w)-2, 1))) AS i
                              FROM d)),
              bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id >= 480),
              cont AS (SELECT DISTINCT g.doc_id FROM grams g
                       JOIN bench b USING (gram) WHERE g.doc_id < 480)
             SELECT doc_id, source FROM documents
             WHERE doc_id < 480 AND doc_id NOT IN (SELECT doc_id FROM cont)""")),

    Q("t08_gopher_rules", (s, d) =>
      t(s, d, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars2"),
          size(split(col("text"), " ")).cast("long").as("n_words"),
          expr("size(filter(split(text,' '), w -> w IN ('the','and','of','to','a')))")
            .cast("long").as("stop_cnt"),
          // purely-lowercase-alpha test WITHOUT a per-word regex: strip
          // every [a-z] via translate and require nothing remains — the
          // same predicate as rlike '^[a-z]+$' but a codegen'd byte loop
          // instead of a java.util.regex Matcher per word (t08 ran 2.8×
          // the reference baseline with the regex form)
          expr("size(filter(split(text,' '), w -> w <> '' AND " +
            "translate(w, 'abcdefghijklmnopqrstuvwxyz', '') = ''))")
            .cast("long").as("alpha_cnt"))
        // mean word length over single-space text = (chars - (n-1)) / n;
        // multiply-round-divide keeps the double oracle-stable (Fns.round)
        .withColumn("mean_word_len",
          round((col("n_chars2") - col("n_words") + lit(1)).cast("double") / col("n_words"), 2))
        .withColumn("pass",
          col("mean_word_len").between(3.0, 10.0) &&
            col("stop_cnt") >= 1 &&
            (col("alpha_cnt").cast("double") / col("n_words")) >= 0.5)
        .drop("n_chars2"),
      Some("""SELECT doc_id,
             len(string_split(text,' ')) AS n_words,
             len(list_filter(string_split(text,' '),
                 w -> w IN ('the','and','of','to','a'))) AS stop_cnt,
             len(list_filter(string_split(text,' '),
                 w -> regexp_full_match(w, '^[a-z]+$'))) AS alpha_cnt,
             round((length(text) - len(string_split(text,' ')) + 1)
                   / len(string_split(text,' ')) * 100) / 100 AS mean_word_len,
             (round((length(text) - len(string_split(text,' ')) + 1)
                    / len(string_split(text,' ')) * 100) / 100 BETWEEN 3.0 AND 10.0)
               AND len(list_filter(string_split(text,' '),
                       w -> w IN ('the','and','of','to','a'))) >= 1
               AND (CAST(len(list_filter(string_split(text,' '),
                        w -> regexp_full_match(w, '^[a-z]+$'))) AS DOUBLE)
                    / len(string_split(text,' '))) >= 0.5 AS pass
             FROM documents WHERE doc_id < 300""")))
}

