package graft.queries

import graft.{Engine, Q, Tables}
import graft.operators.{Dedup, Multimodal, Similarity}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{round => _, _}
import graft.queries.Fns.round

/** Round-6 sweep: the last DDL holes — explicit partition lifecycle
  * (ALTER TABLE ADD/DROP PARTITION, RENAME TO), function discovery
  * (SHOW FUNCTIONS / DESCRIBE FUNCTION) — the no-WHERE DML forms, and a
  * NOT IN three-valued-logic pin against the oracle.
  */
object Round6Queries {
  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  val all: Seq[Q] = Seq(

    // ---- ALTER TABLE ADD/DROP PARTITION + RENAME TO (the reference's
    //      DDLTask.java:919 addPartitions + the alter-table family around
    //      HiveOperation.java:39-46; golden drop_partitions_filter.q).
    //      Explicit partition lifecycle: two partitions registered with
    //      external LOCATIONs, one dropped, the table renamed, then a
    //      partition-filtered read-back that must prune to the surviving
    //      partition directory. All statements run through spark.sql —
    //      Spark SQL parses and executes them natively on datasource
    //      tables, which is the point: catalog DDL is the catalog's job. ----
    Q("a11_partition_ddl", (s, d) => {
      val base = graft.tools.Tmp.dir("graft_pddl")
      val n = t(s, d, "nation")
      n.filter(col("n_regionkey") <= 1).select("n_nationkey", "n_name")
        .write.mode("overwrite").parquet(base + "/ext0")
      n.filter(col("n_regionkey") === 2).select("n_nationkey", "n_name")
        .write.mode("overwrite").parquet(base + "/ext2")
      s.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
      s.sql("DROP TABLE IF EXISTS graft_tmp.pddl_t")
      s.sql("DROP TABLE IF EXISTS graft_tmp.pddl_renamed")
      // pre-create the (empty) table dir: Spark's source-resolution probe
      // logs a noisy FileNotFoundException for missing LOCATIONs otherwise
      new java.io.File(base + "/tbl").mkdirs()
      s.sql(s"""CREATE TABLE graft_tmp.pddl_t (n_nationkey INT, n_name STRING)
               USING parquet PARTITIONED BY (p INT) LOCATION '$base/tbl'""")
      s.sql(s"ALTER TABLE graft_tmp.pddl_t ADD PARTITION (p=0) LOCATION '$base/ext0'")
      s.sql(s"ALTER TABLE graft_tmp.pddl_t ADD IF NOT EXISTS PARTITION (p=2) LOCATION '$base/ext2'")
      s.sql("ALTER TABLE graft_tmp.pddl_t DROP PARTITION (p=2)")
      s.sql("ALTER TABLE graft_tmp.pddl_t RENAME TO graft_tmp.pddl_renamed")
      s.table("graft_tmp.pddl_renamed").filter(col("p") === 0)
        .select("n_nationkey", "n_name", "p")
    },
      Some("""SELECT n_nationkey, n_name, 0 AS p
             FROM nation WHERE n_regionkey <= 1""")),

    // ---- UPDATE / DELETE without WHERE (UpdateDeleteSemanticAnalyzer
    //      accepts the no-predicate forms: rewrite/drop every row). The
    //      update table reads back mutated in full; the deleted table
    //      reads back as a zero count. ----
    Q("a12_dml_no_where", (s, d) => {
      val base = graft.tools.Tmp.dir("graft_nw")
      t(s, d, "supplier").select("s_suppkey", "s_acctbal")
        .repartition(3)
        .write.mode("overwrite").parquet(base + "/sup")
      t(s, d, "nation").select("n_nationkey")
        .write.mode("overwrite").parquet(base + "/nat")
      s.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
      s.sql("DROP TABLE IF EXISTS graft_tmp.nw_sup")
      s.sql("DROP TABLE IF EXISTS graft_tmp.nw_nat")
      s.sql(s"""CREATE TABLE graft_tmp.nw_sup (s_suppkey BIGINT, s_acctbal DOUBLE)
               USING parquet LOCATION '$base/sup'""")
      s.sql(s"""CREATE TABLE graft_tmp.nw_nat (n_nationkey INT)
               USING parquet LOCATION '$base/nat'""")
      s.sql("UPDATE graft_tmp.nw_sup SET s_acctbal = round(s_acctbal * 2 * 100) / 100")
      s.sql("DELETE FROM graft_tmp.nw_nat")
      s.table("graft_tmp.nw_sup")
        .select(col("s_suppkey").as("k"), col("s_acctbal").as("v"))
        .unionByName(s.table("graft_tmp.nw_nat")
          .agg(count(lit(1)).as("k")).select(col("k"), lit(-1.0).as("v")))
    },
      Some("""SELECT s_suppkey AS k, round(s_acctbal * 2 * 100) / 100 AS v
             FROM supplier
             UNION ALL SELECT 0 AS k, -1.0 AS v""")),

    // ---- DROP PARTITION with comparison filters (DDLTask.dropPartitions;
    //      golden drop_partitions_filter.q): Spark's parser only accepts
    //      exact `=` specs, so the front end expands the filtered form from a
    //      catalog listing (metadata-sized, no data scan) into native
    //      exact drops. Two statements: a range drop and a union of a
    //      != filter group with an exact group. ----
    Q("a13_drop_partitions_filter", (s, d) => {
      val base = graft.tools.Tmp.dir("graft_dpf")
      s.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
      s.sql("DROP TABLE IF EXISTS graft_tmp.dpf_t")
      new java.io.File(base + "/tbl").mkdirs()
      s.sql(s"""CREATE TABLE graft_tmp.dpf_t (n_nationkey INT, n_name STRING)
               USING parquet PARTITIONED BY (rk INT) LOCATION '$base/tbl'""")
      t(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey").as("rk"))
        .write.insertInto("graft_tmp.dpf_t")
      s.sql("ALTER TABLE graft_tmp.dpf_t DROP PARTITION (rk < 2)")
      s.sql("ALTER TABLE graft_tmp.dpf_t DROP IF EXISTS PARTITION (rk != 3), PARTITION (rk = 2)")
      s.table("graft_tmp.dpf_t").select("n_nationkey", "n_name", "rk")
    },
      Some("""SELECT n_nationkey, n_name, n_regionkey AS rk
             FROM nation WHERE n_regionkey = 3""")),

    // ---- TRUNCATE TABLE [PARTITION] (DDLTask truncateTable): whole-table
    //      truncate empties the managed table; partition-spec truncate
    //      empties only that partition's files. ----
    Q("q133_truncate", (s, d) => {
      val whBase = graft.tools.Tmp.dir("graft_trwh")
      s.sql("DROP DATABASE IF EXISTS graft_tr CASCADE")
      s.sql(s"CREATE DATABASE graft_tr LOCATION '$whBase'")
      // r18: the f and p table programs (create → load → TRUNCATE) touch
      // distinct tables and are fully independent — overlap them (guide
      // §2.6; profiled: the two insertInto write jobs own ~620 ms of the
      // row's ~1.1 s, catalog ops 25-55 ms each). Statement order WITHIN
      // each branch is preserved; the catalog and the front end are
      // thread-safe (synchronized SessionCatalog / Auth state).
      graft.tools.Pools.runAll(Seq(
        () => {
          s.sql("CREATE TABLE graft_tr.f (s_suppkey BIGINT, s_name STRING) USING parquet")
          t(s, d, "supplier").select("s_suppkey", "s_name")
            .write.insertInto("graft_tr.f")
          s.sql("TRUNCATE TABLE graft_tr.f"): Unit
        },
        () => {
          s.sql("CREATE TABLE graft_tr.p (n_nationkey INT) USING parquet PARTITIONED BY (pk INT)")
          t(s, d, "nation").filter(col("n_regionkey") <= 1)
            .select(col("n_nationkey"), col("n_regionkey").as("pk"))
            .write.insertInto("graft_tr.p")
          s.sql("TRUNCATE TABLE graft_tr.p PARTITION (pk=0)"): Unit
        }))
      s.table("graft_tr.p")
        .select(col("n_nationkey").cast("long").as("k"), col("pk"))
        .unionByName(s.table("graft_tr.f")
          .agg(count(lit(1)).as("k")).select(col("k"), lit(-1).as("pk")))
    },
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS k, 1 AS pk
             FROM nation WHERE n_regionkey = 1
             UNION ALL SELECT 0, -1""")),

    // ---- SHOW FUNCTIONS (DDLTask.java:407 showFunctions): a migrating
    //      user's first discovery command. Filtered to a fixed prefix so
    //      the row set is stable: the xpath family is pinned by the Spark
    //      version this engine builds against. ----
    Q("q130_show_functions", (s, d) =>
      Engine.sql(s, d, "SHOW FUNCTIONS LIKE 'xpath*'"),
      Some("""SELECT * FROM (VALUES ('xpath'), ('xpath_boolean'),
             ('xpath_double'), ('xpath_float'), ('xpath_int'), ('xpath_long'),
             ('xpath_number'), ('xpath_short'), ('xpath_string'))
             AS t(function)""")),

    // ---- DESCRIBE FUNCTION (DDLTask.java:377 describeFunction): name +
    //      implementing class, the two lines whose content this engine
    //      controls (usage text is Spark-version prose, excluded). ----
    Q("q131_describe_function", (s, d) =>
      Engine.sql(s, d, "DESCRIBE FUNCTION upper")
        .filter(col("function_desc").startsWith("Function:") ||
          col("function_desc").startsWith("Class:")),
      Some("""SELECT 'Function: upper' AS function_desc
             UNION ALL
             SELECT 'Class: org.apache.spark.sql.catalyst.expressions.Upper'""")),

    // ---- NOT IN with a nullable subquery column — the classic
    //      three-valued-logic trap (reference parse/QBSubQuery.java:42-57
    //      documents the rewrite hazards): one NULL in the subquery makes
    //      NOT IN unknowable for every non-member, so the 'nullable'
    //      branch must return ZERO rows while the NULL-free branch
    //      anti-joins normally. Pins Spark's null-aware anti-join against
    //      the oracle's standard semantics. ----
    Q("q132_not_in_null", (s, d) =>
      Engine.sql(s, d,
        """SELECT 'clean' AS tag, c_custkey FROM customer
           WHERE c_custkey < 60
             AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey < 30)
           UNION ALL
           SELECT 'nullable' AS tag, c_custkey FROM customer
           WHERE c_custkey < 60
             AND c_custkey NOT IN
               (SELECT CASE WHEN o_custkey >= 20 THEN NULL ELSE o_custkey END
                FROM orders WHERE o_custkey < 30)"""),
      Some("""SELECT 'clean' AS tag, c_custkey FROM customer
             WHERE c_custkey < 60
               AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey < 30)
             UNION ALL
             SELECT 'nullable' AS tag, c_custkey FROM customer
             WHERE c_custkey < 60
               AND c_custkey NOT IN
                 (SELECT CASE WHEN o_custkey >= 20 THEN NULL ELSE o_custkey END
                  FROM orders WHERE o_custkey < 30)""")),

    // ---- exact shared-span dedup (verbatim n-token span shared between
    //      two documents — what MinHash misses: a quoted paragraph inside
    //      otherwise-different documents). Equi-join on the gram with a
    //      document-frequency cap that simultaneously drops boilerplate
    //      spans and bounds the per-gram join fan-out (the skew guard). ----
    Q("d10_span_dedup", (s, d) =>
      Dedup.sharedSpanPairs(
        t(s, d, "documents").filter(col("doc_id") < 200), n = 10, maxDf = 20),
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS ws
                         FROM documents
                         WHERE doc_id < 200 AND len(string_split(text,' ')) >= 10),
              idx AS (SELECT doc_id, ws,
                        unnest(generate_series(1, len(ws)-9)) AS i FROM t),
              g AS (SELECT DISTINCT doc_id,
                      array_to_string(list_slice(ws, i, i+9), ' ') AS gram FROM idx),
              keep AS (SELECT gram FROM g GROUP BY gram HAVING count(*) <= 20),
              gk AS (SELECT g.doc_id, g.gram FROM g JOIN keep USING (gram))
             SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS n_shared
             FROM gk a JOIN gk b ON a.gram = b.gram AND a.doc_id < b.doc_id
             GROUP BY 1, 2""")),

    // ---- incremental dedup: a new crawl batch deduped AGAINST the
    //      existing corpus by a batch-vs-corpus MinHash band join. The
    //      corpus here is a filtered read, not a bare file scan, so it is
    //      signed per call as one unkeyed piece (no per-file index). Oracle
    //      = the exact batch-vs-corpus cross comparison the banding
    //      provably reproduces. ----
    Q("d11_dedup_incremental", (s, d) => {
      val docs = t(s, d, "documents")
      Dedup.dedupIncrement(
        corpus = docs.filter(col("doc_id") < 250),
        batch = docs.filter(col("doc_id") >= 250))
    },
      Some("""WITH ct AS (SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS w
                          FROM documents WHERE doc_id < 250),
              bt AS (SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS w
                     FROM documents WHERE doc_id >= 250),
              cs AS (SELECT doc_id, count(*) AS sz FROM ct GROUP BY 1),
              bs AS (SELECT doc_id, count(*) AS sz FROM bt GROUP BY 1),
              i AS (SELECT b.doc_id AS b_id, c.doc_id AS c_id, count(*) AS inter
                    FROM bt b JOIN ct c ON b.w = c.w GROUP BY 1, 2),
              dup AS (SELECT DISTINCT b_id FROM i
                      JOIN bs ON i.b_id = bs.doc_id
                      JOIN cs ON i.c_id = cs.doc_id
                      WHERE round(inter/(bs.sz + cs.sz - inter),4) >= 0.85)
             SELECT doc_id FROM documents
             WHERE doc_id >= 250 AND doc_id NOT IN (SELECT b_id FROM dup)""")),

    // ---- random-hyperplane LSH ANN: sign-bit signatures against 16
    //      planes, 8-bit bands, bucket equi-join for candidates, exact
    //      cosine rerank. The untrained-index alternative to IVF (s02);
    //      oracle mirrors the index logic bit for bit. ----
    Q("s07_ann_lsh", (s, d) => {
      val e = Similarity.prep(t(s, d, "embeddings"))
      Similarity.lshTopK(e, e.filter(col("vec_id") < 5),
        planes = e.filter(col("vec_id") >= 8 && col("vec_id") < 24),
        k = 5, bitsPerBand = 8)
    },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
              p AS (SELECT vec_id AS p_id, emb AS p_emb FROM e
                    WHERE vec_id >= 8 AND vec_id < 24),
              bits AS (SELECT v.vec_id, p.p_id,
                         CASE WHEN round(list_inner_product(v.emb, p.p_emb), 6) > 0
                              THEN '1' ELSE '0' END AS bit
                       FROM e v, p),
              bk AS (SELECT vec_id, CAST((p_id - 8) // 8 AS INT) AS band,
                       string_agg(bit, '' ORDER BY p_id) AS bucket
                     FROM bits GROUP BY 1, 2),
              cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id
                       FROM bk q JOIN bk c ON q.band = c.band AND q.bucket = c.bucket
                       WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id),
              scored AS (SELECT cand.q_id, cand.vec_id,
                           list_cosine_similarity(eq.emb, ec.emb) AS sim
                         FROM cand JOIN e eq ON cand.q_id = eq.vec_id
                                   JOIN e ec ON cand.vec_id = ec.vec_id),
              r AS (SELECT q_id, vec_id AS neighbor_id, round(sim,6) AS sim,
                      row_number() OVER (PARTITION BY q_id
                        ORDER BY sim DESC, vec_id) AS rn
                    FROM scored)
             SELECT q_id, neighbor_id, sim, rn FROM r WHERE rn <= 5""")),

    // ---- deterministic quality-weighted sampling: keep probability =
    //      the document's distinct-token ratio, decided by a multiplicative
    //      hash of doc_id (Knuth 2654435761) — reproducible importance
    //      resampling with zero shuffle, the downsampling step a pipeline
    //      runs between quality scoring and training. The hash reduces
    //      both factors mod 2^20 BEFORE multiplying (modularly identical:
    //      2654435761 % 1048576 = 489905) so the product stays < 2^40 and
    //      never overflows 64-bit for any doc_id — a raw doc_id * constant
    //      wraps at doc_id >= ~3.5e9, i.e. at corpus scale. ----
    Q("t11_weighted_sample", (s, d) =>
      t(s, d, "documents")
        .withColumn("quality",
          round(size(array_distinct(split(col("text"), " "))) /
            size(split(col("text"), " ")).cast("double"), 4))
        .withColumn("u",
          ((col("doc_id") % lit(1048576L)) * lit(489905L) % lit(1048576L))
            / lit(1048576.0))
        .filter(col("u") < col("quality"))
        .select(col("doc_id"), col("quality"), round(col("u"), 6).as("u")),
      Some("""SELECT doc_id,
             round(CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
                   / len(string_split(text,' ')), 4) AS quality,
             round((doc_id % 1048576 * 489905 % 1048576) / 1048576.0, 6) AS u
             FROM documents
             WHERE (doc_id % 1048576 * 489905 % 1048576) / 1048576.0 <
               round(CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
                     / len(string_split(text,' ')), 4)""")),

    // ---- audio metadata decode: synthetic but structurally complete
    //      RIFF/WAV containers parsed by a REAL little-endian chunk walk
    //      (fmt → PCM params, data → sample count); the oracle is the
    //      generator's closed form, so any parse bug (endianness, chunk
    //      padding, offset) breaks the hash match. ----
    Q("m04_wav_meta", (s, d) => {
      val media = Multimodal.synthWav(s, t(s, d, "documents"))
      Multimodal.decodeWavMeta(s, media).toDF()
        .select("doc_id", "mime", "channels", "sample_rate", "bits", "n_samples")
    },
      Some("""SELECT doc_id, 'audio/wav' AS mime,
             CAST(1 + doc_id % 2 AS BIGINT) AS channels,
             CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                  ELSE 32000 END AS BIGINT) AS sample_rate,
             CAST(16 AS BIGINT) AS bits,
             CAST((doc_id % 100) * 10 AS BIGINT) AS n_samples
             FROM documents""")),

    // ---- SHOW CREATE TABLE (DDLTask showCreateTable): the round-trip
    //      DDL a migrating user copies out of the old warehouse. Managed
    //      datasource tables print no LOCATION, so the statement is
    //      machine-independent; compared line by line. ----
    Q("q134_show_create_table", (s, d) => {
      s.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
      s.sql("DROP TABLE IF EXISTS graft_tmp.sct_t")
      s.sql("""CREATE TABLE graft_tmp.sct_t (k INT, v STRING)
              USING parquet PARTITIONED BY (p INT)
              TBLPROPERTIES ('owner_team'='data')""")
      Engine.sql(s, d, "SHOW CREATE TABLE graft_tmp.sct_t")
        .select(explode(split(col("createtab_stmt"), "\n")).as("line"))
        .filter(col("line") =!= "") // the statement ends with a newline
    },
      Some("""SELECT * FROM (VALUES
             ('CREATE TABLE spark_catalog.graft_tmp.sct_t ('),
             ('  k INT,'), ('  v STRING,'), ('  p INT)'),
             ('USING parquet'), ('PARTITIONED BY (p)'),
             ('TBLPROPERTIES ('), ('  ''owner_team'' = ''data'')'))
             AS t(line)""")),

    // ---- SHOW COLUMNS / SHOW TBLPROPERTIES / DESCRIBE DATABASE — the
    //      rest of the discovery surface (DDLTask showColumns/
    //      showTableProperties/descDatabase), unioned into one stable
    //      (kind, k, v) shape; DESCRIBE DATABASE keeps only the
    //      machine-independent namespace row. ----
    Q("q135_catalog_discovery", (s, d) => {
      s.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
      s.sql("DROP TABLE IF EXISTS graft_tmp.disc_t")
      s.sql("""CREATE TABLE graft_tmp.disc_t (a BIGINT, b STRING)
              USING parquet TBLPROPERTIES ('retention'='30d', 'pii'='false')""")
      Engine.sql(s, d, "SHOW COLUMNS IN graft_tmp.disc_t")
        .select(lit("column").as("kind"), col("col_name").as("k"), lit("").as("v"))
        .unionByName(Engine.sql(s, d, "SHOW TBLPROPERTIES graft_tmp.disc_t")
          .select(lit("property").as("kind"), col("key").as("k"), col("value").as("v")))
        .unionByName(Engine.sql(s, d, "DESCRIBE DATABASE graft_tmp")
          .filter(col("info_name") === "Namespace Name")
          .select(lit("database").as("kind"), col("info_name").as("k"),
            col("info_value").as("v")))
    },
      Some("""SELECT * FROM (VALUES
             ('column', 'a', ''), ('column', 'b', ''),
             ('property', 'retention', '30d'), ('property', 'pii', 'false'),
             ('database', 'Namespace Name', 'graft_tmp'))
             AS t(kind, k, v)""")),

    // ---- vocabulary build: global token counts → frequency-ranked top-20
    //      with cumulative corpus coverage — the "initialize the tokenizer
    //      vocab" pass. The heavy stage is one hash aggregate over the
    //      exploded corpus (map-side combined); the top-20 cut is a
    //      distributed TakeOrderedAndProject (k rows survive each
    //      partition), so no stage ever holds the full vocabulary in one
    //      partition — the rank/cumulative window runs on the 20
    //      survivors and the corpus total is a broadcast scalar. ----
    Q("t12_vocab_build", (s, d) => {
      // checkpointed: the vocabulary aggregate feeds both the total-count
      // scalar and the top-k cut — one corpus scan, not two
      val counts = graft.tools.Checkpoints.local(t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt")))
      val total = counts.agg(sum("cnt").as("total"))
      val top = counts.orderBy(col("cnt").desc, col("w").asc).limit(20)
      val ord = Window.orderBy(col("cnt").desc, col("w").asc)
      top.crossJoin(broadcast(total))
        .withColumn("rnk", row_number().over(ord))
        .withColumn("cum", sum("cnt")
          .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("rnk").cast("long").as("rnk"), col("w"), col("cnt"),
          round(col("cum") / col("total"), 4).as("coverage"))
    },
      Some("""WITH c AS (SELECT w, count(*) AS cnt FROM
               (SELECT unnest(string_split(text,' ')) AS w FROM documents)
               GROUP BY w),
              r AS (SELECT w, cnt,
                      row_number() OVER (ORDER BY cnt DESC, w) AS rnk,
                      sum(cnt) OVER (ORDER BY cnt DESC, w
                        ROWS UNBOUNDED PRECEDING) AS cum,
                      sum(cnt) OVER () AS total
                    FROM c)
             SELECT rnk, w, cnt, round(CAST(cum AS DOUBLE)/total, 4) AS coverage
             FROM r WHERE rnk <= 20""")),

    // ---- TF-IDF document keywords: per-doc top-3 terms by tf·idf —
    //      the classic relevance signal a corpus pipeline derives before
    //      clustering/labeling. Shapes: tf is one corpus hash-aggregate;
    //      df is a vocabulary-sized aggregate broadcast back onto tf;
    //      top-3 survives WindowGroupLimit. Scores ranked on the
    //      4-decimal rounding so float ulps can't flip orders. ----
    Q("t13_tfidf_keywords", (s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") < 100)
      val tf = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
      val n = docs.agg(countDistinct("doc_id").as("n_docs"))
      val scored = tf.join(broadcast(df), "w").crossJoin(broadcast(n))
        .withColumn("score",
          round(col("tf") * log((col("n_docs") + 1) / (col("df") + 1.0)), 4))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("w").asc)
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("w"), col("tf"), col("df"),
          col("score"), col("rnk").cast("long").as("rnk"))
    },
      Some("""WITH tf AS (SELECT doc_id, w, count(*) AS tf FROM
               (SELECT doc_id, unnest(string_split(text,' ')) AS w
                FROM documents WHERE doc_id < 100)
               GROUP BY doc_id, w),
              df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
              n AS (SELECT count(DISTINCT doc_id) AS n_docs
                    FROM documents WHERE doc_id < 100),
              scored AS (SELECT tf.doc_id, tf.w, tf.tf, df.df,
                           round(tf.tf * ln((n.n_docs + 1)/(df.df + 1.0)), 4) AS score
                         FROM tf JOIN df USING (w), n),
              r AS (SELECT doc_id, w, tf, df, score,
                      row_number() OVER (PARTITION BY doc_id
                        ORDER BY score DESC, w) AS rnk
                    FROM scored)
             SELECT doc_id, w, tf, df, score, rnk FROM r WHERE rnk <= 3""")),

    // ---- sequence packing: assign every document a (shard, bin, offset)
    //      in fixed-token-budget training sequences — the batch-assembly
    //      step between preprocessing and training. Contiguous packing in
    //      doc_id order WITHIN a shard: the running-sum window runs per
    //      shard (the parallelism unit), never globally, so there is no
    //      single-partition stage at any corpus size; documents straddling
    //      a bin boundary are split across sequences, exactly like
    //      fixed-context pretraining batches. ----
    Q("t14_sequence_pack", (s, d) => {
      val budget = 2048
      val w = Window.partitionBy("shard").orderBy("doc_id")
      t(s, d, "documents")
        .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .withColumn("start", sum("n_tok")
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          - col("n_tok"))
        .select(col("doc_id"), col("shard"), col("n_tok"),
          expr(s"start div $budget").as("bin_id"),
          (col("start") % budget).as("bin_offset"))
    },
      Some("""WITH d AS (SELECT doc_id, doc_id % 8 AS shard,
                           len(string_split(text,' ')) AS n_tok
                         FROM documents),
              c AS (SELECT doc_id, shard, n_tok,
                      sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - n_tok AS start
                    FROM d)
             SELECT doc_id, shard, CAST(n_tok AS BIGINT) AS n_tok,
               CAST(start // 2048 AS BIGINT) AS bin_id,
               CAST(start % 2048 AS BIGINT) AS bin_offset
             FROM c""")),

    // ---- embedding-column QA stats: per-dimension mean/min/max plus the
    //      vector-norm distribution — the sanity pass an embedding corpus
    //      gets before index building (degenerate dims, unnormalized
    //      vectors, NaN screens). One posexplode + one hash aggregate
    //      keyed by dimension: k×dims output regardless of corpus size. ----
    Q("s08_embedding_stats", (s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      // r17: fused codegen self-dot (functions/DotProduct.scala) — the
      // aggregate(transform(...)) fold ran interpreted (CodegenFallback);
      // dot_product(emb, emb) accumulates x*x in the same index order,
      // so the norm is bit-identical
      val norm = e.select(col("vec_id"),
        sqrt(call_function("dot_product", col("emb"), col("emb"))).as("l2"))
      val dims = e.select(posexplode(col("emb")).as(Seq("dim", "v")))
        .groupBy("dim")
        // + 0.0 canonicalizes IEEE negative zero (a mean rounding to
        // zero from below prints -0 in one engine and 0 in the other)
        .agg((round(avg("v"), 4) + 0.0).as("mean_v"),
          round(min("v"), 4).as("min_v"), round(max("v"), 4).as("max_v"))
        .select(col("dim").cast("long").as("dim"),
          col("mean_v"), col("min_v"), col("max_v"))
      val normStats = norm.agg(
        round(avg("l2"), 4).as("mean_v"),
        round(min("l2"), 4).as("min_v"),
        round(max("l2"), 4).as("max_v"))
        .select(lit(-1L).as("dim"), col("mean_v"), col("min_v"), col("max_v"))
      dims.unionByName(normStats)
    },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                         FROM embeddings),
              x AS (SELECT unnest(range(len(emb))) AS dim, unnest(emb) AS v
                    FROM e),
              dims AS (SELECT dim, round(avg(v),4) + 0.0 AS mean_v,
                         round(min(v),4) AS min_v, round(max(v),4) AS max_v
                       FROM x GROUP BY dim),
              n AS (SELECT sqrt(list_sum(list_transform(emb, a -> a*a))) AS l2
                    FROM e)
             SELECT dim, mean_v, min_v, max_v FROM dims
             UNION ALL
             SELECT -1, round(avg(l2),4), round(min(l2),4), round(max(l2),4)
             FROM n""")),

    // ---- last string-function stragglers: split_part, ANSI OVERLAY ...
    //      PLACING, char_length/octet_length, POSITION ... IN — exercised
    //      as SQL text so the parser forms are covered too. ----
    Q("q136_funcs_gap4", (s, d) =>
      Engine.sql(s, d,
        """SELECT n_name,
           split_part(n_name, '_', 2) AS part2,
           overlay(n_name PLACING 'XX' FROM 3) AS ov,
           CAST(char_length(n_name) AS BIGINT) AS clen,
           CAST(octet_length(n_name) AS BIGINT) AS olen,
           CAST(position('_' IN n_name) AS BIGINT) AS pos
           FROM nation"""),
      Some("""SELECT n_name,
             split_part(n_name, '_', 2) AS part2,
             substr(n_name, 1, 2) || 'XX' || substr(n_name, 5) AS ov,
             length(n_name) AS clen,
             strlen(n_name) AS olen,
             CAST(position('_' IN n_name) AS BIGINT) AS pos
             FROM nation"""))
  )
}
