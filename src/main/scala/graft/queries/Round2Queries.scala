package graft.queries

import graft.{Q, Tables}
import graft.functions.{NGrams, UnionTypeShim}
import graft.operators.{Acid, Dedup, Similarity}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{round => _, _}
import graft.queries.Fns.round

/** Round-2 sweep: the scale-safe dedup-resolution chain (LSH candidates →
  * exact jaccard → keep-list), IVF-blocked embedding near-dup, copy-on-write
  * UPDATE/DELETE, and the remaining cheap §2 surface — inline, sentences,
  * context_ngrams, create_union, percentile_approx, SQL TABLESAMPLE,
  * DESCRIBE, and parse_url_tuple as a true Generator.
  */
object Round2Queries {
  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  val all: Seq[Q] = Seq(
    // ---- scale-safe dedup resolution: band join, never all-pairs. The
    //      oracle is the exact all-pairs resolution — LSH is candidate
    //      generation for an exact filter, so with 64 hashes/16 bands the
    //      candidate set provably (p>0.9999) covers every >=0.85 pair and
    //      the outputs coincide. ----
    Q("d06_dedup_resolve", (s, d) =>
      Dedup.resolve(t(s, d, "documents").filter(col("doc_id") < 150)),
      Some("""WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS w
                            FROM documents WHERE doc_id < 150),
              sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
              dup AS (SELECT DISTINCT db FROM (
                        SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
                        FROM toks a JOIN toks b ON a.w = b.w AND a.doc_id < b.doc_id
                        GROUP BY 1,2) i
                      JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
                      WHERE round(inter/(sa.sz + sb.sz - inter),4) >= 0.85)
             SELECT doc_id FROM documents
             WHERE doc_id < 150 AND doc_id NOT IN (SELECT db FROM dup)""")),

    // ---- embedding near-dup, scale path: IVF co-membership candidates,
    //      exact cosine only on candidates; oracle mirrors the blocking the
    //      same way s02's oracle mirrors IVF top-k ----
    Q("s04_embed_neardup_ivf", (s, d) => {
      val e = Similarity.prep(t(s, d, "embeddings")).filter(col("vec_id") < 200)
      Similarity.neardupIVF(e, e.filter(col("vec_id") < 8), minSim = 0.4, nProbe = 2)
    },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                         FROM embeddings WHERE vec_id < 200),
              cent AS (SELECT vec_id AS c_id, emb AS c_emb FROM e WHERE vec_id < 8),
              assign AS (
                SELECT vec_id, c_id AS cluster_id FROM (
                  SELECT v.vec_id, c.c_id,
                    row_number() OVER (PARTITION BY v.vec_id
                      ORDER BY list_cosine_similarity(v.emb, c.c_emb) DESC, c.c_id) AS crn
                  FROM e v, cent c) WHERE crn <= 2),
              cand AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
                       FROM assign a JOIN assign b
                         ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id)
             SELECT va, vb, round(list_cosine_similarity(ea.emb, eb.emb),6) AS sim
             FROM cand JOIN e ea ON va = ea.vec_id JOIN e eb ON vb = eb.vec_id
             WHERE list_cosine_similarity(ea.emb, eb.emb) >= 0.4""")),

    // ---- ANN with TRAINED centroids: Lloyd k-means (distributed assign +
    //      per-dimension mean) feeds the same IVF probe path. Float
    //      summation order makes the centroid BITS engine-specific, but
    //      the algorithm's exact invariants are not — bounded oracle
    //      (q62/q97 pattern): (a) exactly k centroids, every one with the
    //      corpus dimensionality; (b) every centroid coordinate inside the
    //      corpus's per-dimension [min,max] (a mean can't escape its
    //      inputs); (c) assignment consistency — each point's rank-1
    //      centroid (window path) carries the max cosine over all k
    //      (hash-agg path), two independent plans agreeing; (d) IVF probe
    //      with trained centroids reaches ≥0.8 recall@5 vs exact brute
    //      force. Oracle supplies the exact counts + TRUE. ----
    Q("s05_ann_kmeans", (s, d) => {
      val e = Similarity.prep(Tables.t(s, d, "embeddings")).filter(col("vec_id") < 300)
      val cents = Similarity.kmeansCentroids(e, k = 8, iters = 3)
      val c = broadcast(cents.select(col("vec_id").as("c_id"), col("emb").as("c_emb")))
      val shape = cents.agg(count(lit(1)).as("n_centroids"),
        (min(size(col("emb"))) === max(size(col("emb")))).as("c_dims_eq"),
        min(size(col("emb"))).as("c_dim"))
      val corpusDim = e.agg(min(size(col("emb"))).as("e_dim"),
        count(lit(1)).as("n_assigned"))
      // per-dimension corpus bounds vs every centroid coordinate
      val bounds = e.select(posexplode(col("emb")).as(Seq("dim", "v")))
        .groupBy("dim").agg(min("v").as("lo"), max("v").as("hi"))
      val inSpan = cents
        .select(posexplode(col("emb")).as(Seq("dim", "cv")))
        .join(bounds, "dim")
        .agg(coalesce(every(col("cv") >= col("lo") - lit(1e-9) &&
          col("cv") <= col("hi") + lit(1e-9)), lit(false)).as("in_span"))
      // assignment consistency: window rank-1 vs hash-agg max must agree
      val sims = e.crossJoin(c)
        .withColumn("csim", Similarity.cosine("emb", "c_emb"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(col("csim").desc, col("c_id").asc)
      val best = sims.withColumn("crn", row_number().over(w))
        .filter(col("crn") === 1)
        .select(col("vec_id"), col("csim").as("best_sim"))
      val maxes = sims.groupBy("vec_id").agg(max("csim").as("max_sim"))
      val nearest = best.join(maxes, "vec_id")
        .agg(coalesce(every(col("best_sim") >= col("max_sim")), lit(false))
          .as("all_nearest"))
      val q = e.filter(col("vec_id") < 5)
      val hits = Similarity.ivfTopK(e, q, cents, k = 5, nProbe = 3)
        .select("q_id", "neighbor_id")
        .join(Similarity.bruteForceTopK(e, q, k = 5).select("q_id", "neighbor_id"),
          Seq("q_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
      shape.crossJoin(corpusDim).crossJoin(inSpan).crossJoin(nearest).crossJoin(hits)
        .select(col("n_centroids"), col("n_assigned"),
          (col("c_dims_eq") && col("c_dim") === col("e_dim")).as("dims_ok"),
          col("in_span"), col("all_nearest"),
          (col("n_hits") >= 20).as("recall_ok"))
    },
      Some("""SELECT CAST(8 AS BIGINT) AS n_centroids,
             (SELECT count(*) FROM embeddings WHERE vec_id < 300) AS n_assigned,
             TRUE AS dims_ok, TRUE AS in_span, TRUE AS all_nearest,
             TRUE AS recall_ok""")),

    // ---- copy-on-write UPDATE (reference: UpdateDeleteSemanticAnalyzer
    //      rewrite-as-insert; here: rewrite only the affected files) ----
    Q("a01_update_cow", (s, d) => {
      val tbl = graft.tools.Tmp.dir("graft_acid") + "/orders"
      t(s, d, "orders").repartitionByRange(4, col("o_orderkey"))
        .write.mode("overwrite").parquet(tbl)
      Acid.updateWhere(s, tbl, col("o_totalprice") > 400000,
        Map("o_orderpriority" -> lit("5-CAPPED"),
          "o_totalprice" -> lit(400000.0)))
      s.read.parquet(tbl)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("tot"))
    },
      Some("""SELECT CASE WHEN o_totalprice > 400000 THEN '5-CAPPED'
                          ELSE o_orderpriority END AS o_orderpriority,
             count(*) AS n,
             round(sum(CASE WHEN o_totalprice > 400000 THEN 400000.0
                            ELSE o_totalprice END)*100)/100 AS tot
             FROM orders GROUP BY 1""")),

    // ---- copy-on-write DELETE ----
    Q("a02_delete_cow", (s, d) => {
      val tbl = graft.tools.Tmp.dir("graft_acid") + "/orders"
      t(s, d, "orders").repartitionByRange(4, col("o_orderkey"))
        .write.mode("overwrite").parquet(tbl)
      Acid.deleteWhere(s, tbl,
        col("o_orderstatus") === "F" && col("o_totalprice") < 50000)
      s.read.parquet(tbl)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum("o_custkey").as("cust_sum"))
    },
      Some("""SELECT o_orderstatus, count(*) AS n,
             CAST(sum(o_custkey) AS BIGINT) AS cust_sum
             FROM orders WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 50000)
             GROUP BY o_orderstatus""")),

    // ---- copy-on-write MERGE (upsert): update matched rows from the
    //      source, append unmatched source rows; only files containing a
    //      matched key are rewritten ----
    Q("a03_merge_cow", (s, d) => {
      val tbl = graft.tools.Tmp.dir("graft_acid") + "/orders"
      t(s, d, "orders").repartitionByRange(4, col("o_orderkey"))
        .write.mode("overwrite").parquet(tbl)
      // source: flip priority on existing keys < 200 and bring brand-new
      // keys (offset past the fixture keyspace)
      val updates = t(s, d, "orders").filter(col("o_orderkey") < 200)
        .withColumn("o_orderpriority", lit("9-MERGED"))
      val inserts = t(s, d, "orders").filter(col("o_orderkey") < 40)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      Acid.mergeInto(s, tbl, updates.unionByName(inserts),
        keys = Seq("o_orderkey"), setFromSource = Seq("o_orderpriority"))
      s.read.parquet(tbl).groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
    },
      Some("""WITH merged AS (
               SELECT o_orderkey,
                 CASE WHEN o_orderkey < 200 THEN '9-MERGED'
                      ELSE o_orderpriority END AS o_orderpriority
               FROM orders
               UNION ALL
               SELECT o_orderkey + 10000000, o_orderpriority
               FROM orders WHERE o_orderkey < 40)
             SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             FROM merged GROUP BY o_orderpriority""")),

    // ---- multimodal frame-sampling: one row per fixed-stride payload
    //      slice; fully ORACLED (the fixture text is pure ASCII, so byte
    //      slices equal DuckDB char substr) — the decode stays a stub,
    //      the Spark plumbing (generator shape, codegen slicing) is real ----
    Q("m02_frame_sample", (s, d) => {
      val media = graft.operators.Multimodal.asMedia(
        t(s, d, "documents").filter(col("doc_id") < 100))
      graft.operators.Multimodal.frameSample(media, stride = 40)
        .select(col("doc_id"), col("n_frames").cast("long").as("n_frames"),
          col("frame_id").cast("long").as("frame_id"),
          col("frame").cast("string").as("frame_text"))
    },
      Some("""WITH m AS (SELECT doc_id, text, CAST(ceil(length(text)/40.0) AS BIGINT) AS n_frames
                         FROM documents WHERE doc_id < 100)
             SELECT doc_id, n_frames, k AS frame_id,
                    substr(text, CAST(k*40+1 AS INT), 40) AS frame_text
             FROM m, (SELECT unnest(range(0, 1000)) AS k)
             WHERE k < n_frames""")),

    // ---- multimodal resize: payload truncation with metadata update ----
    Q("m03_resize", (s, d) => {
      val media = graft.operators.Multimodal.asMedia(
        t(s, d, "documents").filter(col("doc_id") < 200))
      graft.operators.Multimodal.resize(media, targetBytes = 64)
        .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"),
          col("payload").cast("string").as("head_text"))
    },
      Some("""SELECT doc_id, least(CAST(length(text) AS BIGINT), 64) AS n_bytes,
             substr(text, 1, 64) AS head_text
             FROM documents WHERE doc_id < 200""")),

    // ---- inline UDTF (GenericUDTFInline) ----
    Q("q93_inline", (s, d) => {
      Tables.views(s, d, "orders")
      s.sql("""SELECT o_orderkey, tag, v
              FROM orders
              LATERAL VIEW inline(array(
                named_struct('tag', 'base', 'v', o_custkey),
                named_struct('tag', 'double', 'v', o_custkey * 2))) t AS tag, v
              WHERE o_orderkey < 50""")
    },
      Some("""SELECT o_orderkey, 'base' AS tag, o_custkey AS v
             FROM orders WHERE o_orderkey < 50
             UNION ALL
             SELECT o_orderkey, 'double' AS tag, o_custkey * 2 AS v
             FROM orders WHERE o_orderkey < 50""")),

    // ---- sentences (GenericUDFSentences): sentence+word segmentation.
    //      BreakIterator only splits before a capitalized next sentence,
    //      so the synthetic prose capitalizes both sentence starts. ----
    Q("q94_sentences", (s, d) =>
      t(s, d, "customer").filter(col("c_custkey") < 100)
        .withColumn("prose", concat(initcap(lower(col("c_mktsegment"))),
          lit(" segment here. Second part done.")))
        .select(col("c_custkey"),
          size(expr("sentences(prose)")).cast("long").as("n_sent"),
          array_join(expr("sentences(prose)[0]"), " ").as("s1"),
          array_join(expr("sentences(prose)[1]"), " ").as("s2")),
      Some("""SELECT c_custkey, CAST(2 AS BIGINT) AS n_sent,
             upper(substr(c_mktsegment,1,1)) || lower(substr(c_mktsegment,2))
               || ' segment here' AS s1,
             'Second part done' AS s2
             FROM customer WHERE c_custkey < 100""")),

    // ---- context_ngrams gate (oracle: bigram table filtered on context) ----
    Q("q95_context_ngrams", (s, d) =>
      t(s, d, "documents")
        .select(split(col("text"), " ").as("ws"))
        .agg(NGrams.contextNGrams("ws", Seq(Some("the"), None), 10).as("top"))
        .select(explode(col("top")).as("t"))
        .select(col("t.ngram").as("filler"), col("t.freq").as("cnt")),
      Some("""WITH t AS (SELECT doc_id,
                 unnest(range(len(string_split(text,' ')))) AS pos,
                 unnest(string_split(text,' ')) AS word
               FROM documents),
              b AS (SELECT c.word AS filler
                    FROM t a JOIN t c ON a.doc_id = c.doc_id AND c.pos = a.pos + 1
                    WHERE a.word = 'the')
             SELECT filler, count(*) AS cnt FROM b
             GROUP BY filler ORDER BY cnt DESC, filler LIMIT 10""")),

    // ---- create_union / UNIONTYPE shim gate ----
    Q("q96_create_union", (s, d) => {
      val tag = col("o_orderkey") % 2
      val u = UnionTypeShim.createUnion(tag,
        col("o_orderstatus"), col("o_custkey").cast("string"))
      t(s, d, "orders").filter(col("o_orderkey") < 100)
        .select(col("o_orderkey"),
          UnionTypeShim.unionTag(u).cast("long").as("tag"),
          UnionTypeShim.unionExtract(u, 0).as("f0"),
          UnionTypeShim.unionExtract(u, 1).as("f1"))
    },
      Some("""SELECT o_orderkey, o_orderkey % 2 AS tag,
             CASE WHEN o_orderkey % 2 = 0 THEN o_orderstatus END AS f0,
             CASE WHEN o_orderkey % 2 = 1 THEN CAST(o_custkey AS VARCHAR) END AS f1
             FROM orders WHERE o_orderkey < 100""")),

    // ---- percentile_approx: the KLL-style sketch's picks are
    //      engine-specific, but its rank-error contract is not. Bounded
    //      oracle: emit the EXACT quantiles plus booleans asserting each
    //      approximation landed within a value tolerance implied by the
    //      accuracy parameter on these columns (l_quantity spans [1,50]
    //      with ~60k rows at sf0.01 and accuracy 10000 → ±1.0 is
    //      generous; l_discount spans [0,0.1] at accuracy 1000 → ±0.01),
    //      and the oracle supplies exact + TRUE. ----
    Q("q97_percentile_approx", (s, d) =>
      // r18: the two exact discount percentiles share ONE aggregate buffer
      // (percentile over an array of percentages) instead of building two
      // identical value→count maps per group — one less OpenHashMap update
      // per input row and one less partial buffer through the exchange.
      // Same Percentile evaluator, same counts, bit-identical quantiles.
      t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(percentile_approx(col("l_quantity"), lit(0.5), lit(10000)).as("p50a"),
          expr("percentile(l_quantity, 0.5)").as("p50e"),
          element_at(expr("approx_percentile(l_discount, array(0.25, 0.75), 1000)"), 1).as("p25a"),
          element_at(expr("approx_percentile(l_discount, array(0.25, 0.75), 1000)"), 2).as("p75a"),
          element_at(expr("percentile(l_discount, array(0.25, 0.75))"), 1).as("p25e"),
          element_at(expr("percentile(l_discount, array(0.25, 0.75))"), 2).as("p75e"))
        .select(col("l_returnflag"),
          round(col("p50e"), 4).as("p50_exact"),
          (abs(col("p50a") - col("p50e")) <= 1.0).as("p50_ok"),
          round(col("p25e"), 4).as("p25_exact"),
          (abs(col("p25a") - col("p25e")) <= 0.01).as("p25_ok"),
          round(col("p75e"), 4).as("p75_exact"),
          (abs(col("p75a") - col("p75e")) <= 0.01).as("p75_ok")),
      Some("""SELECT l_returnflag,
             round(quantile_cont(l_quantity, 0.5), 4) AS p50_exact, TRUE AS p50_ok,
             round(quantile_cont(l_discount, 0.25), 4) AS p25_exact, TRUE AS p25_ok,
             round(quantile_cont(l_discount, 0.75), 4) AS p75_exact, TRUE AS p75_ok
             FROM lineitem GROUP BY l_returnflag""")),

    // ---- compute_stats UDAF parity (GenericUDAFComputeStats): the column
    //      statistics Hive's ANALYZE collects, as one aggregation ----
    Q("q103_compute_stats", (s, d) =>
      t(s, d, "lineitem").agg(
        count(lit(1)).as("cnt"),
        sum(when(col("l_discount").isNull, 1L).otherwise(0L)).as("num_nulls"),
        min("l_discount").as("mn"),
        max("l_discount").as("mx"),
        countDistinct("l_discount").as("ndv"),
        round(avg(length(col("l_returnflag"))), 4).as("avg_len"),
        max(length(col("l_returnflag"))).cast("long").as("max_len")),
      Some("""SELECT count(*) AS cnt,
             CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS num_nulls,
             min(l_discount) AS mn, max(l_discount) AS mx,
             count(DISTINCT l_discount) AS ndv,
             round(avg(length(l_returnflag))*10000)/10000 AS avg_len,
             CAST(max(length(l_returnflag)) AS BIGINT) AS max_len
             FROM lineitem""")),

    // ---- SQL-text TABLESAMPLE (FromClauseParser.g:154-166); the ROWS form
    //      has a deterministic row count, which is what the oracle pins ----
    Q("q98_tablesample", (s, d) => {
      Tables.views(s, d, "orders")
      s.sql("""SELECT count(*) AS n_rows, count(DISTINCT o_orderkey) AS n_keys
              FROM (SELECT * FROM orders TABLESAMPLE (50 ROWS))""")
    },
      Some("SELECT CAST(50 AS BIGINT) AS n_rows, CAST(50 AS BIGINT) AS n_keys")),

    // ---- DESCRIBE surface (exec/DDLTask.java) ----
    Q("q99_describe", (s, d) => {
      Tables.views(s, d, "region")
      s.sql("DESCRIBE region").select(col("col_name"), col("data_type"))
    },
      Some("""SELECT 'r_regionkey' AS col_name, 'int' AS data_type
             UNION ALL SELECT 'r_name', 'string'""")),

    // ---- last §2.8 registry names with no sweep coverage: format_number,
    //      printf, next_day, add_months, pmod, unhex, from/to_utc_timestamp
    //      (fixed-offset zones pin the semantics without DST dependence) ----
    Q("q108_funcs_gap", (s, d) =>
      t(s, d, "orders").filter(col("o_orderkey") < 100)
        .select(col("o_orderkey"),
          format_number(col("o_orderkey") * 1000000L, 0).as("fmt"),
          expr("printf('%05d_%s', o_custkey, o_orderstatus)").as("pf"),
          next_day(col("o_orderdate").cast("date"), "Friday").as("nd"),
          add_months(col("o_orderdate").cast("date"), 2).as("am"),
          expr("pmod(-o_custkey, 7)").cast("long").as("pm"),
          from_utc_timestamp(date_trunc("day", col("o_orderdate")), "+05:30").as("fu"),
          to_utc_timestamp(date_trunc("day", col("o_orderdate")), "+05:30").as("tu"),
          expr("cast(unhex(hex(o_orderstatus)) as string)").as("uh")),
      Some("""SELECT o_orderkey,
             format('{:,}', CAST(o_orderkey * 1000000 AS BIGINT)) AS fmt,
             printf('%05d_%s', o_custkey, o_orderstatus) AS pf,
             CAST(CAST(o_orderdate AS DATE) +
               CAST(CASE WHEN (5 - isodow(CAST(o_orderdate AS DATE)) + 7) % 7 = 0 THEN 7
                    ELSE (5 - isodow(CAST(o_orderdate AS DATE)) + 7) % 7 END AS INTEGER) AS DATE) AS nd,
             CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS am,
             ((-o_custkey % 7) + 7) % 7 AS pm,
             date_trunc('day', o_orderdate) + INTERVAL '5 hours 30 minutes' AS fu,
             date_trunc('day', o_orderdate) - INTERVAL '5 hours 30 minutes' AS tu,
             o_orderstatus AS uh
             FROM orders WHERE o_orderkey < 100""")),

    // ---- text scrubbing (training-data cleaning): mask digit runs,
    //      collapse whitespace, strip a stopword — chained regexp_replace,
    //      all codegen'd, identical regex semantics in both engines ----
    Q("t07_scrub", (s, d) =>
      t(s, d, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          regexp_replace(
            regexp_replace(
              regexp_replace(col("text"), "[0-9]+", "<NUM>"),
              "\\bthe\\b", ""),
            " +", " ").as("clean"),
          (length(col("text")) - length(regexp_replace(col("text"), "[0-9]", "")))
            .cast("long").as("n_digits")),
      Some("""SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(text,
               '[0-9]+', '<NUM>', 'g'), '\b(the)\b', '', 'g'), ' +', ' ', 'g') AS clean,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits
             FROM documents WHERE doc_id < 200""")),

    // ---- explode over a MAP (two output columns — the Hive UDTF shape
    //      q29 doesn't cover) + map_keys/map_values ----
    Q("q109_explode_map", (s, d) => {
      Tables.views(s, d, "orders")
      s.sql("""SELECT o_orderkey, k, v,
                size(map_keys(map('status', o_orderstatus, 'prio', o_orderpriority))) AS nk,
                array_join(sort_array(map_values(map('status', o_orderstatus, 'prio', o_orderpriority))), '|') AS vals
              FROM orders
              LATERAL VIEW explode(map('status', o_orderstatus, 'prio', o_orderpriority)) t AS k, v
              WHERE o_orderkey < 60""")
    },
      Some("""WITH kv AS (
               SELECT o_orderkey, 'status' AS k, o_orderstatus AS v,
                 o_orderstatus, o_orderpriority FROM orders WHERE o_orderkey < 60
               UNION ALL
               SELECT o_orderkey, 'prio', o_orderpriority,
                 o_orderstatus, o_orderpriority FROM orders WHERE o_orderkey < 60)
             SELECT o_orderkey, k, v, 2 AS nk,
               CASE WHEN o_orderstatus <= o_orderpriority
                    THEN o_orderstatus || '|' || o_orderpriority
                    ELSE o_orderpriority || '|' || o_orderstatus END AS vals
             FROM kv""")),

    // ---- end-to-end training-data pipeline v2: LENGTH/quality gate →
    //      scale-safe near-dup resolution (the d06 LSH chain) → per-lang
    //      corpus stats. The whole flow is equi-join/aggregate shaped:
    //      nothing here degrades at 100 TB. Oracle mirrors each stage. ----
    Q("t06_corpus_pipeline2", (s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") < 150)
      val gated = docs.filter(size(split(col("text"), " ")) >= 20)
      val kept = Dedup.resolve(gated)
      gated.join(kept, "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).cast("long").as("total_tokens"))
    },
      Some("""WITH gated AS (SELECT * FROM documents
                             WHERE doc_id < 150 AND len(string_split(text,' ')) >= 20),
              toks AS (SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS w
                       FROM gated),
              sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
              dup AS (SELECT DISTINCT db FROM (
                        SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
                        FROM toks a JOIN toks b ON a.w = b.w AND a.doc_id < b.doc_id
                        GROUP BY 1,2) i
                      JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
                      WHERE round(inter/(sa.sz + sb.sz - inter),4) >= 0.85)
             SELECT lang, count(*) AS n_docs,
               CAST(sum(len(string_split(text,' '))) AS BIGINT) AS total_tokens
             FROM gated WHERE doc_id NOT IN (SELECT db FROM dup)
             GROUP BY lang""")),

    // ---- Hive default textfile SerDe: ctrl-A (\x01) delimited, \N for
    //      NULL (LazySimpleSerDe defaults) — write + read round-trip ----
    Q("q106_textfile_serde", (s, d) => {
      val base = graft.tools.Tmp.dir("graft_text")
      t(s, d, "nation").select("n_nationkey", "n_name", "n_regionkey")
        .write.mode("overwrite")
        .option("sep", "\u0001").option("nullValue", "\\N")
        .csv(s"$base/txt")
      s.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .option("sep", "\u0001").option("nullValue", "\\N")
        .csv(s"$base/txt")
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("n"), max("n_name").as("max_name"))
    },
      Some("""SELECT n_regionkey, count(*) AS n, max(n_name) AS max_name
             FROM nation GROUP BY n_regionkey""")),

    // ---- permissive malformed-row handling (LazySimpleSerDe parity:
    //      bad cells become NULL, the row survives) ----
    Q("q107_permissive_csv", (s, d) => {
      val base = graft.tools.Tmp.dir("graft_badcsv")
      java.nio.file.Files.write(java.nio.file.Paths.get(base, "data.csv"),
        "1,alpha,10\n2,beta,not_a_number\n3,gamma,30\n".getBytes("UTF-8"))
      s.read.schema("id INT, name STRING, v INT")
        .option("mode", "PERMISSIVE").csv(base)
        .select(col("id").cast("long").as("id"), col("name"), col("v").cast("long").as("v"))
    },
      Some("""SELECT CAST(1 AS BIGINT) AS id, 'alpha' AS name, CAST(10 AS BIGINT) AS v
             UNION ALL SELECT 2, 'beta', NULL
             UNION ALL SELECT 3, 'gamma', 30""")),

    // ---- INSERT OVERWRITE DIRECTORY (the reference's write-query-results
    //      -to-path surface, exec/MoveTask.java) + read-back ----
    Q("q110_insert_directory", (s, d) => {
      Tables.views(s, d, "region")
      val out = graft.tools.Tmp.dir("graft_iod") + "/region_out"
      s.sql(s"""INSERT OVERWRITE DIRECTORY '$out' USING parquet
               SELECT r_regionkey, upper(r_name) AS uname FROM region""")
      s.read.parquet(out).orderBy("r_regionkey")
    },
      Some("SELECT r_regionkey, upper(r_name) AS uname FROM region")),

    // ---- CREATE/DROP VIEW + CTE query-through (exec/DDLTask.java) ----
    Q("q104_create_view", (s, d) => {
      Tables.views(s, d, "orders")
      // TEMPORARY: a persistent view may not reference the temp fixture
      // views; the DDL surface (create/replace/query-through) is the same
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW graft_v_orders AS
              SELECT o_orderstatus, o_totalprice FROM orders
              WHERE o_totalprice > 100000""")
      s.sql("""WITH agg AS (SELECT o_orderstatus, count(*) AS n,
                            round(avg(o_totalprice) * 100) / 100 AS avg_price
                            FROM graft_v_orders GROUP BY o_orderstatus)
              SELECT * FROM agg""")
    },
      Some("""SELECT o_orderstatus, count(*) AS n,
             round(avg(o_totalprice)*100)/100 AS avg_price
             FROM orders WHERE o_totalprice > 100000
             GROUP BY o_orderstatus""")),

    // ---- ALTER TABLE ADD COLUMNS (DDLTask alter-table path): new column
    //      reads as NULL for pre-existing rows, writable after ----
    Q("q105_alter_table", (s, d) => {
      s.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
      s.sql("DROP TABLE IF EXISTS graft_tmp.nation_alter")
      val loc = graft.tools.Tmp.dir("graft_alter")
      s.sql(s"""CREATE TABLE graft_tmp.nation_alter USING parquet
               LOCATION '$loc/nation_alter' AS
               SELECT n_nationkey, n_name FROM parquet.`$d/nation.parquet`""")
      s.sql("ALTER TABLE graft_tmp.nation_alter ADD COLUMNS (zone STRING)")
      s.sql("""INSERT INTO graft_tmp.nation_alter
              VALUES (999, 'ATLANTIS', 'myth')""")
      s.sql("""SELECT n_nationkey, n_name, zone FROM graft_tmp.nation_alter
              WHERE n_nationkey >= 20""")
    },
      Some("""SELECT n_nationkey, n_name, CAST(NULL AS VARCHAR) AS zone
             FROM nation WHERE n_nationkey >= 20
             UNION ALL SELECT 999, 'ATLANTIS', 'myth'""")),

    // ---- parse_url_tuple as a true Generator via LATERAL VIEW ----
    Q("q100_parse_url_tuple", (s, d) => {
      t(s, d, "documents").filter(col("doc_id") < 100)
        .withColumn("url", concat(lit("https://"), col("source"),
          lit(".example.com/docs/"), col("doc_id").cast("string"),
          lit("?lang="), col("lang")))
        .createOrReplaceTempView("urls_tmp")
      s.sql("""SELECT doc_id, host, pth, qlang
              FROM urls_tmp
              LATERAL VIEW parse_url_tuple(url, 'HOST', 'PATH', 'QUERY:lang') p
                AS host, pth, qlang""")
    },
      Some("""SELECT doc_id, source || '.example.com' AS host,
             '/docs/' || CAST(doc_id AS VARCHAR) AS pth, lang AS qlang
             FROM documents WHERE doc_id < 100""")),

    // ---- in_file (UDFInFile): dictionary-file membership. The file is
    //      read once on the driver; executors get the line set with the
    //      task, so only the submitting host needs the file. ----
    Q("q101_in_file", (s, d) => {
      val f = java.nio.file.Paths.get(graft.tools.Tmp.dir("graft_dict"), "segs.txt")
      java.nio.file.Files.write(f, "BUILDING\nAUTOMOBILE\n".getBytes("UTF-8"))
      t(s, d, "customer")
        .select(col("c_custkey"),
          expr(s"in_file(c_mktsegment, '${f}')").as("in_dict"))
        .filter(col("c_custkey") < 200)
    },
      Some("""SELECT c_custkey, c_mktsegment IN ('BUILDING','AUTOMOBILE') AS in_dict
             FROM customer WHERE c_custkey < 200""")),

    // ---- SHOW TABLES surface (exec/DDLTask.java); temp views filtered out
    //      so the oracle is a stable literal ----
    Q("q102_show_tables", (s, d) => {
      s.sql("CREATE DATABASE IF NOT EXISTS graft_show")
      s.sql("DROP TABLE IF EXISTS graft_show.alpha")
      s.sql("DROP TABLE IF EXISTS graft_show.beta")
      val loc = graft.tools.Tmp.dir("graft_show")
      s.sql(s"CREATE TABLE graft_show.alpha USING parquet LOCATION '$loc/alpha' AS SELECT 1 AS x")
      s.sql(s"CREATE TABLE graft_show.beta USING parquet LOCATION '$loc/beta' AS SELECT 2 AS y")
      s.sql("SHOW TABLES IN graft_show")
        .filter(!col("isTemporary")).select("tableName")
    },
      Some("SELECT 'alpha' AS tableName UNION ALL SELECT 'beta'"))
  )
}
