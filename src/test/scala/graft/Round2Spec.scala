package graft

import graft.operators.{Acid, Dedup, Similarity}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Behavior pins for the round-2 operators: copy-on-write DML must touch
  * only the files that contain matching rows, parse_url_tuple must behave
  * like the reference generator (nulls on malformed input), and the dedup /
  * near-dup resolution chains must keep the plan shapes that make them
  * viable at 100 TB (band/cluster equi-joins, never a cartesian product).
  */
class Round2Spec extends SparkSpec {
  import spark.implicits._

  private def partFiles(dir: String): Set[String] =
    Option(new java.io.File(dir).listFiles).toSeq.flatten
      .map(_.getName).filter(n => n.startsWith("part-") || n.startsWith("cow-"))
      .toSet

  private def writeKv(dir: String): Unit =
    (1L to 400L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartitionByRange(4, col("k"))
      .write.mode("overwrite").parquet(dir)

  test("CoW update rewrites only the files containing matching rows") {
    val dir = tools.Tmp.dir("acid_spec") + "/t"
    writeKv(dir)
    val before = partFiles(dir)
    assert(before.size == 4)
    // range-partitioned by k, so k <= 100 lives in exactly one file
    Acid.updateWhere(spark, dir, col("k") <= 100, Map("v" -> lit("X")))
    val after = partFiles(dir)
    // three untouched files survive under their original names
    assert((before intersect after).size == 3)
    assert(after.exists(_.startsWith("cow-")))
    val got = spark.read.parquet(dir)
    assert(got.filter($"v" === "X").count() == 100)
    assert(got.filter($"k" > 100 && $"v".startsWith("v")).count() == 300)
    assert(got.count() == 400)
  }

  test("CoW delete keeps rows with null condition (SQL semantics)") {
    val dir = tools.Tmp.dir("acid_spec") + "/t"
    Seq((1L, Some("a")), (2L, None), (3L, Some("b")))
      .toDF("k", "v").write.mode("overwrite").parquet(dir)
    // v = 'a' is NULL for row 2: DELETE must keep it
    Acid.deleteWhere(spark, dir, col("v") === "a")
    val left = spark.read.parquet(dir).select("k").as[Long].collect().sorted
    assert(left.toSeq == Seq(2L, 3L))
  }

  test("CoW merge rewrites only matched-key files and appends inserts") {
    val dir = tools.Tmp.dir("acid_spec") + "/t"
    writeKv(dir)
    val before = partFiles(dir)
    // keys 1..50 live in the first range file; 9001/9002 are new
    val src = Seq((1L, "U1"), (50L, "U50"), (9001L, "N1"), (9002L, "N2"))
      .toDF("k", "v")
    Acid.mergeInto(spark, dir, src, keys = Seq("k"), setFromSource = Seq("v"))
    val after = partFiles(dir)
    assert((before intersect after).size == 3, "unmatched files must survive")
    val got = spark.read.parquet(dir)
    assert(got.count() == 402)
    assert(got.filter($"k" === 1L).select("v").as[String].head() == "U1")
    assert(got.filter($"k" === 9001L).select("v").as[String].head() == "N1")
    assert(got.filter($"k" === 2L).select("v").as[String].head() == "v2")
  }

  test("CoW compact coalesces files and preserves every row") {
    val dir = tools.Tmp.dir("acid_spec") + "/t"
    writeKv(dir)
    Acid.mergeInto(spark, dir, Seq((9001L, "N1")).toDF("k", "v"),
      keys = Seq("k"), setFromSource = Seq("v"))
    assert(partFiles(dir).size > 4)
    Acid.compact(spark, dir, numFiles = 2)
    assert(partFiles(dir).size == 2)
    val got = spark.read.parquet(dir)
    assert(got.count() == 401)
    assert(got.select(sum("k")).as[Long].head() == (1L to 400L).sum + 9001L)
  }

  test("CoW update with no matching rows leaves the table untouched") {
    val dir = tools.Tmp.dir("acid_spec") + "/t"
    writeKv(dir)
    val before = partFiles(dir)
    Acid.updateWhere(spark, dir, col("k") > 9999, Map("v" -> lit("X")))
    assert(partFiles(dir) == before)
  }

  test("parse_url_tuple extracts parts; malformed URLs and unknown parts are null") {
    Seq("https://user@example.com/a/b?x=1&y=2#frag", ":::not a url")
      .toDF("url").createOrReplaceTempView("r2_urls")
    val rows = spark.sql(
      """SELECT t.* FROM r2_urls
         LATERAL VIEW parse_url_tuple(url,
           'HOST', 'PATH', 'QUERY:y', 'USERINFO', 'REF', 'NOPE') t""")
      .collect().sortBy(r => String.valueOf(r.getString(0)))
    assert(rows.length == 2)
    val bad = rows.find(_.getString(0) == null).get
    assert((0 until 6).forall(bad.isNullAt))
    val ok = rows.find(_.getString(0) != null).get
    assert(ok.getString(0) == "example.com" && ok.getString(1) == "/a/b")
    assert(ok.getString(2) == "2" && ok.getString(3) == "user")
    assert(ok.getString(4) == "frag" && ok.isNullAt(5))
  }

  test("dedup resolve: LSH chain output equals the exact all-pairs resolution") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val near = (1 to 57).map(i => s"w$i").mkString(" ") + " x1 x2 x3"
    val far = (100 to 160).map(i => s"v$i").mkString(" ")
    val docs = Seq(0L -> base, 1L -> near, 2L -> far).toDF("doc_id", "text")
    val kept = Dedup.resolve(docs).as[Long].collect().sorted.toSeq
    // 0 and 1 share 57/63 tokens (jaccard 0.905 >= 0.85): 1 drops, 2 stays
    assert(kept == Seq(0L, 2L))
  }

  test("LSH band candidates recall every true >=0.85-jaccard pair (fixture)") {
    // deterministic: xxhash64 is seeded, the fixture is fixed — this is
    // the no-false-negative property d06's oracle equality relies on
    val docs = Tables.t(spark, sf, "documents").filter($"doc_id" < 150)
    val exact = Dedup.tokenJaccardPairs(docs).filter($"jac" >= 0.85)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Dedup.minhashCandidates(
      Dedup.minhashSignatures(Dedup.shingles(docs, w = 1), 64), 64, 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain near-dup pairs")
    val missed = exact -- cand
    assert(missed.isEmpty, s"LSH missed ${missed.size}/${exact.size} true pairs: $missed")
  }

  test("simhash banding recalls every pair the pigeonhole guarantees (fixture)") {
    // 4 bands of 16 bits: any pair at hamming <= 3 MUST agree on >= 1
    // band (pigeonhole) — banding is exact, not approximate, there
    val docs = Tables.t(spark, sf, "documents").filter($"doc_id" < 150)
    val sig = Dedup.simhash(docs)
    val exact = sig.as("a").crossJoin(sig.as("b"))
      .filter($"a.doc_id" < $"b.doc_id")
      .filter(bit_count($"a.simhash".bitwiseXOR($"b.simhash")) <= 3)
      .select($"a.doc_id", $"b.doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = Dedup.simhashPairs(docs, maxHamming = 3)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == exact, s"banding must equal all-pairs at hamming<=3; " +
      s"missed ${(exact -- banded).size}, extra ${(banded -- exact).size}")
  }

  test("m02 frame sampling is a pure narrow map — Generate, no Exchange") {
    val p = Registry.byName("m02_frame_sample").fn(spark, sf)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("Generate"))
    assert(!p.contains("Exchange"), s"frame sampling must not shuffle:\n$p")
  }

  test("d06/s04/t06 plans block by band/cluster — no cartesian product anywhere") {
    for (name <- Seq("d06_dedup_resolve", "s04_embed_neardup_ivf",
                     "t06_corpus_pipeline2")) {
      val p = Registry.byName(name).fn(spark, sf)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(!p.contains("CartesianProduct"), s"$name plan has a cartesian join")
    }
  }

  test("in_file matches whole lines only, null str -> null, codegen path") {
    val f = java.nio.file.Paths.get(tools.Tmp.dir("infile_spec"), "dict.txt")
    java.nio.file.Files.write(f, "alpha\nbeta\n".getBytes("UTF-8"))
    // force doGenCode (no interpreted fallback) for the assertion
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      Seq(Some("alpha"), Some("alph"), Some("beta "), None).toDF("s")
        .createOrReplaceTempView("infile_t")
      val got = spark.sql(s"SELECT in_file(s, '$f') FROM infile_t")
        .collect().map(r => if (r.isNullAt(0)) null else r.getBoolean(0))
      assert(got.toSeq == Seq(true, false, false, null))
      // null filename -> null (Hive UDFInFile semantics), not false
      val nf = spark.sql("SELECT in_file(s, CAST(NULL AS STRING)) FROM infile_t")
        .collect().map(r => if (r.isNullAt(0)) null else r.getBoolean(0))
      assert(nf.forall(_ == null))
    } finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.fallback", "true")
    }
  }

  test("streaming upsert merges each micro-batch into the CoW table") {
    val srcDir = tools.Tmp.dir("upsert_src")
    val tbl = tools.Tmp.dir("upsert_tbl") + "/t"
    val ckpt = tools.Tmp.dir("upsert_ckpt")

    def addFile(rows: Seq[(Long, String, Long)], name: String, mtime: Long): Unit = {
      val stage = tools.Tmp.dir("upsert_stage")
      rows.toDF("k", "v", "ord").coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(srcDir, name)
      java.nio.file.Files.move(part.toPath, dst)
      dst.toFile.setLastModified(mtime): Unit
    }
    // two files = two micro-batches (maxFilesPerTrigger=1, mtime-ordered);
    // batch 1 bootstraps; batch 2 updates k=2 (latest ord wins within the
    // batch) and inserts k=3
    val t0 = System.currentTimeMillis() - 60000
    addFile(Seq((1L, "a1", 1L), (2L, "a2", 1L)), "b1.parquet", t0)
    addFile(Seq((2L, "b2-old", 2L), (2L, "b2", 3L), (3L, "b3", 2L)), "b2.parquet", t0 + 30000)

    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = graft.streaming.EventStreams.upsertStream(
      stream, tbl, keys = Seq("k"), setFromSource = Seq("v", "ord"),
      ordCol = "ord", checkpointDir = ckpt)
    q.awaitTermination()

    val got = spark.read.parquet(tbl).select("k", "v").as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq(1L -> "a1", 2L -> "b2", 3L -> "b3"))
  }

  test("streaming upsert restart from checkpoint processes only new files") {
    val srcDir = tools.Tmp.dir("upsert2_src")
    val tbl = tools.Tmp.dir("upsert2_tbl") + "/t"
    val ckpt = tools.Tmp.dir("upsert2_ckpt")
    def run(): Unit = {
      val schema = spark.read.parquet(srcDir).schema
      val stream = spark.readStream.schema(schema).parquet(srcDir)
      graft.streaming.EventStreams.upsertStream(
        stream, tbl, keys = Seq("k"), setFromSource = Seq("v", "ord"),
        ordCol = "ord", checkpointDir = ckpt).awaitTermination()
    }
    def addFile(rows: Seq[(Long, String, Long)], name: String): Unit = {
      val stage = tools.Tmp.dir("upsert2_stage")
      rows.toDF("k", "v", "ord").coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(srcDir, name)): Unit
    }
    addFile(Seq((1L, "a1", 1L), (2L, "a2", 1L)), "b1.parquet")
    run() // first run bootstraps the table
    addFile(Seq((2L, "b2", 2L), (3L, "b3", 2L)), "b2.parquet")
    run() // restart: checkpoint skips b1, merges only b2
    val got = spark.read.parquet(tbl).select("k", "v").as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq(1L -> "a1", 2L -> "b2", 3L -> "b3"))
  }

  test("frameSample slices cover the payload exactly; empty payload -> no frames") {
    val docs = Seq((0L, "abcdefghij", "s"), (1L, "", "s"), (2L, "xyz", "s"))
      .toDF("doc_id", "text", "source")
    val media = graft.operators.Multimodal.asMedia(docs)
    val frames = graft.operators.Multimodal.frameSample(media, stride = 4)
      .select($"doc_id", $"frame_id", $"frame".cast("string").as("f"))
      .collect().groupBy(_.getLong(0))
    // 10 bytes / stride 4 -> 3 frames, concatenation reconstructs payload
    val d0 = frames(0L).sortBy(_.getInt(1)).map(_.getString(2))
    assert(d0.toSeq == Seq("abcd", "efgh", "ij"))
    assert(!frames.contains(1L))
    assert(frames(2L).map(_.getString(2)).toSeq == Seq("xyz"))
  }

  test("kmeans centroids recover well-separated clusters") {
    // 30 vectors in 3 axis-aligned clusters, ids interleaved so the
    // deterministic init (lowest ids) starts with one seed per cluster
    val rows = (0 until 30).map { i =>
      val c = i % 3
      val jitter = 0.01f * (i / 3)
      val v = Array.tabulate(3)(d => if (d == c) 1.0f else jitter)
      (i.toLong, v)
    }
    val emb = Similarity.prep(rows.toDF("vec_id", "embedding"))
    val cents = Similarity.kmeansCentroids(emb, k = 3, iters = 4)
      .select("emb").as[Seq[Double]].collect()
    assert(cents.length == 3)
    val argmaxes = cents.map(c => c.indexOf(c.max)).toSet
    assert(argmaxes == Set(0, 1, 2), s"centroids collapsed: ${cents.toSeq}")
  }

  test("percentile_approx tracks the exact percentile within accuracy bound") {
    // accuracy=10000 bounds rank error by n/10000; the fixture is far
    // smaller, so approx and exact must agree on the value grid
    val li = Tables.t(spark, sf, "lineitem")
    val rows = li.groupBy("l_returnflag")
      .agg(percentile_approx(col("l_quantity"), lit(0.5), lit(10000)).as("approx"),
        expr("percentile(l_quantity, 0.5)").as("exact"))
      .select("approx", "exact").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) <= 1.0,
        s"approx ${r.getDouble(0)} vs exact ${r.getDouble(1)}")
    }
  }

  test("approx_count_distinct stays within its declared error bound") {
    val li = Tables.t(spark, sf, "lineitem")
    val rows = li.groupBy("l_returnflag")
      .agg(countDistinct("l_partkey").as("exact"),
        approx_count_distinct("l_partkey", 0.02).as("approx"))
      .select("exact", "approx").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (exact, approx) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
      // 0.02 is the HLL++ relative standard deviation; 5 sd is generous
      assert(math.abs(approx - exact) / exact <= 0.10,
        s"approx $approx vs exact $exact")
    }
  }

  test("bucketed table: equality filter on the bucket column prunes buckets") {
    // q58 builds the bucketed tables as a side effect
    Registry.byName("q58_bucketed_join").fn(spark, sf).collect()
    // auto-bucketed-scan turns bucketed reading off for bare filters (no
    // shuffle to elide); disable it so the pruning path is observable
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val p = spark.table("graft_tmp.orders_bkt")
        .filter($"o_custkey" === 42L)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(p.contains("SelectedBucketsCount: 1 out of 8"),
        s"bucket pruning missing from plan:\n$p")
    } finally spark.conf.set(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
  }

  test("s04 candidate join is an equi-join on cluster_id") {
    val e = Similarity.prep(Tables.t(spark, sf, "embeddings")).filter($"vec_id" < 60)
    val p = Similarity.neardupIVF(e, e.filter($"vec_id" < 4), minSim = 0.0)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("cluster_id"))
    assert(!p.contains("CartesianProduct"))
  }
}
