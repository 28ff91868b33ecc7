package graft

import graft.operators.{Dedup, GlobalRank}
import graft.tools.Checkpoints
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Round-5 hygiene pins: localCheckpoint storage must not outlive the
  * operator (superseded generations) or the query (final result — swept by
  * the harness), and the global distribution functions must not rescan the
  * input for the total row count.
  */
class Round5Spec extends SparkSpec {
  import spark.implicits._

  private def persistentCount: Int = spark.sparkContext.getPersistentRDDs.size

  test("clusters releases superseded checkpoints; sweep drops the final one") {
    Checkpoints.sweep()
    val base = persistentCount
    // path graph: many iterations → many superseded generations
    val pairs = (0 until 40).map(i => (i.toLong, i.toLong + 1)).toDF("da", "db")
    Dedup.clusters(pairs).count()
    // only the final label checkpoint may still be pinned (edges and every
    // superseded generation were released inside the loop)
    assert(persistentCount <= base + 1,
      s"leaked checkpoints: ${spark.sparkContext.getPersistentRDDs.keys}")
    Checkpoints.sweep()
    assert(persistentCount == base)
  }

  test("global rank checkpoint is released by the harness sweep") {
    Checkpoints.sweep()
    val base = persistentCount
    val c = Tables.t(spark, sf, "customer").select("c_custkey", "c_acctbal")
    GlobalRank.rank(c, Seq(col("c_acctbal").desc), Seq(col("c_acctbal")),
      Seq(col("c_custkey").asc)).count()
    assert(persistentCount == base + 1)
    Checkpoints.sweep()
    assert(persistentCount == base)
  }

  test("MERGE delete branch: each source row takes exactly one branch") {
    import spark.implicits._
    val tbl = tools.Tmp.dir("merge_del_spec") + "/t"
    Seq((1L, "F", "x"), (2L, "O", "x"), (3L, "F", "x"), (150L, "F", "x"))
      .toDF("k", "st", "pr").repartition(2).write.parquet(tbl)
    val src = Seq((1L, "F", "NEW"), (2L, "O", "NEW"), (3L, "F", "NEW"),
      (150L, "F", "NEW"), (999L, "O", "NEW")).toDF("k", "st", "pr")
    graft.operators.Acid.mergeInto(spark, tbl, src,
      keys = Seq("k"), setFromSource = Seq("pr"),
      deleteMatched = Some(col("k") < 100 && col("st") === "F"))
    val got = spark.read.parquet(tbl).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(2)))
    // 1 and 3 are MATCHED + delete-predicate rows: they must be deleted,
    // and must NOT re-enter through the not-matched insert branch
    assert(got.toSeq == Seq((2L, "NEW"), (150L, "NEW"), (999L, "NEW")))
  }

  test("fused cosine_sim equals the composed form bit-for-bit, codegen path") {
    val e = graft.operators.Similarity.prep(Tables.t(spark, sf, "embeddings"))
    e.createOrReplaceTempView("cos_spec_e")
    // force doGenCode (no interpreted fallback) for the assertion
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      // same accumulation order → exact equality, not approximate
      val diff = spark.sql(
        """SELECT a.vec_id, b.vec_id,
             cosine_sim(a.emb, b.emb) AS fused,
             aggregate(zip_with(a.emb, b.emb, (x, y) -> x * y), 0D, (acc, v) -> acc + v)
               / (sqrt(aggregate(a.emb, 0D, (acc, v) -> acc + v * v))
                  * sqrt(aggregate(b.emb, 0D, (acc, v) -> acc + v * v))) AS composed
           FROM cos_spec_e a JOIN cos_spec_e b
             ON a.vec_id < 20 AND b.vec_id < 20 AND a.vec_id < b.vec_id""")
        .filter(col("fused") =!= col("composed")).count()
      assert(diff == 0)
      // null semantics: null array, null element, length mismatch, zero norm
      val edge = spark.sql(
        """SELECT cosine_sim(CAST(NULL AS ARRAY<DOUBLE>), array(1D)) AS a,
                  cosine_sim(array(1D, CAST(NULL AS DOUBLE)), array(1D, 2D)) AS b,
                  cosine_sim(array(1D), array(1D, 2D)) AS c,
                  cosine_sim(array(0D, 0D), array(1D, 2D)) AS d,
                  cosine_sim(array(3D, 4D), array(3D, 4D)) AS e""").collect().head
      assert(edge.isNullAt(0) && edge.isNullAt(1) && edge.isNullAt(2) && edge.isNullAt(3))
      assert(math.abs(edge.getDouble(4) - 1.0) < 1e-12)
    } finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.fallback", "true")
    }
  }

  test("LOAD DATA moves bytes, honors OVERWRITE and PARTITION specs") {
    val base = tools.Tmp.dir("load_spec")
    val src = Tables.t(spark, sf, "nation").select("n_nationkey", "n_name")
    src.filter(col("n_nationkey") < 10).write.parquet(base + "/s1")
    src.filter(col("n_nationkey") >= 10).write.parquet(base + "/s2")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
    spark.sql("DROP TABLE IF EXISTS graft_tmp.load_spec_t")
    spark.sql(s"""CREATE TABLE graft_tmp.load_spec_t (n_nationkey BIGINT, n_name STRING)
                 USING parquet LOCATION '$base/tbl'""")
    Engine.ddl(spark, s"LOAD DATA INPATH '$base/s1' INTO TABLE graft_tmp.load_spec_t")
    Engine.ddl(spark, s"LOAD DATA INPATH '$base/s2' INTO TABLE graft_tmp.load_spec_t")
    assert(spark.table("graft_tmp.load_spec_t").count() == src.count())
    // plain INTO appends; OVERWRITE replaces the directory's files
    Engine.ddl(spark,
      s"LOAD DATA INPATH '$base/s1' OVERWRITE INTO TABLE graft_tmp.load_spec_t")
    assert(spark.table("graft_tmp.load_spec_t").count() ==
      src.filter(col("n_nationkey") < 10).count())
    // byte move, not a rewrite: same file names+sizes as the staged input
    val staged = new java.io.File(base + "/s1").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => (f.getName, f.length)).toSet
    val landed = new java.io.File(base + "/tbl").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => (f.getName, f.length)).toSet
    assert(landed == staged)
    // PARTITION spec routes into the partition subdir and registers it
    spark.sql("DROP TABLE IF EXISTS graft_tmp.load_spec_p")
    spark.sql(s"""CREATE TABLE graft_tmp.load_spec_p
                 (n_nationkey BIGINT, n_name STRING, side STRING)
                 USING parquet PARTITIONED BY (side) LOCATION '$base/ptbl'""")
    Engine.ddl(spark,
      s"LOAD DATA INPATH '$base/s2' INTO TABLE graft_tmp.load_spec_p PARTITION (side = 'hi')")
    val part = spark.table("graft_tmp.load_spec_p").filter(col("side") === "hi")
    assert(part.count() == src.filter(col("n_nationkey") >= 10).count())
    assert(new java.io.File(base + "/ptbl/side=hi").isDirectory)
  }

  test("partitioned export/import keeps layout and prunes on read") {
    import graft.operators.ExportImport
    val base = tools.Tmp.dir("exp_part_spec")
    val src = Tables.t(spark, sf, "orders").filter(col("o_orderkey") < 500)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    ExportImport.exportTable(src, base + "/exp", partitionBy = Seq("o_orderstatus"))
    // the snapshot holds the Hive partition-directory layout
    assert(new java.io.File(base + "/exp/data/o_orderstatus=O").isDirectory)
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
    spark.sql("DROP TABLE IF EXISTS graft_tmp.exp_part_spec_t")
    val back = ExportImport.importTable(
      spark, base + "/exp", "graft_tmp.exp_part_spec_t", base + "/tbl")
    val pruned = back.filter(col("o_orderstatus") === "O")
    val plan = pruned.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters") &&
      plan.contains("o_orderstatus"), plan)
    assert(pruned.select("o_orderkey").except(
      src.filter(col("o_orderstatus") === "O").select("o_orderkey")).isEmpty)
    assert(back.count() == src.count())
  }

  test("image header parser walks real container structure") {
    import graft.operators.Multimodal
    // synthesized payloads round-trip
    assert(Multimodal.parseImage(Multimodal.synthPayload(42L)) ==
      Some(("image/png", 16 + 42, 16 + (42 * 7) % 480)))
    assert(Multimodal.parseImage(Multimodal.synthPayload(43L)) ==
      Some(("image/jpeg", 16 + 43, 16 + (43 * 7) % 480)))
    // JPEG whose SOF sits behind EXTRA segments (APP1 + COM) — the parser
    // must skip by each segment's declared length, not assume an offset
    val app1 = Array(0xFF, 0xE1, 0x00, 0x06, 1, 2, 3, 4).map(_.toByte)
    val com = Array(0xFF, 0xFE, 0x00, 0x04, 7, 7).map(_.toByte)
    val base = Multimodal.synthPayload(43L)
    val shifted = base.take(2) ++ app1 ++ com ++ base.drop(2)
    assert(Multimodal.parseImage(shifted) ==
      Some(("image/jpeg", 16 + 43, 16 + (43 * 7) % 480)))
    // PNG with an ancillary chunk before IHDR still resolves via chunk walk
    val png = Multimodal.synthPayload(42L)
    val junkChunk = Array[Byte](0, 0, 0, 2) ++ "tEXt".getBytes ++
      Array[Byte](9, 9) ++ Array[Byte](0, 0, 0, 0)
    val pngShifted = png.take(8) ++ junkChunk ++ png.drop(8)
    assert(Multimodal.parseImage(pngShifted) ==
      Some(("image/png", 16 + 42, 16 + (42 * 7) % 480)))
    // garbage and truncation degrade to None, not a crash
    assert(Multimodal.parseImage("not an image".getBytes).isEmpty)
    assert(Multimodal.parseImage(png.take(10)).isEmpty)
    assert(Multimodal.parseImage(Array.empty[Byte]).isEmpty)
  }

  test("multi-insert SQL: subquery source, view hygiene, single shared scan") {
    spark.sql("DROP TABLE IF EXISTS g_mi_x")
    spark.sql("DROP TABLE IF EXISTS g_mi_y")
    spark.sql("CREATE TABLE g_mi_x (k BIGINT) USING parquet")
    spark.sql("CREATE TABLE g_mi_y (s STRING, n BIGINT) USING parquet")
    // aliased subquery source: branch SELECTs resolve via the alias
    Engine.sql(spark, sf,
      """FROM (SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey < 100) src
         INSERT OVERWRITE TABLE g_mi_x SELECT src.o_orderkey WHERE src.o_orderstatus = 'O'
         INSERT OVERWRITE TABLE g_mi_y SELECT src.o_orderstatus, count(*) GROUP BY src.o_orderstatus""")
    val x = spark.table("g_mi_x").count()
    val y = spark.table("g_mi_y").as[(String, Long)].collect().toMap
    assert(y.values.sum == Tables.t(spark, sf, "orders")
      .filter(col("o_orderkey") < 100).count())
    assert(y("O") == x)
    // the engine's fixture view survives the statement (the shared scan
    // uses its own view name, dropped on exit)
    assert(Engine.sql(spark, sf, "SELECT count(*) AS c FROM orders").count() == 1)
    assert(!spark.catalog.tableExists("graft_mi_src"))
  }

  test("distribution derives n from the checkpoint — no second input scan") {
    val c = Tables.t(spark, sf, "customer").select("c_custkey", "c_acctbal")
    val d = GlobalRank.distribution(c, Seq(col("c_acctbal").desc),
      Seq(col("c_acctbal")), Seq(col("c_custkey").asc), buckets = 7)
    // the parquet input is consumed exactly once, while materializing the
    // range-partitioned checkpoint; the returned plan is window arithmetic
    // over that checkpoint and must not contain a second parquet scan
    val plan = d.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!plan.contains("Scan parquet"), plan)
    Checkpoints.sweep()
  }
}
