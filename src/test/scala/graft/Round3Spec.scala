package graft

import graft.operators.{Acid, AsOf, Ranges, Sample, UniqueJoin}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Behavior pins for the round-3 operators: graft-avro round-trip fidelity
  * across the full supported type lattice, graft-seq's LazySimpleSerDe
  * layout, as-of tie/null semantics, the range join's no-nested-loop plan
  * shape, deterministic sampling invariants, and compaction's file-count +
  * content contract.
  */
class Round3Spec extends SparkSpec {
  import spark.implicits._

  // ---- Avro ----

  test("avro round-trips every supported type exactly, including nulls") {
    val dir = tools.Tmp.dir("avro_spec") + "/t"
    val src = spark.sql("""
      SELECT * FROM VALUES
        (1L, 7, 1.5D, CAST(2.25 AS FLOAT), 'a', true,
         CAST('ab' AS BINARY), DATE'2024-02-29',
         TIMESTAMP'2024-02-29 12:34:56.123456',
         array(CAST(1.5 AS FLOAT), CAST(-2.5 AS FLOAT)), array('x','y')),
        (2L, CAST(NULL AS INT), CAST(NULL AS DOUBLE), CAST(NULL AS FLOAT),
         CAST(NULL AS STRING), CAST(NULL AS BOOLEAN), CAST(NULL AS BINARY),
         CAST(NULL AS DATE), CAST(NULL AS TIMESTAMP),
         CAST(NULL AS ARRAY<FLOAT>), CAST(NULL AS ARRAY<STRING>))
      AS t(id, i, d, f, s, b, bin, dt, ts, af, as)""")
    src.write.format("graft-avro").mode("overwrite").save(dir)
    val back = spark.read.format("graft-avro").load(dir)
    // avro tables are all-nullable ([null, T] unions, Hive semantics), so
    // compare against the nullable-normalized source schema
    val srcNullable = org.apache.spark.sql.types.StructType(
      src.schema.fields.map(_.copy(nullable = true)))
    assert(back.schema == srcNullable)
    val a = src.orderBy("id").collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq; case x => x
    })
    val b = back.orderBy("id").collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq; case x => x
    })
    assert(a.toSeq == b.toSeq)
  }

  test("avro write emits one container file per non-empty partition") {
    def write(df: org.apache.spark.sql.DataFrame, dir: String): Int = {
      df.write.format("graft-avro").mode("overwrite").save(dir)
      Option(new java.io.File(dir).listFiles).toSeq.flatten
        .count(_.getName.endsWith(".avro"))
    }
    val dir = tools.Tmp.dir("avro_spec") + "/parts"
    assert(write((1 to 100).toDF("n").repartition(5), dir) == 5)
    assert(spark.read.format("graft-avro").load(dir).agg(sum("n")).as[Long].head() == 5050L)
    // a write task that receives no rows leaves no file: 3 rows over 8
    // range slices leave 5 slices empty
    val sparse = tools.Tmp.dir("avro_spec") + "/sparse"
    assert(write(spark.range(0, 3, 1, 8).toDF("n"), sparse) == 3)
  }

  test("graft-avro dsv2 prunes columns into the avro reader schema") {
    val dir = tools.Tmp.dir("avro_v2_spec") + "/t"
    Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("k", "s", "v")
      .write.format("graft-avro").mode("overwrite").save(dir)
    val pruned = spark.read.format("graft-avro").load(dir).select("k")
    val plan = pruned.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("graft-avro ReadSchema: k"), plan)
    assert(pruned.as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // full read round-trips
    val back = spark.read.format("graft-avro").load(dir)
    assert(back.orderBy("k").as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "a", 1.5), (2L, "b", 2.5)))
  }

  test("avro round-trips an empty dataset and null array elements") {
    val dir = tools.Tmp.dir("avro_spec") + "/empty"
    val src = spark.sql("SELECT CAST(1 AS BIGINT) AS k, array('a', CAST(NULL AS STRING)) AS xs")
    src.filter($"k" < 0).write.format("graft-avro").mode("overwrite").save(dir) // zero rows
    // zero rows write no container, so the schema comes from the reader,
    // as a Hive table declares it
    val empty = spark.read.format("graft-avro").schema("k BIGINT, xs ARRAY<STRING>").load(dir)
    assert(empty.count() == 0 && empty.schema.fieldNames.toSeq == Seq("k", "xs"))
    Engine.ddl(spark, "DROP TABLE IF EXISTS r3_avempty")
    Engine.ddl(spark,
      s"CREATE TABLE r3_avempty (k BIGINT, xs ARRAY<STRING>) STORED AS AVRO LOCATION '$dir'")
    try assert(spark.table("r3_avempty").count() == 0)
    finally Engine.ddl(spark, "DROP TABLE r3_avempty")
    val dir2 = tools.Tmp.dir("avro_spec") + "/nullelem"
    src.write.format("graft-avro").mode("overwrite").save(dir2) // array containing a null element
    assert(spark.read.format("graft-avro").load(dir2).select(explode($"xs"))
      .as[Option[String]].collect().toSet == Set(Some("a"), None))
  }

  // ---- as-of join ----

  test("asof join takes the latest right row at-or-before each left time") {
    val left = Seq((1L, 10L, "e1"), (1L, 3L, "e2"), (2L, 7L, "e3"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 5L, "r5"), (1L, 9L, "r9"), (1L, 10L, "r10"),
      (3L, 1L, "rx")).toDF("k", "t", "v")
    val got = AsOf.join(left, right, "k", "t", "t", Seq("v"))
      .select("tag", "v").as[(String, Option[String])].collect().toMap
    // t=10 ties with the right row at 10 → >= semantics take it
    assert(got == Map("e1" -> Some("r10"), "e2" -> None, "e3" -> None))
  }

  test("asof join never matches a NULL-time right row (DuckDB semantics)") {
    val left = Seq((1L, Some(5L), "e1"), (1L, None, "e2")).toDF("k", "t", "tag")
    val right = Seq((1L, None: Option[Long], "bad"), (1L, Some(3L), "ok"))
      .toDF("k", "t", "v")
    val got = AsOf.join(left, right, "k", "t", "t", Seq("v"))
      .select("tag", "v").as[(String, Option[String])].collect().toMap
    // the NULL-time right row must never win; NULL-time left rows match nothing
    assert(got == Map("e1" -> Some("ok"), "e2" -> None))
  }

  test("asof join is a single-shuffle window plan, not a nested loop") {
    val ev = Tables.t(spark, sf, "events")
    val clicks = ev.filter($"event_type" === "click").select("event_id", "user_id", "ts")
    val pur = ev.filter($"event_type" === "purchase")
      .groupBy("user_id", "ts").agg(max("value").as("pval"))
    val plan = AsOf.join(clicks, pur, "user_id", "ts", "ts", Seq("pval"))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!plan.contains("NestedLoop"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Window"), plan)
  }

  // ---- range join ----

  test("range join matches the naive inequality join") {
    val pts = Seq((1L, 0.5), (2L, 7.0), (3L, 12.3), (4L, 25.0)).toDF("pid", "v")
    val iv = Seq((10L, 0.0, 8.0), (20L, 7.0, 13.0), (30L, 30.0, 40.0))
      .toDF("iid", "lo", "hi")
    val got = Ranges.pointInInterval(pts, "v", iv, "lo", "hi", 5.0)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    val naive = pts.crossJoin(iv).filter($"v" >= $"lo" && $"v" <= $"hi")
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    assert(got == naive)
    assert(got == Set((1L, 10L), (2L, 10L), (2L, 20L), (3L, 20L)))
  }

  test("range join plans as an equi-join on bins, never a nested loop") {
    val pts = Tables.t(spark, sf, "events").select($"event_id", ($"value" * 2).as("v"))
    val iv = Tables.t(spark, sf, "part")
      .select($"p_partkey", ($"p_retailprice" - 2).as("lo"), ($"p_retailprice" + 2).as("hi"))
    val plan = Ranges.pointInInterval(pts, "v", iv, "lo", "hi", 5.0)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!plan.contains("NestedLoop"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  // ---- decontamination ----

  test("decontaminate drops exactly the docs sharing an n-gram with bench") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),      // shares 2-gram "beta gamma"
      (2L, "epsilon zeta eta theta"),      // clean
      (3L, "short"),                       // < n words, can't be contaminated
      (4L, "iota kappa beta gamma")        // shares "beta gamma"
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "beta gamma omicron pi")).toDF("doc_id", "text")
    val kept = graft.operators.Dedup.decontaminate(docs, bench, n = 2)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(2L, 3L))
  }

  test("decontaminate broadcasts bench grams; anti-join has no forced broadcast") {
    val docs = Tables.t(spark, sf, "documents").filter($"doc_id" < 480)
    val bench = Tables.t(spark, sf, "documents").filter($"doc_id" >= 480)
    val df = graft.operators.Dedup.decontaminate(docs, bench, 4)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the bench-gram semi join is pinned broadcast (bench is small by definition)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert("(?s)BroadcastHashJoin.*LeftSemi".r.findFirstIn(plan).nonEmpty, plan)
    assert(!plan.contains("NestedLoop"), plan)
    // the contaminated-id anti-join deliberately carries NO broadcast hint
    // (the set is corpus-proportional under heavy leakage); at this small
    // scale AQE's runtime stats still turn it into a broadcast join
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("LeftAnti"), finalPlan)
    assert("(?s)BroadcastHashJoin.*LeftAnti|LeftAnti, BuildRight".r
      .findFirstIn(finalPlan).nonEmpty, finalPlan)
  }

  // ---- deterministic sampling ----

  test("stratified sample is deterministic, stratum-scoped, and rate-shaped") {
    val ev = Tables.t(spark, sf, "events")
    val rates = Map("click" -> 0.25, "purchase" -> 1.0)
    val s1 = Sample.stratified(ev, $"event_type", $"event_id", rates)
      .select("event_id").as[Long].collect().toSet
    val s2 = Sample.stratified(ev.repartition(13), $"event_type", $"event_id", rates)
      .select("event_id").as[Long].collect().toSet
    assert(s1 == s2) // partitioning-independent
    val byType = Sample.stratified(ev, $"event_type", $"event_id", rates)
      .groupBy("event_type").count().as[(String, Long)].collect().toMap
    val totals = ev.groupBy("event_type").count().as[(String, Long)].collect().toMap
    assert(byType.keySet == Set("click", "purchase")) // absent strata dropped
    assert(byType("purchase") == totals("purchase")) // rate 1.0 keeps all
    val clickRate = byType("click").toDouble / totals("click")
    assert(clickRate > 0.15 && clickRate < 0.35, s"click rate $clickRate")
  }

  // ---- sequencefile ----

  test("sequencefile round-trips the LazySimpleSerDe layout incl. nulls") {
    val dir = tools.Tmp.dir("seq_spec") + "/t"
    val src = Seq((1L, Some("a"), Some(10L)), (2L, None, None), (3L, Some("c"), Some(30L)))
      .toDF("k", "s", "v")
    src.write.format("graft-seq").mode("overwrite").save(dir)
    val back = spark.read.format("graft-seq").schema("k BIGINT, s STRING, v BIGINT").load(dir)
    assert(back.orderBy("k").collect().toSeq == src.orderBy("k").collect().toSeq)
  }

  test("sequencefile round-trips quote and backslash characters verbatim") {
    val dir = tools.Tmp.dir("seq_spec") + "/quotes"
    val src = Seq((1L, "\"quoted\" start"), (2L, "back\\slash"), (3L, "a\"b"))
      .toDF("k", "s")
    src.write.format("graft-seq").mode("overwrite").save(dir)
    val back = spark.read.format("graft-seq").schema("k BIGINT, s STRING").load(dir)
    assert(back.orderBy("k").collect().toSeq == src.orderBy("k").collect().toSeq)
  }

  // ---- uniquejoin ----

  test("uniquejoin: PRESERVE keeps unmatched keys, non-PRESERVE requires them") {
    val a = Seq((1L, "a1"), (2L, "a2")).toDF("ak", "av")
    val b = Seq((2L, "b2"), (3L, "b3")).toDF("bk", "bv")
    val c = Seq((1L, "c1"), (2L, "c2"), (3L, "c3"), (4L, "c4")).toDF("ck", "cv")
    // all PRESERVE → n-way full outer: keys 1,2,3,4
    val full = UniqueJoin(Seq((a, $"ak", true), (b, $"bk", true), (c, $"ck", true)))
    assert(full.select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    // none PRESERVE → n-way inner: key 2 only
    val inner = UniqueJoin(Seq((a, $"ak", false), (b, $"bk", false), (c, $"ck", false)))
    assert(inner.select("k").as[Long].collect().toSeq == Seq(2L))
    // mixed: a,b preserved, c required → keys (1,2,3); c4 dropped, nulls kept
    val mixed = UniqueJoin(Seq((a, $"ak", true), (b, $"bk", true), (c, $"ck", false)))
    val rows = mixed.select("k", "av", "bv", "cv")
      .as[(Long, Option[String], Option[String], Option[String])].collect().sortBy(_._1).toSeq
    assert(rows == Seq(
      (1L, Some("a1"), None, Some("c1")),
      (2L, Some("a2"), Some("b2"), Some("c2")),
      (3L, None, Some("b3"), Some("c3"))))
  }

  test("range join composes as a stream-static join, nested-loop-free") {
    val dir = tools.Tmp.dir("range_stream") + "/src"
    val batchPts = Tables.t(spark, sf, "events").filter($"event_type" === "purchase")
      .select($"event_id", ($"value" * 4).as("v"))
    batchPts.write.mode("overwrite").parquet(dir)
    val streamPts = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
    val iv = Tables.t(spark, sf, "part").filter($"p_partkey" <= 200)
      .select($"p_partkey", ($"p_retailprice" - 2).as("lo"), ($"p_retailprice" + 2).as("hi"))
    val q = graft.operators.Ranges.pointInInterval(streamPts, "v", iv, "lo", "hi", 5.0)
      .select("event_id", "p_partkey")
      .writeStream.format("memory").queryName("range_out")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("range_out").as[(Long, Long)].collect().toSet
    val batched = graft.operators.Ranges.pointInInterval(batchPts, "v", iv, "lo", "hi", 5.0)
      .select("event_id", "p_partkey").as[(Long, Long)].collect().toSet
    assert(streamed == batched)
  }

  // ---- streaming composability ----

  test("stratified sample composes onto a stream with batch-identical output") {
    val dir = tools.Tmp.dir("sample_stream") + "/src"
    val batch = Tables.t(spark, sf, "events")
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    val rates = Map("click" -> 0.25, "purchase" -> 1.0)
    val q = graft.operators.Sample.stratified(stream, $"event_type", $"event_id", rates)
      .select("event_id").writeStream.format("memory").queryName("sample_out")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sample_out").as[Long].collect().toSet
    val batched = graft.operators.Sample.stratified(batch, $"event_type", $"event_id", rates)
      .select("event_id").as[Long].collect().toSet
    assert(streamed == batched) // stateless narrow op: identical verdicts
  }

  test("runtime bloom-filter injection prunes the probe side pre-shuffle") {
    // Spark's runtime bloom filter (the scale path for selective joins)
    // stays off at fixture sizes; lower the thresholds to observe the
    // injected bloom_filter_might_contain on the probe side of the join.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val big = Tables.t(spark, sf, "lineitem")
      val small = Tables.t(spark, sf, "orders").filter($"o_totalprice" > 400000)
      val plan = big.join(small, $"l_orderkey" === $"o_orderkey")
        .groupBy("o_orderstatus").count()
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        plan.take(2000))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("catalog partition pruning reaches the scan of a discovered table") {
    val base = tools.Tmp.dir("prune_spec") + "/t"
    val n = Tables.t(spark, sf, "nation")
    n.filter($"n_regionkey" <= 1).select("n_nationkey").write.parquet(base + "/p=0")
    n.filter($"n_regionkey" > 1).select("n_nationkey").write.parquet(base + "/p=1")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
    spark.sql("DROP TABLE IF EXISTS graft_tmp.prune_t")
    spark.sql(s"""CREATE TABLE graft_tmp.prune_t (n_nationkey BIGINT)
                 USING parquet PARTITIONED BY (p INT) LOCATION '$base'""")
    spark.sql("MSCK REPAIR TABLE graft_tmp.prune_t")
    val q = spark.sql("SELECT count(*) FROM graft_tmp.prune_t WHERE p = 0")
    val plan = q.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the scan must carry the partition predicate (AQE wraps the physical
    // scan, so assert on the formatted plan), and the result must be
    // exactly the p=0 slice (pruning correct by value)
    assert("PartitionFilters: \\[isnotnull\\(p#\\d+\\), \\(p#\\d+ = 0\\)".r
      .findFirstIn(plan).isDefined, plan)
    val expected = n.filter($"n_regionkey" <= 1).count()
    assert(q.as[Long].head() == expected)
  }

  // ---- compaction ----

  test("compact coalesces to the requested file count, content-preserving") {
    val dir = tools.Tmp.dir("compact_spec") + "/t"
    (1L to 500L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartition(8).write.mode("overwrite").parquet(dir)
    val before = spark.read.parquet(dir).orderBy("k").collect().toSeq
    Acid.compact(spark, dir, 2)
    val files = Option(new java.io.File(dir).listFiles).toSeq.flatten
      .map(_.getName).filter(n => n.endsWith(".parquet") && !n.startsWith("_"))
    assert(files.size == 2, files)
    assert(spark.read.parquet(dir).orderBy("k").collect().toSeq == before)
  }
}
