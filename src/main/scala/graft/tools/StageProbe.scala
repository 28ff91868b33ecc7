package graft.tools

import org.apache.spark.sql.functions._

/** Per-stage shuffle decomposition for one operator run — the measurement
  * behind "which exchange owns the records" claims (guide §1/§7.2). The
  * ScaleBoard prints one whole-query record count; this prints every
  * stage's shuffle read/write records + bytes so an optimization can be
  * aimed at the exchange that actually dominates.
  *
  * Usage: SPARK_GRAFT_SCALE=30 SPARK_GRAFT_CPUS=32
  *   sbt "runMain graft.tools.StageProbe d11"
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val which = args.headOption.getOrElse("d11")
    val n = sys.env.getOrElse("SPARK_GRAFT_SCALE", "30").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Engine.session(s"local[$cpus]", "graft-stageprobe", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, Long, Long, Long, Long, Long, Long)]
    val runMs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val m = si.taskMetrics
          if (m != null) rows += ((si.stageId, si.name.takeWhile(_ != '\n').take(60),
            m.shuffleReadMetrics.recordsRead, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.recordsWritten, m.shuffleWriteMetrics.bytesWritten,
            m.inputMetrics.recordsRead, m.inputMetrics.bytesRead))
          runMs.addAndGet(m.executorRunTime): Unit
        }
      })
    val docs = graft.Tables.t(spark, "/root/testdata/sf0.1", "documents")
      .select("doc_id", "text")
    def mat(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.toRdd.count()
    // warmup absorbs JVM/codegen/committer first-touch (Bench convention)
    try {
      mat(graft.SparkEntry.queries("q01_agg")(spark, "/root/testdata/sf0.1"))
      spark.range(100).write.mode("overwrite").parquet(Tmp.dir("probe_warm") + "/w")
    } catch { case _: Throwable => () }
    rows.clear(); runMs.set(0)
    val wall0 = System.nanoTime()
    which match {
      case "d11" =>
        val corpus = Soak.scaleDocs(docs.filter(col("doc_id") < 250), n)
        val batch = Soak.scaleDocs(docs.filter(col("doc_id") >= 250), n)
        mat(graft.operators.Dedup.dedupIncrement(corpus, batch)): Unit
      case "d06" =>
        val d = Soak.scaleDocs(docs.filter(col("doc_id") < 150), n)
        mat(graft.operators.Dedup.resolve(d)): Unit
      case "d08" =>
        val d = Soak.scaleDocs(docs.filter(col("doc_id") < 150), n)
        mat(graft.operators.Dedup.clusters(
          graft.operators.Dedup.confirmedPairs(d))): Unit
      case "writers" =>
        // bulk write-path probe for the DSv2 writers (a15/a17 family):
        // 150k orders rows, 3-value dynamic partition column — times the
        // per-row serialize/append loop that a15/a17's 25-row tables
        // cannot exercise locally but 100 TB does
        val orders = graft.Tables.t(spark, "/root/testdata/sf0.1", "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority"), col("o_orderstatus").as("st"))
          .coalesce(4)
        for (fmt <- Seq("graft-seq", "graft-rcfile", "graft-text");
             r <- 1 to 3) {
          val dir = Tmp.dir(s"probe_w_${fmt.drop(6)}") + s"/t$r"
          val t0 = System.nanoTime()
          orders.write.mode("append").option("partitions", "st")
            .format(fmt).save(dir)
          println(f"[writers] $fmt%-12s round $r " +
            f"${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
      case "ddlprof" =>
        // q133's statement sequence with per-statement wall timers —
        // measurement only, the registered query is untouched
        def step(label: String)(body: => Unit): Unit = {
          val t0 = System.nanoTime()
          body
          println(f"[ddlprof] $label%-28s ${(System.nanoTime() - t0) / 1e6}%8.1f ms")
        }
        for (round <- 1 to 3) {
          println(s"[ddlprof] --- round $round ---")
          val whBase = Tmp.dir("graft_trwh_prof")
          step("drop database cascade")(
            spark.sql("DROP DATABASE IF EXISTS graft_trp CASCADE"): Unit)
          step("create database")(
            spark.sql(s"CREATE DATABASE graft_trp LOCATION '$whBase'"): Unit)
          step("create table f")(spark.sql(
            "CREATE TABLE graft_trp.f (s_suppkey BIGINT, s_name STRING) USING parquet"): Unit)
          step("insertInto f (supplier)")(
            graft.Tables.t(spark, "/root/testdata/sf0.1", "supplier")
              .select("s_suppkey", "s_name").write.insertInto("graft_trp.f"))
          step("create table p (part'd)")(spark.sql(
            "CREATE TABLE graft_trp.p (n_nationkey INT) USING parquet PARTITIONED BY (pk INT)"): Unit)
          step("insertInto p (nation)")(
            graft.Tables.t(spark, "/root/testdata/sf0.1", "nation")
              .filter(col("n_regionkey") <= 1)
              .select(col("n_nationkey"), col("n_regionkey").as("pk"))
              .write.insertInto("graft_trp.p"))
          step("TRUNCATE f")(
            spark.sql("TRUNCATE TABLE graft_trp.f"): Unit)
          step("TRUNCATE p PARTITION")(
            spark.sql("TRUNCATE TABLE graft_trp.p PARTITION (pk=0)"): Unit)
          step("read-back union")(
            mat(spark.table("graft_trp.p")
              .select(col("n_nationkey").cast("long").as("k"), col("pk"))
              .unionByName(spark.table("graft_trp.f")
                .agg(count(lit(1)).as("k")).select(col("k"), lit(-1).as("pk")))): Unit)
        }
      case q if q.startsWith("q:") =>
        // any registered bench query, at sf0.1 (table-level phase probe)
        mat(graft.SparkEntry.queries(q.drop(2))(spark, "/root/testdata/sf0.1")): Unit
      case other => sys.error(s"unknown probe $other")
    }
    Checkpoints.sweep()
    println(f"${"stage"}%6s ${"read_recs"}%12s ${"read_MB"}%9s " +
      f"${"write_recs"}%12s ${"write_MB"}%9s ${"scan_recs"}%12s ${"scan_MB"}%9s  name")
    rows.sortBy(_._1).foreach { case (id, name, rr, rb, wr, wb, ir, ib) =>
      if (rr > 0 || wr > 0 || ir > 0)
        println(f"$id%6d $rr%12d ${rb / 1e6}%9.1f $wr%12d ${wb / 1e6}%9.1f " +
          f"$ir%12d ${ib / 1e6}%9.1f  $name")
    }
    val totR = rows.map(_._3).sum
    val totI = rows.map(_._7).sum
    println(f"[probe] total shuffle records read: ${totR / 1e6}%.2fM " +
      f"across ${rows.size} stages; total scan records: ${totI / 1e6}%.2fM " +
      f"(${rows.map(_._8).sum / 1e6}%.1f MB)")
    println(f"[probe] wall ${(System.nanoTime() - wall0) / 1e9}%.2f s, " +
      f"executor task run time ${runMs.get / 1e3}%.2f s " +
      "(wall >> run/cores = driver-side/fixed overhead dominates)")
    spark.stop()
  }
}
