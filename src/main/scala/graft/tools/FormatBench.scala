package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-format throughput microbench for the graft sources vs the
  * Spark built-ins: write N rows per format, then time (a) a full scan
  * aggregate and (b) a 2-of-6-column projected aggregate, so the RCFile
  * storage-level column skip is measured against formats that prune at
  * the reader (parquet) or not at all (seq text lines split fully).
  *
  * A second table scans 64 small files per format (tasks and seconds),
  * a third splits one large file per graft format.
  *
  * Usage: sbt "runMain graft.tools.FormatBench [rows]" — prints one row
  * per (format, op) with wall seconds, min-of-3 after a warm-up pass.
  * Results recorded in PERF.md §Round 10.
  */
object FormatBench {

  private def time(f: => Long): (Double, Long) = {
    val t0 = System.nanoTime(); val n = f
    ((System.nanoTime() - t0) / 1e9, n)
  }

  private def minOf3(f: => Long): (Double, Long) = {
    val runs = (1 to 3).map(_ => time(f))
    (runs.map(_._1).min, runs.head._2)
  }

  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(1000000L)
    val spark = graft.Engine.session()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val df = spark.range(rows).select(
      col("id").cast("int").as("k"),
      concat(lit("name_"), col("id") % 1000).as("name"),
      (col("id") % 97).cast("double").as("v1"),
      (col("id") % 13).cast("int").as("v2"),
      concat(lit("payload_"), col("id")).as("payload"),
      (col("id") % 7 === 0).as("flag"))

    val formats: Seq[(String, Map[String, String])] = Seq(
      "parquet" -> Map.empty,
      "graft-seq" -> Map.empty,
      "graft-text" -> Map.empty, // LazySimpleSerDe lines (lazy field decode)
      "graft-rcfile" -> Map.empty, // binary (LazyBinaryColumnarSerDe)
      "graft-rcfile-text" -> Map(
        "serde" -> "org.apache.hadoop.hive.serde2.columnar.ColumnarSerDe"),
      "graft-avro" -> Map.empty) // reader-schema projection

    // warm-up: pay JVM/codegen/committer start-up outside every timing
    // (the first-timed format otherwise absorbs it all)
    formats.foreach { case (label, opts) =>
      val fmt = if (label.startsWith("graft-rcfile")) "graft-rcfile" else label
      df.limit(1000).write.format(fmt).options(opts).mode("overwrite")
        .save(Tmp.dir(s"fmtbench_warm_$label") + "/t")
    }

    println(f"${"format"}%-20s ${"write_s"}%8s ${"scan_all_s"}%10s ${"scan_2col_s"}%11s")
    formats.foreach { case (label, opts) =>
      val fmt = if (label.startsWith("graft-rcfile")) "graft-rcfile" else label
      val dir = Tmp.dir(s"fmtbench_$label") + "/t"
      val (wSec, _) = time {
        df.write.format(fmt).options(opts).mode("overwrite").save(dir)
        rows
      }
      def rd: DataFrame = {
        val r = spark.read.options(opts)
        (if (fmt == "parquet") r else r.schema(df.schema)).format(fmt).load(dir)
      }
      val (allSec, n1) = minOf3(rd.agg(count(lit(1)), sum(length(col("payload"))),
        sum(col("v1"))).collect()(0).getLong(0))
      val (projSec, n2) = minOf3(rd.agg(sum(col("v2")), max(col("k")))
        .select(lit(rows)).collect()(0).getLong(0))
      require(n1 == rows && n2 == rows, s"$label row count mismatch")
      println(f"$label%-20s $wSec%8.2f $allSec%10.2f $projSec%11.2f")
    }

    // ---- many small files ----------------------------------------------
    // 64 small files per format: a scan packs them into shared tasks by
    // Spark's file-scan rule (parquet natively, the graft formats through
    // FileSplits.packed) instead of one task per file open.
    println()
    println(f"${"format"}%-20s ${"files"}%6s ${"tasks"}%6s ${"scan_s"}%8s")
    val smallRows = math.min(rows, 64000L)
    val smallDf = df.limit(smallRows.toInt).repartition(64)
    Seq("parquet", "graft-seq", "graft-text", "graft-rcfile", "graft-avro").foreach { fmt =>
      val dir = Tmp.dir(s"fmtbench_small_$fmt") + "/t"
      smallDf.write.format(fmt).mode("overwrite").save(dir)
      val files = new java.io.File(dir).listFiles().count(_.getName.startsWith("part-"))
      def rd: DataFrame = {
        val r = spark.read
        (if (fmt == "parquet") r else r.schema(df.schema)).format(fmt).load(dir)
      }
      val tasks = rd.rdd.getNumPartitions
      val (sec, n) = minOf3(rd.agg(count(lit(1)), sum(col("v1"))).collect()(0).getLong(0))
      require(n == smallRows, s"$fmt small-file scan row mismatch")
      println(f"$fmt%-20s $files%6d $tasks%6d $sec%8.2f")
    }

    // ---- single-large-file split parallelism (round 11) ------------------
    // One multi-hundred-MB container file per format: the byte-range split
    // planner (FileSplits, sync-marker/newline aligned) fans the scan out;
    // the whole-file read is the pre-split one-task-per-file floor.
    println()
    println(f"${"format"}%-20s ${"file_mb"}%8s ${"splits"}%7s ${"split_s"}%8s ${"whole_s"}%8s")
    val bigRows = rows * 4
    val bigDf = spark.range(bigRows).select(
      col("id").cast("int").as("k"),
      concat(lit("name_"), col("id") % 1000).as("name"),
      (col("id") % 97).cast("double").as("v1"),
      (col("id") % 13).cast("int").as("v2"),
      concat(lit("payload_"), col("id"), lit("_" * 3),
        lit("x" * 40)).as("payload"),
      (col("id") % 7 === 0).as("flag"))
    val splitFormats = Seq("graft-seq", "graft-text", "graft-rcfile", "graft-avro")
    val hconf = spark.sessionState.newHadoopConf()
    splitFormats.foreach { fmt =>
      val dir = Tmp.dir(s"fmtbench_big_$fmt") + "/t"
      bigDf.coalesce(1).write.format(fmt).mode("overwrite").save(dir)
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(hconf)
      val len = fs.listStatus(p).filter(_.isFile)
        .filterNot(_.getPath.getName.startsWith("_")).map(_.getLen).max
      def rd: DataFrame =
        spark.read.schema(bigDf.schema).format(fmt).load(dir)
      def scanCount(): Long =
        rd.agg(count(lit(1)), sum(col("v1"))).collect()(0).getLong(0)
      spark.conf.set("spark.sql.files.maxPartitionBytes",
        math.max(len / 8, 1L).toString)
      val nSplits = rd.rdd.getNumPartitions
      val (splitSec, c1) = minOf3(scanCount())
      spark.conf.set("spark.sql.files.maxPartitionBytes", Long.MaxValue.toString)
      val (wholeSec, c2) = minOf3(scanCount())
      spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
      require(c1 == bigRows && c2 == bigRows, s"$fmt split scan row mismatch")
      println(f"$fmt%-20s ${len / 1e6}%8.1f $nSplits%7d $splitSec%8.2f $wholeSec%8.2f")
    }
    spark.stop()
  }
}
