package graft.sources.v2

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.internal.SQLConf

/** Scan planning for the graft DSv2 container sources: byte-range
  * splits, then Spark's packing of splits into shared tasks.
  *
  * The reference splits these formats by HDFS block via
  * FileInputFormat.getSplits — SequenceFile and RCFile carry sync
  * markers precisely so a reader can seek to a split boundary
  * (ql/src/java/org/apache/hadoop/hive/ql/io/RCFile.java sync machinery;
  * RCFileInputFormat/SequenceFileInputFormat extend FileInputFormat), and
  * uncompressed text splits on newline (LineRecordReader's
  * first-partial-line-discard convention). Without splits, a table with a
  * few 10 GB files becomes a few straggler tasks; with them it runs
  * ~len/target parallel range readers per file.
  *
  * The other end of the scale is many small files, which Hive's default
  * CombineHiveInputFormat packs into a few splits so map tasks are not
  * spent on file opens. [[packed]] does the same with Spark's own file-scan
  * rule (FilePartition): each split costs its length plus
  * spark.sql.files.openCostInBytes, and splits fill shared
  * [[FileGroup]]s next-fit in decreasing size up to Spark's per-task cap.
  *
  * Planning happens on the driver where SQLConf is in scope: the byte
  * ranges are cut at Spark's own scan knob (spark.sql.files.maxPartitionBytes),
  * so the graft sources parallelize like a parquet scan does. Suffix-compressed
  * files (gzip text — standard Hive practice) are never split; a
  * byte-range seek into a gzip stream is meaningless.
  */
object FileSplits {

  /** Driver-side only (SQLConf is thread-local to the planning thread). */
  def targetBytes: Long = SQLConf.get.filesMaxPartitionBytes

  /** The session-faithful Hadoop conf for driver-side planning/listing.
    * A bare `new Configuration()` drops every `spark.hadoop.*` setting —
    * S3A credentials, custom FS impls — so split planning would fail on
    * object stores where the rest of the engine works. Falls back to a
    * default conf only when no session is active (unit-test contexts). */
  def hadoopConf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** Executor-side readers can't see the SparkSession; capture the
    * session Hadoop conf at planning time as a plain serializable map
    * (diffed against defaults so only real settings travel) and rebuild
    * an equivalent conf inside the reader. Catches both launch-time
    * `--conf spark.hadoop.*` and runtime `spark.conf.set` entries. */
  def confOverlay(): Map[String, String] =
    SparkSession.getActiveSession.map { s =>
      import scala.jdk.CollectionConverters._
      val session = s.sessionState.newHadoopConf()
      val defaults = new Configuration()
      session.iterator().asScala
        .map(e => e.getKey -> e.getValue)
        .filter { case (k, v) => defaults.get(k) != v }
        .toMap
    }.getOrElse(Map.empty)

  def buildConf(overlay: Map[String, String]): Configuration = {
    val c = new Configuration()
    overlay.foreach { case (k, v) => c.set(k, v) }
    c
  }

  private val unsplittableSuffixes =
    Seq(".gz", ".gzip", ".bz2", ".deflate", ".zst", ".lz4", ".snappy")

  def isSplittable(file: String): Boolean = {
    val lower = file.toLowerCase
    !unsplittableSuffixes.exists(lower.endsWith)
  }

  /** Byte ranges (start, length) covering [0, len). Mirrors
    * FileInputFormat: target-size splits, with the tail merged into the
    * last split when it is under SPLIT_SLOP (10%) of a target — a 1.05×
    * remainder is one task, not a full task plus a sliver. */
  def ranges(len: Long, target: Long): Seq[(Long, Long)] =
    if (len <= 0) Seq((0L, Long.MaxValue))
    else {
      val t = math.max(target, 1L)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var pos = 0L
      while (len - pos > (t * 11) / 10) { out += ((pos, t)); pos += t }
      out += ((pos, len - pos))
      out.toSeq
    }

  /** Split one file: a single whole-file range when unsplittable or
    * small, byte ranges otherwise. */
  def forFile(file: String, len: Long, target: Long): Seq[(Long, Long)] =
    if (!isSplittable(file) || len <= target) Seq((0L, if (len <= 0) Long.MaxValue else len))
    else ranges(len, target)

  /** Splits for listed (file, length, partition spec) triples. */
  def splits(listed: Seq[(String, Long, Map[String, String])]): Seq[FileSplit] = {
    val target = targetBytes
    listed.flatMap { case (f, len, spec) =>
      forFile(f, len, target).map { case (start, length) =>
        FileSplit(f, spec, start, length)
      }
    }
  }

  /** The splits of the listed files packed into shared input partitions by
    * Spark's FilePartition rule: a split costs its length plus
    * `openCostInBytes`, a group holds at most
    * min(maxPartitionBytes, max(openCost, total / minPartitionNum)) of
    * cost (Spark's `maxSplitBytes` over the files' length + open cost), and
    * splits are placed next-fit in decreasing size. */
  def packed(listed: Seq[(String, Long, Map[String, String])]): Array[InputPartition] = {
    val openCost = SQLConf.get.filesOpenCostInBytes
    val cap = FilePartition.maxSplitBytes(SparkSession.active,
      listed.map { case (_, len, _) => len + openCost }.sum)
    val groups = ArrayBuffer.empty[InputPartition]
    val current = ArrayBuffer.empty[FileSplit]
    var size = 0L
    def close(): Unit = if (current.nonEmpty) {
      groups += FileGroup(current.toSeq); current.clear(); size = 0L
    }
    splits(listed).sortBy(-_.bytes).foreach { s =>
      if (size + s.bytes > cap) close()
      size += s.bytes + openCost
      current += s
    }
    close()
    groups.toArray
  }

  /** Flat-directory listing with lengths (the split planner's input). */
  def listFilesWithLen(dir: String): Seq[(String, Long)] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(hadoopConf())
    Option(fs.listStatus(root)).toSeq.flatten
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(st => st.getPath.toString -> st.getLen).sortBy(_._1)
  }
}

/** One byte-range of one data file, with the partition values its
  * directory names. `start`/`length` bound the range; the reader aligns
  * to the format's record boundary (sync marker / newline). A
  * (0, Long.MaxValue) range is the whole file. */
case class FileSplit(file: String, partSpec: Map[String, String],
    start: Long = 0L, length: Long = Long.MaxValue) extends InputPartition {
  /** Exclusive end of the range. */
  def end: Long = if (length == Long.MaxValue) Long.MaxValue else start + length
  /** Bytes the range covers, for packing; an open-ended range is planned
    * only for a file listed as empty. */
  def bytes: Long = if (length == Long.MaxValue) 0L else length
}

/** The splits one scan task reads in turn: Spark's FilePartition for the
  * graft file table. */
case class FileGroup(splits: Seq[FileSplit]) extends InputPartition
