package graft.sources.v2

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Hive partition-directory layout (`p1=v1/p2=v2/part-*`) for the graft
  * DSv2 file table ([[FileTable]]) and the partition statements.
  *
  * Reference shape: partition values live in directory names, never in
  * the data files (ql/.../metadata/Partition.java + common/FileUtils.java
  * escapePathName; NULL renders as the `__HIVE_DEFAULT_PARTITION__`
  * sentinel). Readers append the directory-derived values to every row of
  * the files beneath; writers route each row into its partition directory
  * and strip the partition columns from the stored record.
  *
  * Scale notes: listing is one recursive enumeration per query (the same
  * cost class as Spark's InMemoryFileIndex); partition-filter pushdown
  * prunes directories before any file opens; per-task writers keep one
  * open container per touched partition (the dynamic-partition insert
  * discipline — callers should pre-sort or pre-partition by the partition
  * columns for wide fan-outs, exactly as Hive's dynamic-partition insert
  * demands).
  */
object PartLayout {

  val NULL_DIR = "__HIVE_DEFAULT_PARTITION__"

  /** Identity-transform column names from a catalog partitioning spec;
    * rejects bucket/days/etc transforms these text sources don't model. */
  def partColNames(partitioning: Array[Transform]): Seq[String] =
    partitioning.toSeq.map { t =>
      require(t.name == "identity",
        s"graft sources support only identity partitioning, got $t")
      t.references()(0).fieldNames().mkString(".")
    }

  def identityTransforms(cols: Seq[String]): Array[Transform] =
    cols.map(c => Expressions.identity(c)).toArray

  /** Minimal Hive escapePathName: %-encode the characters that break
    * directory-name round-trips. */
  def escape(v: String): String = v.flatMap { c =>
    if (c < ' ' || "\"#%'*/:=?\\{}[]^".contains(c)) f"%%${c.toInt}%02X"
    else c.toString
  }

  private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  def unescape(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      // only decode %XX when both digits are hex — an external writer may
      // leave a raw '%' in a directory name (FileUtils.unescapePathName
      // applies the same guard); passing it through beats failing the
      // whole partition listing.
      if (s.charAt(i) == '%' && i + 3 <= s.length &&
          isHex(s.charAt(i + 1)) && isHex(s.charAt(i + 2))) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** Recursive data-file listing: returns (file path, partition values by
    * column) for every non-hidden file whose relative path's `k=v`
    * directory components match `partCols` in order. `keep` filters file
    * names (e.g. `_.endsWith(".avro")`). `prune` (partition-col filters
    * already validated by the caller) skips whole directories before any
    * file is listed. */
  def listPartitionedFiles(root: Path, fs: FileSystem, partCols: Seq[String],
      keep: String => Boolean,
      prune: Map[String, String] => Boolean = _ => true)
      : Seq[(String, Map[String, String])] =
    listPartitionedFilesWithLen(root, fs, partCols, keep, prune)
      .map { case (f, _, spec) => f -> spec }

  /** As [[listPartitionedFiles]] but carrying each file's length — the
    * split planner's input (one listing, no re-stat per file). */
  def listPartitionedFilesWithLen(root: Path, fs: FileSystem,
      partCols: Seq[String], keep: String => Boolean,
      prune: Map[String, String] => Boolean = _ => true)
      : Seq[(String, Long, Map[String, String])] = {
    def walk(dir: Path, depth: Int,
        spec: Map[String, String]): Seq[(String, Long, Map[String, String])] = {
      val entries = Option(fs.listStatus(dir)).toSeq.flatten
        .filterNot(st => st.getPath.getName.startsWith("_") ||
          st.getPath.getName.startsWith("."))
      if (depth == partCols.length)
        entries.filter(st => st.isFile && keep(st.getPath.getName))
          .map(st => (st.getPath.toString, st.getLen, spec))
      else entries.filter(_.isDirectory).flatMap { st =>
        val n = st.getPath.getName
        val eq = n.indexOf('=')
        if (eq <= 0 || unescape(n.take(eq)) != partCols(depth)) Nil
        else {
          val value = unescape(n.drop(eq + 1))
          val next = spec + (partCols(depth) -> value)
          if (prune(next)) walk(st.getPath, depth + 1, next) else Nil
        }
      }
    }
    if (!fs.exists(root)) Nil else walk(root, 0, Map.empty).sortBy(_._1)
  }

  /** Partition types whose values the metastore compares NUMERICALLY
    * (hr=01 names the same partition as hr=1). String-typed partition
    * columns compare by exact text — Hive treats p='1' and p='01' as
    * DISTINCT partitions there, and a numeric match would silently
    * delete the wrong sibling. */
  def numericPartType(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | ShortType | ByteType |
         DoubleType | FloatType | _: DecimalType => true
    case _ => false
  }

  /** Declared partition-column types by lowercased name; columns the
    * schema does not carry default to STRING (exact comparison). */
  def partTypes(schema: StructType, partCols: Seq[String]): Map[String, DataType] =
    partCols.map(c => c.toLowerCase ->
      schema.find(_.name.equalsIgnoreCase(c)).map(_.dataType)
        .getOrElse(StringType: DataType)).toMap

  /** Partition-VALUE equality by the DECLARED column type: numeric
    * comparison for numeric columns (hr=01 matches hr=1), exact string
    * equality otherwise — the comparison Hive's metastore filter
    * applies. Pruning and static-overwrite deletion must use THIS: a
    * numeric column's alternate spelling must not escape them, and a
    * string column's lookalike siblings (p=1 vs p=01) must not be
    * swept together. */
  def valueEq(dirValue: String, litValue: String, dt: DataType): Boolean =
    if (numericPartType(dt))
      (dirValue.toDoubleOption, litValue.toDoubleOption) match {
        case (Some(a), Some(b)) => a == b
        case _ => dirValue == litValue
      }
    else dirValue == litValue

  /** Every partition directory whose values match `spec` semantically
    * under the declared `types` (all of spec's columns equal; spec may
    * bind a prefix subset) — what a static INSERT OVERWRITE PARTITION
    * replaces. */
  def matchingPartitionDirs(root: Path, fs: FileSystem,
      partCols: Seq[String], spec: Map[String, String],
      types: Map[String, DataType]): Seq[Path] =
    listPartitionDirs(root, fs, partCols)
      .filter(dirSpec => spec.forall { case (k, v) =>
        dirSpec.exists { case (dk, dv) => dk.equalsIgnoreCase(k) &&
          valueEq(dv, v, types.getOrElse(k.toLowerCase, StringType)) }
      })
      .map(dirSpec => new Path(root,
        dirSpec.map { case (k, v) => escape(k) + "=" + escape(v) }.mkString("/")))

  /** `path` and everything beneath it, parents before children; empty
    * when `path` does not exist. */
  def tree(fs: FileSystem, path: Path): Seq[FileStatus] =
    if (!fs.exists(path)) Nil
    else {
      val st = fs.getFileStatus(path)
      st +: (if (st.isDirectory) fs.listStatus(path).toSeq.flatMap(c => tree(fs, c.getPath))
             else Nil)
    }

  /** The commit step of an overwrite that replaces `old` (a [[tree]]
    * listing taken at job start): its files go, then its directories that
    * are left empty. Files written since, the job's own, stay. */
  def deleteReplaced(fs: FileSystem, old: Seq[FileStatus]): Unit = {
    val (dirs, files) = old.partition(_.isDirectory)
    files.foreach(f => fs.delete(f.getPath, false))
    dirs.reverse.foreach { d =>
      if (fs.exists(d.getPath) && fs.listStatus(d.getPath).isEmpty)
        fs.delete(d.getPath, true)
    }
  }

  /** Full-depth partition DIRECTORIES (files or not — a registered-empty
    * partition is still a partition, Hive parity), each as the ordered
    * (column, value) spec derived from its path. */
  def listPartitionDirs(root: Path, fs: FileSystem,
      partCols: Seq[String]): Seq[Seq[(String, String)]] = {
    def walk(dir: Path, depth: Int,
        spec: Seq[(String, String)]): Seq[Seq[(String, String)]] =
      if (depth == partCols.length) Seq(spec)
      else Option(fs.listStatus(dir)).toSeq.flatten
        .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
        .flatMap { st =>
          val n = st.getPath.getName
          val eq = n.indexOf('=')
          if (eq <= 0 || unescape(n.take(eq)) != partCols(depth)) Nil
          else walk(st.getPath, depth + 1,
            spec :+ (partCols(depth) -> unescape(n.drop(eq + 1))))
        }
    if (!fs.exists(root)) Nil
    else walk(root, 0, Nil).sortBy(_.map(_._2).mkString("/"))
  }

  /** Directory-string partition value → Catalyst internal value of the
    * declared partition column type (NULL sentinel included). */
  def castValue(v: String, dt: DataType): Any =
    if (v == NULL_DIR) null
    else try dt match {
      case StringType => UTF8String.fromString(v)
      case IntegerType => v.toInt
      case LongType => v.toLong
      case ShortType => v.toShort
      case ByteType => v.toByte
      case DoubleType => v.toDouble
      case FloatType => v.toFloat
      case BooleanType => v.equalsIgnoreCase("true")
      case d: DecimalType =>
        Decimal(new java.math.BigDecimal(v), d.precision, d.scale)
      case DateType => java.sql.Date.valueOf(v).toLocalDate.toEpochDay.toInt
      case other => sys.error(s"graft: unsupported partition column type $other")
    } catch { case _: NumberFormatException | _: IllegalArgumentException => null }

  /** Catalyst internal partition value → its directory string. */
  def renderValue(row: InternalRow, i: Int, dt: DataType): String =
    if (row.isNullAt(i)) NULL_DIR
    else dt match {
      case StringType => row.getUTF8String(i).toString
      case IntegerType => row.getInt(i).toString
      case LongType => row.getLong(i).toString
      case ShortType => row.getShort(i).toString
      case ByteType => row.getByte(i).toString
      case DoubleType => row.getDouble(i).toString
      case FloatType => row.getFloat(i).toString
      case BooleanType => row.getBoolean(i).toString
      case d: DecimalType => row.getDecimal(i, d.precision, d.scale).toString
      case DateType =>
        java.time.LocalDate.ofEpochDay(row.getInt(i).toLong).toString
      case other => sys.error(s"graft: unsupported partition column type $other")
    }

  /** Relative partition directory (`p1=v1/p2=v2`) for a row. `ords` pairs
    * each partition column's ordinal in the row with its type. */
  def partPath(row: InternalRow, partCols: Seq[String],
      ords: Seq[(Int, DataType)]): String =
    partCols.zip(ords).map { case (c, (i, dt)) =>
      escape(c) + "=" + escape(renderValue(row, i, dt))
    }.mkString("/")

  /** Per-task memo of the previous row's partition VALUES → rel path
    * (r18, write-loop allocation cut): the dynamic-partition writers
    * called [[partPath]] — zip + render + escape + mkString, several
    * allocations — once per ROW. Rows overwhelmingly arrive in runs of
    * equal partition values, so comparing the few raw values against the
    * previous row's is nearly free and the path string is rebuilt only on
    * a run boundary. UTF8String values are cloned before caching
    * (UnsafeRow getters return views into a reused buffer). Single-task
    * use only (DataWriter instances are per-task, like the container
    * writers beside it).
    */
  final class PartPathCache(partCols: Seq[String], ords: Seq[(Int, DataType)]) {
    private val n = ords.length
    private val prev = new Array[Any](n)
    private var prevRel: String = null
    def relFor(row: InternalRow): String = {
      var same = prevRel != null
      var i = 0
      while (i < n && same) {
        val (ord, dt) = ords(i)
        val v = if (row.isNullAt(ord)) null else row.get(ord, dt)
        if (!java.util.Objects.equals(prev(i), v)) same = false
        i += 1
      }
      if (same) return prevRel
      var j = 0
      while (j < n) {
        val (ord, dt) = ords(j)
        val v = if (row.isNullAt(ord)) null else row.get(ord, dt)
        prev(j) = v match {
          case s: UTF8String => s.clone()
          case other => other
        }
        j += 1
      }
      prevRel = partPath(row, partCols, ords)
      prevRel
    }
  }

  /** Dynamic-partition-overwrite commit: in every partition directory
    * this job wrote into, delete the files the job did NOT write (the
    * pre-existing generation). Untouched partitions stay intact — Hive's
    * hive.exec.dynamic.partition.mode=nonstrict INSERT OVERWRITE
    * semantics (FileSinkOperator + MoveTask per-partition replace).
    *
    * A touched partition also replaces any VALUE-EQUAL sibling spelled
    * differently (a numeric column's hr=01 directory when this job wrote
    * hr=1): same logical partition, so the stale spelling's whole
    * subtree goes — otherwise a read would serve both generations. */
  def commitDynamicOverwrite(root: Path, fs: FileSystem,
      touchedDirs: Set[String], written: Set[String],
      partCols: Seq[String] = Nil,
      types: Map[String, DataType] = Map.empty): Unit = {
    touchedDirs.foreach { rel =>
      val dir = if (rel.isEmpty) root else new Path(root, rel)
      Option(fs.listStatus(dir)).toSeq.flatten
        .filter(st => st.isFile && !written.contains(st.getPath.toString) &&
          !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
        .foreach(st => fs.delete(st.getPath, false))
    }
    if (partCols.nonEmpty && touchedDirs.exists(_.nonEmpty) &&
        types.exists(t => numericPartType(t._2))) {
      val touchedSpecs = touchedDirs.filter(_.nonEmpty).map { rel =>
        rel.split("/").toSeq.map(_.split("=", 2)).collect {
          case Array(k, v) => unescape(k) -> unescape(v)
        }
      }
      listPartitionDirs(root, fs, partCols).foreach { dirSpec =>
        val relOfDir = dirSpec.map { case (k, v) =>
          escape(k) + "=" + escape(v) }.mkString("/")
        val shadowed = !touchedDirs.contains(relOfDir) &&
          touchedSpecs.exists(t => t.size == dirSpec.size &&
            t.zip(dirSpec).forall { case ((tk, tv), (dk, dv)) =>
              tk.equalsIgnoreCase(dk) &&
                valueEq(dv, tv, types.getOrElse(tk.toLowerCase, StringType)) })
        if (shadowed) fs.delete(new Path(root, relOfDir), true): Unit
      }
    }
  }
}

/** Commit message carrying the files + partition dirs a task wrote — the
  * ingredient for dynamic-partition overwrite commits and job abort. */
case class PartWriteMessage(files: Seq[String], partDirs: Seq[String])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage
