package graft.sources.v2

import java.util.{Map => JMap}

import scala.collection.JavaConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsDynamicOverwrite, SupportsOverwrite, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.{AlwaysTrue, DataSourceRegister, EqualNullSafe, EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The format-independent DSv2 file table behind graft-seq, graft-rcfile,
  * graft-text, graft-avro and graft-thrift-seq. Hive keeps table,
  * partition and write machinery apart from the file format and plugs
  * each format in as an Input/OutputFormat plus a SerDe named by the
  * storage descriptor. Here
  * the table machinery lives once, in [[FileTable]] and its scan and
  * write classes:
  *
  *   - capabilities and the `_metadata.file_path` column, which the
  *     copy-on-write DML engine ([[graft.operators.Acid]]) uses to locate
  *     affected files;
  *   - column pruning, and pruning at listing time: remembered
  *     `EqualTo`/`In` filters on partition columns skip directories, and
  *     on `_metadata.file_path` skip files (every filter is still
  *     re-evaluated after the scan);
  *   - listing through [[PartLayout]], byte-range [[FileSplit]]s, and
  *     Spark's file-scan packing of the splits into shared tasks
  *     ([[FileSplits.packed]]);
  *   - a reader that walks its task's splits in turn on one Hadoop
  *     Configuration, mapping each required field to a data cell,
  *     `_metadata` or a partition value (cast once per split);
  *   - the NONE/ALL/STATIC/DYNAMIC overwrite modes: what an overwrite
  *     replaces is listed at job start and deleted at commit;
  *   - one open file per touched partition per task, with task-unique
  *     `part-…` names, and a job abort that deletes the committed tasks'
  *     files, so a failed append or overwrite leaves the table as it was.
  *
  * A format plugs in as a codec: it decodes the records of one split and
  * encodes one task's rows. Codecs travel to executors inside the reader
  * and writer factories.
  */
trait FileCodec extends Serializable {
  /** Short name: the `Table.name()` and scan-description prefix. */
  def name: String

  /** Listing filter on data-file paths. */
  def keep(file: String): Boolean = true

  /** Opens one byte-range split, aligned to the format's own record
    * boundary, for the data cells `cells` names. */
  def open(split: FileSplit, conf: Configuration, cells: Cells): CellReader

  /** Runs at planning, in `WriteBuilder.build()` before the job: checks
    * the data schema and fixes the session's output settings (such as
    * compression) for the job. The result encodes the job's rows. */
  def forWrite(data: StructType): FileCodec = this

  /** One write task's encoder for rows whose data column `j` (of `data`)
    * sits at ordinal `ord(j)`. */
  def encoder(data: StructType, ord: Array[Int], conf: Configuration,
      zone: java.time.ZoneId): RowEncoder
}

/** The data cells a scan wants from each record: `fields(i)` (the
  * required field, whose type may be nested-pruned) is column `pos(i)` of
  * the file's `data` schema and lands in slot `slot(i)` of the output row.
  * `zone` is the session time zone. */
case class Cells(data: StructType, fields: Array[StructField], pos: Array[Int],
    slot: Array[Int], zone: java.time.ZoneId)

/** One split's record stream. */
trait CellReader extends java.io.Closeable {
  /** Advances to the next record of the split; false past its end. */
  def next(): Boolean
  /** Decodes the current record's wanted cells into their slots. */
  def decode(row: Array[Any]): Unit
}

/** One write task's encoder. It owns the containers it reuses per row. */
trait RowEncoder {
  /** File-name suffix, such as `.seq`. */
  def extension: String
  def create(fs: FileSystem, file: Path): RowAppender
}

trait RowAppender {
  def append(row: InternalRow): Unit
  def close(): Unit
}

/** `_metadata.file_path`, in the shape FileFormat sources expose. */
object FileMetadataColumn extends MetadataColumn {
  val NAME = "_metadata"
  /** The pushed-filter name of `_metadata.file_path`. */
  val PATH = s"$NAME.file_path"
  val schema: StructType =
    StructType(Seq(StructField("file_path", StringType, nullable = false)))
  override def name(): String = NAME
  override def dataType(): DataType = schema
  override def isNullable: Boolean = false
  /** Pre-built nested row for a reader pinned to one file. */
  def rowFor(file: String): InternalRow =
    new GenericInternalRow(Array[Any](UTF8String.fromString(file)))

  /** File-path filters worth remembering for listing-time file pruning. */
  def pathFilters(filters: Seq[Filter]): Seq[Filter] =
    filters.filter {
      case EqualTo(PATH, _) | In(PATH, _) => true
      case _ => false
    }

  /** Whether a listed file can pass every remembered file-path filter; the
    * path must match as `_metadata.file_path` spells it. */
  def accepts(filters: Seq[Filter], file: String): Boolean =
    filters.forall {
      case EqualTo(_, v) => file == String.valueOf(v)
      case In(_, vs) => vs.exists(v => file == String.valueOf(v))
      case _ => true
    }
}

object PartPrune {
  /** Partition filters worth remembering for listing-time pruning. */
  def of(filters: Seq[Filter], partCols: Seq[String]): Seq[Filter] =
    filters.filter {
      case EqualTo(a, _) => partCols.contains(a)
      case In(a, _) => partCols.contains(a)
      case _ => false
    }

  /** Directory-spec predicate from the remembered partition filters: a
    * spec (so far) passes unless some filter names one of its columns
    * with a value set that excludes the directory's value. `types` is
    * the declared partition-column type map (PartLayout.partTypes) —
    * numeric columns match by value (directory hr=01 must survive a
    * hr=1 filter), string columns by exact text. */
  def accepts(filters: Seq[Filter], spec: Map[String, String],
      types: Map[String, DataType]): Boolean = {
    def dt(a: String) = types.getOrElse(a.toLowerCase, StringType)
    filters.forall {
      case EqualTo(a, v) =>
        spec.get(a).forall(s => PartLayout.valueEq(s, String.valueOf(v), dt(a)))
      case In(a, vs) =>
        spec.get(a).forall(s =>
          vs.exists(v => PartLayout.valueEq(s, String.valueOf(v), dt(a))))
      case _ => true
    }
  }
}

/** A file-table provider: the table location comes from `path` (or the
  * catalog's `location`), partition columns from the catalog's identity
  * transforms or, for programmatic reads and writes such as the CoW DML
  * engine's, from the comma-separated `partitions` option. */
abstract class FileTableProvider extends TableProvider with DataSourceRegister {
  /** The format's codec, configured by the table properties. */
  protected def codec(properties: JMap[String, String]): FileCodec

  /** Schema of a path-only read; tables always declare theirs. */
  protected def inferSchema(dir: String, options: CaseInsensitiveStringMap): StructType

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    inferSchema(Option(options.get("path")).getOrElse(
      sys.error(s"${shortName()} requires a path to infer a schema")), options)

  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    // a catalog CREATE TABLE probes getTable without a path; that Table
    // only carries the schema and capabilities
    val p = Option(properties.get("path"))
      .orElse(Option(properties.get("location"))).getOrElse("")
    val partCols =
      if (partitioning.nonEmpty) PartLayout.partColNames(partitioning)
      else Option(properties.get("partitions")).toSeq
        .flatMap(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
    FileTable(p, schema, partCols, codec(properties))
  }
}

case class FileTable(path: String, tableSchema: StructType,
    partCols: Seq[String], codec: FileCodec)
    extends Table with SupportsRead with SupportsWrite
    with SupportsMetadataColumns {
  override def name(): String = s"${codec.name}:$path"
  override def schema(): StructType = tableSchema
  override def partitioning(): Array[Transform] =
    PartLayout.identityTransforms(partCols)
  override def metadataColumns(): Array[MetadataColumn] =
    Array(FileMetadataColumn)
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FileScanBuilder(path, tableSchema, partCols, codec)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new FileWriteBuilder(path, info.schema(), partCols, codec)
}

class FileScanBuilder(path: String, full: StructType, partCols: Seq[String],
    codec: FileCodec)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = full
  private var prune: Seq[Filter] = Nil
  private var paths: Seq[Filter] = Nil
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  /** Partition and file pruning are listing optimizations only: every
    * filter is returned for Spark to re-evaluate after the scan. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    prune = PartPrune.of(filters.toSeq, partCols)
    paths = FileMetadataColumn.pathFilters(filters.toSeq)
    filters
  }
  override def pushedFilters(): Array[Filter] = Array.empty
  override def build(): Scan =
    FileScan(path, full, required, partCols, prune, paths, codec)
}

/** `prune` holds the remembered partition filters, `paths` the remembered
  * `_metadata.file_path` filters. */
case class FileScan(path: String, full: StructType, required: StructType,
    partCols: Seq[String], prune: Seq[Filter], paths: Seq[Filter], codec: FileCodec)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"${codec.name} ReadSchema: ${required.fieldNames.mkString(",")}" +
      (if (prune.nonEmpty) s" PartitionPrune: ${prune.mkString(",")}" else "")
  override def planInputPartitions(): Array[InputPartition] = {
    val listed: Seq[(String, Long, Map[String, String])] =
      if (partCols.isEmpty)
        FileSplits.listFilesWithLen(path).collect {
          case (f, len) if codec.keep(f) => (f, len, Map.empty[String, String])
        }
      else {
        val root = new Path(path)
        PartLayout.listPartitionedFilesWithLen(root,
          root.getFileSystem(FileSplits.hadoopConf()), partCols, codec.keep,
          spec => PartPrune.accepts(prune, spec, PartLayout.partTypes(full, partCols)))
      }
    FileSplits.packed(listed.filter { case (f, _, _) => FileMetadataColumn.accepts(paths, f) })
  }
  override def createReaderFactory(): PartitionReaderFactory =
    FileReaderFactory(full.json, required.json, partCols,
      SQLConf.get.sessionLocalTimeZone, codec, FileSplits.confOverlay())
}

case class FileReaderFactory(fullJson: String, requiredJson: String,
    partCols: Seq[String], sessionTz: String, codec: FileCodec,
    confOverlay: Map[String, String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val splits = partition.asInstanceOf[FileGroup].splits
    val full = DataType.fromJson(fullJson).asInstanceOf[StructType]
    val required = DataType.fromJson(requiredJson).asInstanceOf[StructType]
    // the files hold the data columns: full minus partition columns, in
    // declaration order. `_metadata` and partition values are the same
    // for every row of a split, so they sit in a template each row copies.
    val data = StructType(full.fields.filterNot(f => partCols.contains(f.name)))
    val slots = required.fields.indices.filterNot { i =>
      required(i).name == FileMetadataColumn.NAME || partCols.contains(required(i).name)
    }.toArray
    val cells = Cells(data, slots.map(required.fields), slots.map(i =>
      data.fieldIndex(required(i).name)), slots, java.time.ZoneId.of(sessionTz))
    def templateFor(split: FileSplit): Array[Any] =
      required.fields.map { f =>
        if (f.name == FileMetadataColumn.NAME) FileMetadataColumn.rowFor(split.file)
        else if (partCols.contains(f.name))
          split.partSpec.get(f.name).map(PartLayout.castValue(_, full(f.name).dataType)).orNull
        else null
      }
    // one Configuration per task: building one costs milliseconds
    val conf = FileSplits.buildConf(confOverlay)
    new PartitionReader[InternalRow] {
      // the next split to open; each opens on first use, inside the
      // task's input-metrics window
      private var nextSplit = 0
      private var reader: CellReader = null
      private var template: Array[Any] = null
      override def next(): Boolean = {
        while (reader == null || !reader.next()) {
          if (reader != null) { reader.close(); reader = null }
          if (nextSplit == splits.length) return false
          val split = splits(nextSplit)
          nextSplit += 1
          template = templateFor(split)
          reader = codec.open(split, conf, cells)
        }
        true
      }
      override def get(): InternalRow = {
        val row = template.clone()
        reader.decode(row)
        new GenericInternalRow(row)
      }
      override def close(): Unit = if (reader != null) reader.close()
    }
  }
}

class FileWriteBuilder(path: String, schema: StructType, partCols: Seq[String],
    codec: FileCodec)
    extends WriteBuilder with SupportsTruncate with SupportsOverwrite
    with SupportsDynamicOverwrite {
  // NONE = plain append; ALL = truncate-and-write; DYNAMIC = replace only
  // the partitions this write produces rows for (Hive nonstrict INSERT
  // OVERWRITE); STATIC = replace exactly the partitions named by
  // equality filters on partition columns
  private var mode = "NONE"
  private var staticSpec: Map[String, String] = Map.empty
  override def truncate(): WriteBuilder = { mode = "ALL"; this }
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    val real = filters.filterNot(_ == AlwaysTrue)
    if (real.isEmpty) { mode = "ALL"; return this }
    // static partition overwrite: every filter must be an equality on a
    // partition column; a pushed ROW filter would demand partial
    // overwrite this writer can't honor — fail loudly, never truncate
    val specs = real.map {
      case EqualTo(a, v) if partCols.contains(a) => a -> String.valueOf(v)
      // the planner pushes static PARTITION (p=v) specs as null-safe
      // equality; a NULL value names the default partition directory
      case EqualNullSafe(a, v) if partCols.contains(a) =>
        a -> (if (v == null) PartLayout.NULL_DIR else String.valueOf(v))
      case f => sys.error(
        s"${codec.name} supports only full-table or partition-equality overwrite, got: $f")
    }
    mode = "STATIC"; staticSpec = specs.toMap; this
  }
  override def overwriteDynamicPartitions(): WriteBuilder = {
    mode = if (partCols.isEmpty) "ALL" else "DYNAMIC"; this
  }
  override def build(): Write = {
    // partition columns never land in the files
    val jobCodec = codec.forWrite(
      StructType(schema.fields.filterNot(f => partCols.contains(f.name))))
    val batch = FileBatchWrite(path, schema.json, partCols, mode, staticSpec,
      SQLConf.get.sessionLocalTimeZone, jobCodec)
    new Write { override def toBatch: BatchWrite = batch }
  }
}

case class FileBatchWrite(path: String, schemaJson: String,
    partCols: Seq[String], mode: String, staticSpec: Map[String, String],
    sessionTz: String, codec: FileCodec) extends BatchWrite {
  private lazy val root = new Path(path)
  private lazy val fs = root.getFileSystem(FileSplits.hadoopConf())
  private def partTypes = PartLayout.partTypes(
    DataType.fromJson(schemaJson).asInstanceOf[StructType], partCols)
  private def written(messages: Array[WriterCommitMessage]) =
    messages.toSeq.collect { case m: PartWriteMessage => m }
  // what an ALL or STATIC overwrite replaces, listed at job start and
  // deleted only at commit
  private var replaced: Seq[FileStatus] = Nil

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    replaced = mode match {
      case "ALL" => PartLayout.tree(fs, root).drop(1)
      case "STATIC" =>
        // every directory naming the same LOGICAL partitions (value
        // match, not spelling — hr=1 must also replace hr=01)
        PartLayout.matchingPartitionDirs(root, fs, partCols, staticSpec, partTypes)
          .flatMap(PartLayout.tree(fs, _))
      case _ => Nil
    }
    fs.mkdirs(root): Unit
    FileWriterFactory(path, schemaJson, partCols, sessionTz, codec,
      FileSplits.confOverlay())
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit = mode match {
    case "DYNAMIC" =>
      val msgs = written(messages)
      PartLayout.commitDynamicOverwrite(root, fs,
        msgs.flatMap(_.partDirs).toSet, msgs.flatMap(_.files).toSet,
        partCols, partTypes)
    case "ALL" | "STATIC" => PartLayout.deleteReplaced(fs, replaced)
    case _ => ()
  }
  /** Deletes the files of the tasks that committed before the job failed
    * (a failed task deletes its own). Nothing was replaced yet, so a failed
    * append or overwrite leaves the table as it was. */
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    written(messages).flatMap(_.files).foreach(f => fs.delete(new Path(f), false): Unit)
}

case class FileWriterFactory(path: String, schemaJson: String,
    partCols: Seq[String], sessionTz: String, codec: FileCodec,
    confOverlay: Map[String, String])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    // files carry only the data columns; partition values become the
    // directory path (Hive layout — Partition.java / FileSinkOperator's
    // dynamic-partition writers)
    val ord = schema.fields.indices
      .filterNot(i => partCols.contains(schema(i).name)).toArray
    val partOrds = partCols.map(c => schema.fieldIndex(c) -> schema(c).dataType)
    val conf = FileSplits.buildConf(confOverlay)
    val fs = new Path(path).getFileSystem(conf)
    val encoder = codec.encoder(StructType(ord.map(schema.fields)), ord, conf,
      java.time.ZoneId.of(sessionTz))
    // the uuid guards against (partitionId, taskId) reuse across separate
    // append jobs
    val uid = java.util.UUID.randomUUID().toString.take(8)
    new DataWriter[InternalRow] {
      // one open file per touched partition (dynamic-insert shape); key
      // "" is the unpartitioned root
      private val files =
        scala.collection.mutable.LinkedHashMap[String, (RowAppender, Path)]()
      private var seq = 0
      private val relCache =
        if (partCols.isEmpty) null else new PartLayout.PartPathCache(partCols, partOrds)
      private def appenderFor(rel: String): RowAppender =
        files.getOrElseUpdate(rel, {
          val dir = if (rel.isEmpty) new Path(path) else new Path(path, rel)
          fs.mkdirs(dir): Unit
          seq += 1
          val file = new Path(dir,
            f"part-$partitionId%05d-$taskId-$uid-$seq%03d${encoder.extension}")
          (encoder.create(fs, file), file)
        })._1
      override def write(row: InternalRow): Unit =
        appenderFor(if (relCache == null) "" else relCache.relFor(row)).append(row)
      override def commit(): WriterCommitMessage = {
        files.values.foreach(_._1.close())
        PartWriteMessage(files.values.map(_._2.toString).toSeq, files.keys.toSeq)
      }
      override def abort(): Unit =
        files.values.foreach { case (w, f) => w.close(); fs.delete(f, false): Unit }
      override def close(): Unit = ()
    }
  }
}
