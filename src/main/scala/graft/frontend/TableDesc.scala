package graft
package frontend

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.{CatalogTable, CatalogTableType}
import org.apache.spark.sql.types.{DataType, StructType}

/** What the front end asks of one catalog table, answered from ONE
  * `getTableMetadata` read: storage root, provider, partition columns
  * and types, the copy-on-write engine's read schema and source options,
  * and the hetero-format and archive entries kept in table properties.
  * A statement reads its target's descriptor once and passes it along.
  */
private[graft] final case class TableDesc(name: String, meta: CatalogTable) {

  def isView: Boolean = meta.tableType == CatalogTableType.VIEW

  /** The entry of a VIEW, for the ALTER VIEW forms; a table refuses. */
  def viewMeta: CatalogTable = {
    if (!isView)
      sys.error("To alter a base table you need to use the ALTER TABLE " +
        s"command. ($name is a table)")
    meta
  }

  /** Storage root. Every caller is a storage-addressed operation (CoW
    * DML, EXPORT, COMPACT, EXCHANGE...): a VIEW has none, and letting
    * CatalogTable.location throw would surface an internal "did not
    * specify locationUri" instead of the reference's view refusal
    * (clientnegative/view_update.q, view_delete.q). */
  def location: String = {
    if (isView)
      sys.error(s"$name is a view: views have no storage, the " +
        "operation expects a table")
    meta.location.toString
  }

  def root(spark: SparkSession): (Path, FileSystem) = {
    val p = new Path(location)
    (p, p.getFileSystem(spark.sessionState.newHadoopConf()))
  }

  /** Datasource provider, the format the CoW engine reads and rewrites
    * in (DML on a STORED AS ORC/AVRO table must rewrite files in the
    * table's own format, not parquet). */
  def format: String =
    meta.provider.map(_.toLowerCase).filterNot(_ == "hive").getOrElse("parquet")

  def partCols: Seq[String] = meta.partitionColumnNames

  /** Partition columns of a partitioned graft-* table (whose partitions
    * ARE the directory layout); Nil for every other table. */
  def graftPartCols: Seq[String] =
    if (meta.provider.exists(_.toLowerCase.startsWith("graft-"))) partCols else Nil

  /** Declared partition-column types by lowercased name. Partition
    * comparisons dispatch on these: Hive's metastore compares a
    * numeric-typed partition value numerically (hr=1 matches hr=01) but
    * a STRING-typed one by exact text. */
  def partTypes: Map[String, DataType] =
    meta.partitionSchema.fields.map(f => f.name.toLowerCase -> f.dataType).toMap

  private def lineFormat = Set("graft-seq", "graft-rcfile", "graft-text")(format)

  /** Explicit read schema for the CoW engine where the format or layout
    * does not self-describe: graft-seq lines infer c0..cN strings without
    * it, and a PARTITIONED graft-avro table can't infer its partition
    * column types from the container files. Both get the catalog's FULL
    * schema (the sources answer partition columns from directory names).
    * Self-describing formats get null. */
  def dmlSchema: StructType =
    if (lineFormat || (format == "graft-avro" && partCols.nonEmpty)) meta.schema
    else null

  /** DATA-only schema (partition columns excluded) for operations inside
    * ONE flat directory: a partition subdir's files never store the
    * partition columns, so a COMPACT there must read and write the line
    * fields only. */
  def dataSchema: StructType =
    if (lineFormat) StructType(meta.schema.filterNot(f => partCols.contains(f.name)))
    else null

  /** Source options the CoW engine echoes on its path-based reads and
    * rewrites (e.g. graft-rcfile's `serde` — a rewrite through the wrong
    * cell codec would corrupt the table). Catalog loads get these
    * automatically; Acid's direct path loads do not. */
  def dmlOptions: Map[String, String] =
    meta.storage.properties.filter { case (k, _) =>
      !Set("path", "location", "partitions").contains(k.toLowerCase) }

  def heteroEntries: Seq[(String, String)] =
    graft.plans.HeteroPartitions.parse(meta.properties)

  def archiveEntries: Seq[String] = operators.Archive.parseEntries(meta.properties)
}

private[graft] object TableDesc {
  def of(spark: SparkSession, table: String): TableDesc =
    TableDesc(table, spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table)))

  /** None for any name the catalog cannot resolve. */
  def find(spark: SparkSession, table: String): Option[TableDesc] =
    try Some(of(spark, table)) catch { case _: Exception => None }
}
