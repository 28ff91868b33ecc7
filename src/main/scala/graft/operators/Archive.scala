package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

/** ALTER TABLE ... ARCHIVE / UNARCHIVE PARTITION with the reference's
  * observable contract, minus the HAR container (reference
  * `ql/exec/DDLTask.java:356-358` archive/unarchive,
  * `ql/exec/ArchiveUtils.java:50`; tests clientpositive/archive_multi.q,
  * clientnegative/archive_insert1.q, archive_multi1.q):
  *
  *   - gated behind `hive.archive.enabled` (ErrorMsg 10107);
  *   - partition-only, and the spec must be a LEADING PREFIX of the
  *     partition columns in declared order (ErrorMsg 10110/10125;
  *     `ArchiveUtils.java:78-79` — `(ds)` archives every hr under it,
  *     `(hr)` alone is rejected);
  *   - archiving twice (or overlapping an existing archive) refuses
  *     ("Partition(s) already archived");
  *   - reads KEEP WORKING on archived partitions (archive_multi.q
  *     re-selects after ARCHIVE and expects identical results);
  *   - writes against an archived partition refuse ("Insert conflict
  *     with existing archive", SemanticAnalyzer's message);
  *   - UNARCHIVE restores the original layout and lifts every refusal.
  *
  * Physical shape: instead of a HAR (dead tech with no object-store
  * analog), each covered leaf partition's directory RELOCATES to a
  * hidden `.graft_archive/` subtree under the table root and its
  * catalog partition entry is repointed there — so scans (which list
  * per-partition catalog locations) read archived data untouched, while
  * the standard `<table>/<spec>` layout every write path targets no
  * longer exists, making accidental raw-path writes to an archived
  * partition fail loudly too. The archived state itself is a table
  * property (spec-path list), the same catalog-backed pattern as
  * plans/HeteroPartitions.
  */
object Archive {

  val PropKey = "graft.archived"

  // Entries join with ';' in the table property, but escapePathName does
  // not escape ';' — a partition VALUE containing one would split into
  // bogus entries and corrupt overlap/unarchive bookkeeping. Percent-
  // encode ';' per entry before joining ('%' itself IS escaped by
  // escapePathName, so '%3B' cannot occur in a natural escaped path —
  // the encoding is unambiguous and round-trips).
  private def encodeEntry(e: String): String = e.replace(";", "%3B")
  private def decodeEntry(e: String): String = e.replace("%3B", ";")

  def entriesOf(spark: SparkSession, table: String): Seq[String] =
    try parseEntries(spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(table)).properties)
    catch { case _: Exception => Nil }

  def parseEntries(props: Map[String, String]): Seq[String] =
    props.get(PropKey).toSeq
      .flatMap(_.split(";").toSeq.filter(_.nonEmpty).map(decodeEntry))

  private def writeEntries(spark: SparkSession, table: String,
      entries: Seq[String]): Unit = {
    if (entries.isEmpty)
      spark.sql(s"ALTER TABLE $table UNSET TBLPROPERTIES IF EXISTS ('$PropKey')")
    else
      spark.sql(
        s"ALTER TABLE $table SET TBLPROPERTIES ('$PropKey' = " +
          s"'${entries.map(encodeEntry).mkString(";")}')")
    spark.sql(s"REFRESH TABLE $table")
  }

  /** One spec path covers another when it equals it or is a parent
    * directory of it (ds=1 covers ds=1/hr=2 and vice versa conflicts for
    * writes: inserting the whole ds=1 tree touches an archived hr). */
  private def overlaps(a: String, b: String): Boolean =
    a == b || a.startsWith(b + "/") || b.startsWith(a + "/")

  /** The archived entry conflicting with a write aimed at `specPath`
    * (empty string = whole-table write, which conflicts with ANY entry). */
  def conflict(entries: Seq[String], specPath: String): Option[String] =
    if (specPath.isEmpty) entries.headOption
    else entries.find(e => overlaps(e, specPath))

  /** Escape a (possibly partial) PARTITION spec into its directory path,
    * validating it names a LEADING PREFIX of the declared partition
    * columns in order — the reference's partial-spec rule
    * (ArchiveUtils.java:78-79); the keys must match the declared order
    * textually (ErrorMsg 10125, clientnegative/archive_partspec4.q
    * refuses (hr, ds) on a (ds, hr) table). */
  def specPath(spark: SparkSession, table: String, specText: String): String = {
    val declared = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
      .partitionColumnNames
    val kvs = specText.split(",").map(_.trim).filter(_.nonEmpty).map { kv =>
      require(kv.contains("="), s"PARTITION spec needs key=value, got: $kv")
      val Array(k, v) = kv.split("=", 2).map(_.trim)
      (k, v.stripPrefix("'").stripSuffix("'"))
    }.toSeq
    require(kvs.nonEmpty && kvs.length <= declared.length &&
        kvs.zip(declared).forall { case ((k, _), d) => k.equalsIgnoreCase(d) },
      "Partition columns in partition specification are not the same as " +
        s"that defined in the table schema. The names and orders have to " +
        s"be exactly the same. Partition columns in the table schema " +
        s"are: (${declared.mkString(", ")}), while the partitions " +
        s"specified in the query are: (${kvs.map(_._1).mkString(", ")}).")
    kvs.zip(declared).map { case ((_, v), d) =>
      ExternalCatalogUtils.escapePathName(d) + "=" +
        ExternalCatalogUtils.escapePathName(v)
    }.mkString("/")
  }

  private def tableRoot(spark: SparkSession, table: String): String =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
      .location.toString.stripSuffix("/")

  private def requireEnabled(spark: SparkSession): Unit =
    require(spark.conf.getOption("hive.archive.enabled")
        .exists(_.trim.equalsIgnoreCase("true")),
      "Archiving methods are currently disabled. " +
        "Please see the Hive wiki for more information about enabling archiving") // ErrorMsg 10107

  def archive(spark: SparkSession, table: String, specText: String): Unit = {
    requireEnabled(spark)
    val path = specPath(spark, table, specText)
    val entries = entriesOf(spark, table)
    require(!entries.exists(e => overlaps(e, path)),
      "Partition(s) already archived") // DDLTask archive's double-archive refusal
    // a format-diverged partition reads through the PATH-derived hetero
    // union (plans/HeteroPartitions.Reads), which cannot follow the
    // relocation — refuse rather than silently serve empty reads
    val hetero = graft.plans.HeteroPartitions.entriesOf(spark, table)
    hetero.find(h => overlaps(h._1, path)).foreach(h =>
      sys.error(s"ARCHIVE is not supported on partitions carrying " +
        s"heterogeneous file formats (${h._1} diverges via SET FILEFORMAT); " +
        "unify with ALTER TABLE ... SET FILEFORMAT first"))
    val moved = relocate(spark, table, path, toArchive = true)
    require(moved > 0, "No partition matches the specification")
    writeEntries(spark, table, entries :+ path)
  }

  def unarchive(spark: SparkSession, table: String, specText: String): Unit = {
    requireEnabled(spark)
    val path = specPath(spark, table, specText)
    val entries = entriesOf(spark, table)
    // the reference requires UNARCHIVE at the SAME granularity the
    // ARCHIVE ran at (a har packs one spec; you cannot unpack half)
    require(entries.contains(path),
      s"Partition ($specText) is not archived (or was archived at a " +
        "different granularity)")
    relocate(spark, table, path, toArchive = false): Unit
    writeEntries(spark, table, entries.filterNot(_ == path))
  }

  /** Move every leaf partition under `path` between the standard layout
    * and the hidden `.graft_archive/` subtree, repointing catalog
    * partition locations. Metadata-sized work: one rename + one catalog
    * alter per covered partition — no data rewrite at any scale. */
  private def relocate(spark: SparkSession, table: String, path: String,
      toArchive: Boolean): Int = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val root = tableRoot(spark, table)
    val archRoot = root + "/.graft_archive"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val parts = spark.sessionState.catalog.listPartitions(ident).filter { p =>
      val loc = new org.apache.hadoop.fs.Path(p.location).toString.stripSuffix("/")
      val base = if (toArchive) root else archRoot
      loc == s"$base/$path" || loc.startsWith(s"$base/$path/")
    }
    // renames run CONCURRENTLY: on HDFS a rename is one namenode RPC, but
    // on object stores it is a copy — a serial loop over 10^4 covered
    // partitions would turn a metadata-sized DDL into minutes. A bounded
    // pool keeps the driver from opening unbounded connections; parents
    // are pre-created serially (cheap, and avoids mkdirs races).
    parts.foreach { p =>
      val loc = new org.apache.hadoop.fs.Path(p.location).toString.stripSuffix("/")
      val rel = loc.stripPrefix(if (toArchive) root else archRoot).stripPrefix("/")
      val parent = new org.apache.hadoop.fs.Path(
        (if (toArchive) archRoot else root) + "/" + rel).getParent
      if (!fs.exists(parent))
        require(fs.mkdirs(parent), s"cannot create $parent")
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(16, parts.size)))
    type Moved = (org.apache.spark.sql.catalyst.catalog.CatalogTablePartition,
      org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path)
    val outcomes =
      try {
        parts.map { p =>
          pool.submit(new java.util.concurrent.Callable[Moved] {
            override def call() = {
              val loc = new org.apache.hadoop.fs.Path(p.location)
                .toString.stripSuffix("/")
              val rel = loc.stripPrefix(if (toArchive) root else archRoot)
                .stripPrefix("/")
              val dst = new org.apache.hadoop.fs.Path(
                (if (toArchive) archRoot else root) + "/" + rel)
              val src = new org.apache.hadoop.fs.Path(loc)
              require(fs.rename(src, dst), s"cannot move $src to $dst")
              (p.copy(storage = p.storage.copy(locationUri = Some(dst.toUri))),
                src, dst)
            }
          })
        }.map { f =>
          // unwrap the pool's ExecutionException so a failed rename
          // surfaces its own "cannot move src to dst", not a wrapper
          try Right(f.get()): Either[Throwable, Moved]
          catch {
            case e: java.util.concurrent.ExecutionException =>
              Left(Option(e.getCause).getOrElse(e))
            case e: Throwable => Left(e)
          }
        }
      } finally pool.shutdown()
    val failures = outcomes.collect { case Left(t) => t }
    if (failures.nonEmpty) {
      // mid-batch failure: the catalog was never repointed (reads stay
      // consistent), so move the completed renames BACK best-effort to
      // leave the on-disk layout matching it; a rollback that itself
      // fails is logged and left for UNARCHIVE/ARCHIVE retry
      outcomes.collect { case Right((_, src, dst)) => (src, dst) }.foreach {
        case (src, dst) =>
          try {
            if (!fs.rename(dst, src))
              System.err.println(s"[graft] archive rollback left $dst in place")
          } catch { case e: Exception =>
            System.err.println(s"[graft] archive rollback of $dst failed: $e")
          }
      }
      throw failures.head
    }
    val updated = outcomes.collect { case Right((p2, _, _)) => p2 }
    if (updated.nonEmpty) {
      spark.sessionState.catalog.alterPartitions(ident, updated)
      spark.sql(s"REFRESH TABLE $table")
    }
    updated.size
  }

  /** Drop entries whose partitions vanished from the catalog (after DROP
    * PARTITION — the reference lets archived partitions drop). */
  def prune(spark: SparkSession, table: String): Unit = {
    val entries = entriesOf(spark, table)
    if (entries.nonEmpty) {
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
      val root = tableRoot(spark, table)
      val live =
        try {
          val locs = spark.sessionState.catalog.listPartitions(ident)
            .map(p => new org.apache.hadoop.fs.Path(p.location)
              .toString.stripSuffix("/"))
          entries.filter(e => locs.exists(l =>
            l == s"$root/.graft_archive/$e" ||
              l.startsWith(s"$root/.graft_archive/$e/")))
        } catch { case _: Exception => entries }
      if (live.size != entries.size) writeEntries(spark, table, live)
    }
  }
}
