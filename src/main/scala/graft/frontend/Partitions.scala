package graft
package frontend

import org.apache.spark.sql.{DataFrame, SparkSession}
import SqlText._
import Router.Run
import Guards.{noDropCascade, noDropParts, qualName}

/** Partition statements the catalog cannot answer natively: partitioned
  * graft-* tables (their partitions ARE the directory layout), DROP
  * PARTITION by comparator or partial spec, EXCHANGE PARTITION,
  * format-diverged (hetero) partitions, and metadata-only view partitions.
  */
private[graft] object Partitions {

  // DESCRIBE FORMATTED/EXTENDED t PARTITION (spec): native in Spark, but
  // Hive shows the PARTITION's own storage — append the diverged format
  // row when the spec names a heterogeneous-format partition
  val descFmtPartRe =
    """(?is)\s*DESC(?:RIBE)?\s+(?:FORMATTED|EXTENDED)\s+([\w.]+)\s+PARTITION\s*\(([^)]*)\)\s*;?\s*""".r

  // ALTER TABLE t PARTITION (a) RENAME TO PARTITION (b): native in
  // Spark, but on a heterogeneous-format table the divergence entry must
  // MOVE with the partition or the renamed directory's foreign-format
  // files would be read with the base provider
  val renamePartRe =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+PARTITION\s*\(([^)]*)\)\s+RENAME\s+TO\s+PARTITION\s*\(([^)]*)\)\s*;?\s*""".r

  // DROP PARTITION with comparison filters (c>='US', d<'2') — the
  // reference's drop-by-filter form; Spark's parser only accepts exact
  // `=` specs, so the filtered form is intercepted and expanded
  val dropPartFilterRe =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+(IF\s+EXISTS\s+)?(PARTITION\s*\(.+?\)(?:\s*,\s*PARTITION\s*\(.+?\))*)\s*(PURGE\s*)?;?\s*""".r
  val partGroupRe = """(?is)PARTITION\s*\(([^)]*)\)""".r
  private val partCmpRe =
    """(?s)\s*([\w]+)\s*(<=|>=|!=|<>|<|>|=)\s*(?:'([^']*)'|"([^"]*)"|([\w.+-]+))\s*""".r

  // ALTER TABLE <dest> EXCHANGE PARTITION (<spec>) WITH TABLE <src> —
  // DDLTask.java:4270 exchangeTablePartition / the metastore's
  // exchange_partition: MOVE every source partition matching the
  // (possibly partial, equality-only) spec into the destination table.
  val exchangeRe =
    """(?is)\s*ALTER\s+TABLE\s+([\w.`]+)\s+EXCHANGE\s+PARTITION\s*\(([^)]*)\)\s+WITH\s+TABLE\s+([\w.`]+)\s*;?\s*""".r

  // ---- partitioned graft-* partition-statement surface -------------------
  // v2 tables reject SHOW PARTITIONS / ALTER TABLE ADD|DROP PARTITION, but
  // the graft sources' partitions ARE the directory layout — so the engine
  // answers these statements from the filesystem, Hive text shapes intact.

  val showPartsRe =
    """(?is)\s*SHOW\s+PARTITIONS\s+([\w.]+)(?:\s+PARTITION\s*\(([^)]*)\))?\s*;?\s*""".r
  val addPartRe =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+(IF\s+NOT\s+EXISTS\s+)?(PARTITION\s*\(.+?\)(?:\s*(?:PARTITION\s*\(.+?\))*)?)\s*;?\s*""".r

  /** SHOW PARTITIONS on a partitioned VIEW answers from the recorded
    * metadata entries (Hive prints the ds=v/hr=v partition names); on a
    * partitioned graft-* table from the directory layout. None: Spark's
    * native command answers. */
  def showPartitions(spark: SparkSession, table: String,
      partial: String): Option[Run] =
    TableDesc.find(spark, table).flatMap { d =>
      if (d.isView && viewPartCols(d.meta).nonEmpty) Some(() => {
        val prefixes = Option(partial).map { p =>
          operators.ExportImport.parseSpec(Some(p)).get
            .map { case (k, v) => s"${k.toLowerCase}=${v.toLowerCase}" }
        }.getOrElse(Nil)
        val rows = viewPartitions(d.meta)
          .map(decodeViewPartEntry)
          .filter(n => prefixes.forall(pr =>
            n.toLowerCase.split("/").contains(pr)))
          .sorted
        import spark.implicits._
        rows.toDF("partition")
      })
      else if (d.graftPartCols.nonEmpty)
        Some(() => showGraftPartitions(spark, d, Option(partial)))
      else None
    }

  /** ALTER TABLE ... DROP [IF EXISTS] PARTITION (...)[, PARTITION ...]. A
    * partitioned graft-* table drops directories. Comparator specs, and
    * PARTIAL exact specs (fewer columns than the table's partition keys:
    * drop_multi_partitions.q's `drop partition (b='1')` over (b,c) keys,
    * which Spark's native command reads as exact and misses), expand
    * through the catalog filter. An exact spec on a hetero or partially
    * archived table stays on Spark's native command, then prunes the
    * entries whose partition vanished (the reference lets archived
    * partitions drop). None: Spark's native command answers. */
  def dropPartitions(spark: SparkSession, stmt: String, table: String,
      ifEx: String, specText: String): Option[Run] = {
    val desc = TableDesc.find(spark, table)
    val types = desc.map(_.partTypes).getOrElse(Map.empty)
    def partial = types.nonEmpty && partGroupRe.findAllMatchIn(specText).exists { g =>
      val n = partCmpRe.findAllMatchIn(g.group(1)).size
      n > 0 && n < types.size
    }
    def pruned(drop: => Unit): Run = Router.done(spark) {
      drop
      pruneHeteroEntries(spark, table)
      operators.Archive.prune(spark, table)
    }
    if (desc.exists(_.graftPartCols.nonEmpty))
      Some(Router.done(spark)(dropGraftPartitions(spark, desc.get, ifEx != null, specText)))
    else if ("<>!".exists(specText.contains(_)) || partial)
      Some(pruned(dropPartitionsByFilter(spark, table, types, ifEx != null, specText)))
    else if (desc.exists(d => d.heteroEntries.nonEmpty || d.archiveEntries.nonEmpty))
      Some(pruned(spark.sql(stmt): Unit))
    else None
  }

  /** DESCRIBE FORMATTED/EXTENDED of a format-diverged partition: the
    * native answer plus the partition's own format row (DDLTask
    * .describeTable shows the partition's storage in Hive). */
  def describeDiverged(spark: SparkSession, stmt: String, table: String,
      part: String): Option[Run] =
    TableDesc.find(spark, table).flatMap { d =>
      d.heteroEntries.find(_._1 == partSubdirLiteral(d.partCols, part))
    }.map { case (_, prov) => () =>
      val native = spark.sql(stmt)
      native.union(spark.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row("Partition Format", prov,
            "per-partition SET FILEFORMAT")),
        native.schema))
    }

  /** Partition rename on a hetero table: move the divergence entry with
    * the partition (the files keep their format through a rename). */
  def renameDiverged(spark: SparkSession, stmt: String, table: String,
      fromSpec: String, toSpec: String): Option[Run] =
    TableDesc.find(spark, table).filter(_.heteroEntries.nonEmpty).map { d => Router.done(spark) {
      val fromPath = partSubdirLiteral(d.partCols, fromSpec)
      spark.sql(stmt)
      val entries = d.heteroEntries
      entries.find(_._1 == fromPath).foreach { case (_, prov) =>
        val toPath = partSubdirLiteral(d.partCols, toSpec)
        val moved = entries.filterNot(_._1 == fromPath) :+ (toPath -> prov)
        val key = graft.plans.HeteroPartitions.PropKey
        spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES ('$key' = " +
          s"'${graft.plans.HeteroPartitions.encode(moved)}')")
        spark.sql(s"REFRESH TABLE $table")
      }
    } }

  /** Numeric compare for numeric-typed partition columns, lexicographic
    * for string-typed — the comparison the metastore's
    * dropPartitionsByFilter applies per declared column type. */
  private def partValueCmp(v: String, lit: String,
      dt: org.apache.spark.sql.types.DataType): Int =
    if (graft.sources.v2.PartLayout.numericPartType(dt))
      (v.toDoubleOption, lit.toDoubleOption) match {
        case (Some(a), Some(b)) => java.lang.Double.compare(a, b)
        case _ => v.compareTo(lit)
      }
    else v.compareTo(lit)

  private def specMatches(preds: Seq[(String, String, String)],
      spec: Seq[(String, String)], table: String,
      types: Map[String, org.apache.spark.sql.types.DataType]): Boolean =
    preds.forall { case (name, op, lit) =>
      spec.find(_._1.equalsIgnoreCase(name)) match {
        case None => sys.error(s"$name is not a partition column of $table")
        case Some((_, v)) =>
          val cmp = partValueCmp(v, lit,
            types.getOrElse(name.toLowerCase, org.apache.spark.sql.types.StringType))
          op match {
            case "="         => cmp == 0
            case "!=" | "<>" => cmp != 0
            case "<"         => cmp < 0
            case "<="        => cmp <= 0
            case ">"         => cmp > 0
            case ">="        => cmp >= 0
          }
      }
    }

  private def parsePreds(g: String): Seq[(String, String, String)] = {
    // split on commas OUTSIDE quotes — a partition value may legally
    // contain one (PARTITION (p='a,b'))
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var quote = '\u0000'
    g.foreach { c =>
      if (quote != '\u0000') { cur += c; if (c == quote) quote = '\u0000' }
      else if (c == '\'' || c == '"') { cur += c; quote = c }
      else if (c == ',') { parts += cur.toString; cur.clear() }
      else cur += c
    }
    if (cur.nonEmpty) parts += cur.toString
    parts.toSeq.map {
      case partCmpRe(name, op, v1, v2, v3) =>
        (name, op, Seq(v1, v2, v3).find(_ != null).get)
      case bad => sys.error(s"unsupported partition spec: $bad")
    }
  }

  /** NO_DROP protection check by partition VALUE, not spelling: the
    * ENABLE statement's raw text key (hr=01) must protect the same
    * logical partition a numeric-matching DROP names as hr=1. */
  private def noDropProtected(spark: SparkSession, table: String,
      types: Map[String, org.apache.spark.sql.types.DataType],
      spec: Seq[(String, String)]): Boolean = {
    import scala.jdk.CollectionConverters._
    val prefix = qualName(spark, table) + "/"
    noDropCascade.contains(qualName(spark, table)) ||
      noDropParts.asScala.exists { key =>
        key.startsWith(prefix) && {
          val kvs = key.stripPrefix(prefix).split(",").toSeq
            .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }
          kvs.size == spec.size && kvs.forall { case (k, v) =>
            spec.exists { case (sk, sv) =>
              sk.equalsIgnoreCase(k) && partValueCmp(sv, v,
                types.getOrElse(k.toLowerCase,
                  org.apache.spark.sql.types.StringType)) == 0 }
          }
        }
      }
  }

  private def specDirName(spec: Seq[(String, String)]): String =
    spec.map { case (k, v) =>
      graft.sources.v2.PartLayout.escape(k) + "=" +
        graft.sources.v2.PartLayout.escape(v)
    }.mkString("/")

  /** SHOW PARTITIONS over the directory layout (Hive's one-string-per-
    * partition `p=v/q=w` shape; optional partial spec filters). */
  private def showGraftPartitions(spark: SparkSession, desc: TableDesc,
      partial: Option[String]): DataFrame = {
    val (root, fs) = desc.root(spark)
    val dirs = graft.sources.v2.PartLayout.listPartitionDirs(
      root, fs, desc.graftPartCols)
    val preds = partial.toSeq.flatMap(parsePreds)
    require(preds.forall(_._2 == "="),
      "SHOW PARTITIONS accepts only equality partition specs")
    val rows = dirs.filter(specMatches(preds, _, desc.name, desc.partTypes))
      .map(specDirName)
    Commands.stringTable(spark, Seq("partition"), rows.map(Seq(_)))
  }

  /** ALTER TABLE ... ADD PARTITION on a graft table = create the
    * directory (all partition columns must be bound, equality only). */
  def addGraftPartitions(spark: SparkSession, desc: TableDesc,
      ifNotExists: Boolean, specText: String): Unit = {
    val table = desc.name
    val (root, fs) = desc.root(spark)
    val partCols = desc.graftPartCols
    partGroupRe.findAllMatchIn(specText).map(_.group(1)).foreach { g =>
      val preds = parsePreds(g)
      require(preds.forall(_._2 == "="), s"ADD PARTITION needs exact specs: $g")
      val byName = preds.map(p => p._1.toLowerCase -> p._3).toMap
      require(partCols.forall(c => byName.contains(c.toLowerCase)),
        s"ADD PARTITION must bind every partition column (${partCols.mkString(",")}): $g")
      val spec = partCols.map(c => c -> byName(c.toLowerCase))
      val dir = new org.apache.hadoop.fs.Path(root, specDirName(spec))
      if (fs.exists(dir)) {
        if (!ifNotExists) sys.error(s"partition ($g) already exists in $table")
      } else fs.mkdirs(dir): Unit
    }
  }

  /** ALTER TABLE ... DROP PARTITION on a graft table: match directories
    * (comparator specs included), honor NO_DROP protection, delete the
    * subtrees. */
  private def dropGraftPartitions(spark: SparkSession, desc: TableDesc,
      ifExists: Boolean, specText: String): Unit = {
    val table = desc.name
    val (root, fs) = desc.root(spark)
    val dirs = graft.sources.v2.PartLayout.listPartitionDirs(
      root, fs, desc.graftPartCols)
    val toDrop = partGroupRe.findAllMatchIn(specText).map(_.group(1)).toSeq
      .flatMap { g =>
        val matches = dirs.filter(
          specMatches(parsePreds(g), _, table, desc.partTypes))
        if (matches.isEmpty && !ifExists)
          sys.error(s"no partition of $table matches ($g); use DROP IF EXISTS to ignore")
        matches
      }.distinct
    toDrop.foreach { spec =>
      require(!noDropProtected(spark, table, desc.partTypes, spec),
        s"Partition (${spec.map { case (k, v) => s"$k=$v" }.mkString(",")})" +
          s" of $table is protected from being dropped (NO_DROP)")
    }
    toDrop.foreach { spec =>
      fs.delete(new org.apache.hadoop.fs.Path(root, specDirName(spec)), true): Unit
    }
    spark.sql(s"REFRESH TABLE $table"): Unit
  }

  /** ALTER TABLE dest EXCHANGE PARTITION (spec) WITH TABLE src —
    * DDLTask.java:4270 exchangeTablePartition. The metastore contract
    * (exchange_partition): both tables must share column AND partition
    * schemas, every source partition matching the spec moves (a partial
    * spec exchanges the whole matching subtree, exchange_partition3.q),
    * the destination must not already hold any matched partition, and
    * the move is a directory RENAME — no data rewrite, scale-free.
    * Supported uniformly for catalog-partitioned v1 tables and
    * directory-partitioned graft-* DSv2 tables; mixed formats are
    * refused because the files move verbatim.
    */
  def exchangePartition(spark: SparkSession, destName: String,
      specText: String, srcName: String): Unit = {
    val cat = spark.sessionState.catalog
    val parser = spark.sessionState.sqlParser
    val destId = parser.parseTableIdentifier(destName)
    val srcId = parser.parseTableIdentifier(srcName)
    val dest = cat.getTableMetadata(destId)
    val src = cat.getTableMetadata(srcId)
    require(dest.identifier != src.identifier,
      s"EXCHANGE PARTITION: source and destination are the same table ($srcName)")
    def sig(m: org.apache.spark.sql.catalyst.catalog.CatalogTable) =
      m.schema.map(f => (f.name.toLowerCase, f.dataType.catalogString))
    require(sig(dest) == sig(src) &&
      dest.partitionColumnNames.map(_.toLowerCase) ==
        src.partitionColumnNames.map(_.toLowerCase),
      s"EXCHANGE PARTITION: $destName and $srcName have different schemas")
    // files move verbatim, so a format-diverged partition on EITHER side
    // could land foreign-format files under the other table's provider
    require(graft.plans.HeteroPartitions.entriesOf(spark, destName).isEmpty &&
        graft.plans.HeteroPartitions.entriesOf(spark, srcName).isEmpty,
      s"EXCHANGE PARTITION: $destName/$srcName carry heterogeneous " +
        "partition file formats; unify with ALTER TABLE ... SET FILEFORMAT first")
    val destProv = dest.provider.filterNot(_.equalsIgnoreCase("hive"))
      .map(_.toLowerCase).getOrElse("parquet")
    val srcProv = src.provider.filterNot(_.equalsIgnoreCase("hive"))
      .map(_.toLowerCase).getOrElse("parquet")
    require(destProv == srcProv,
      s"EXCHANGE PARTITION: storage formats differ ($srcProv vs $destProv); " +
        "partition files move verbatim, so both tables must share a format")
    val partCols = src.partitionColumnNames
    // a catalog partition's full spec in declared column order
    def specOf(p: org.apache.spark.sql.catalyst.catalog.CatalogTablePartition,
        table: String): Seq[(String, String)] =
      partCols.map(c => c -> p.spec.find(_._1.equalsIgnoreCase(c)).map(_._2)
        .getOrElse(sys.error(s"partition of $table lacks column $c")))
    val preds = parsePreds(specText)
    require(preds.nonEmpty && preds.forall(_._2 == "="),
      s"EXCHANGE PARTITION needs an equality partition spec, got: $specText")
    preds.foreach { case (n, _, _) =>
      require(partCols.exists(_.equalsIgnoreCase(n)),
        s"$n is not a partition column of $srcName") }
    val isGraft = srcProv.startsWith("graft-")
    val srcPartTypes = src.partitionSchema.fields
      .map(f => f.name.toLowerCase -> f.dataType).toMap
    // matched source partitions as (full ordered spec, source directory)
    val matched: Seq[(Seq[(String, String)], org.apache.hadoop.fs.Path)] =
      if (isGraft) {
        val (root, fs) = TableDesc(srcName, src).root(spark)
        graft.sources.v2.PartLayout.listPartitionDirs(root, fs, partCols)
          .filter(specMatches(preds, _, srcName, srcPartTypes))
          .map(s => s -> new org.apache.hadoop.fs.Path(root, specDirName(s)))
      } else cat.listPartitions(srcId).map(p =>
        specOf(p, srcName) -> new org.apache.hadoop.fs.Path(p.location)).filter { case (spec, _) => specMatches(preds, spec, srcName, srcPartTypes) }
    require(matched.nonEmpty,
      s"EXCHANGE PARTITION: no partition of $srcName matches ($specText)")
    matched.foreach { case (spec, _) =>
      require(!noDropProtected(spark, srcName, srcPartTypes, spec),
        s"Partition (${spec.map { case (k, v) => s"$k=$v" }.mkString(",")})" +
          s" of $srcName is protected from being dropped (NO_DROP)") }
    val hconf = spark.sessionState.newHadoopConf()
    val destRoot = new org.apache.hadoop.fs.Path(TableDesc(destName, dest).location)
    val fsDest = destRoot.getFileSystem(hconf)
    // validate the WHOLE batch before touching anything — the metastore
    // refuses the exchange outright rather than half-applying it. One
    // dest-catalog fetch, compared in memory (not one listing RPC per
    // matched partition).
    // existing logical partitions at the destination, VALUE-matched: a
    // dest holding hr=01 must refuse an incoming hr=1 (same logical
    // partition under another spelling — two directories for one
    // partition otherwise), for graft directory layouts and catalog
    // tables alike.
    val destExisting: Seq[Seq[(String, String)]] =
      if (destProv.startsWith("graft-"))
        graft.sources.v2.PartLayout.listPartitionDirs(destRoot, fsDest, partCols)
      else cat.listPartitions(destId).map(specOf(_, destName))
    matched.foreach { case (spec, _) =>
      val specStr = spec.map { case (k, v) => s"$k=$v" }.mkString(",")
      val dup = destExisting.exists(ex => spec.forall { case (k, v) =>
        ex.exists { case (ek, ev) => ek.equalsIgnoreCase(k) &&
          partValueCmp(ev, v, srcPartTypes.getOrElse(k.toLowerCase,
            org.apache.spark.sql.types.StringType)) == 0 } })
      require(!dup,
        s"EXCHANGE PARTITION: partition ($specStr) already exists in $destName")
      require(!fsDest.exists(new org.apache.hadoop.fs.Path(destRoot, specDirName(spec))),
        s"EXCHANGE PARTITION: target directory for ($specStr) already exists under $destName")
    }
    // phase 1: move every directory; on any failure, roll the completed
    // renames back so a multi-partition batch is never left half-moved
    // (a rename can fail mid-batch on cross-filesystem tables or quota)
    val moved = scala.collection.mutable.ListBuffer
      .empty[(org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path)]
    try matched.foreach { case (spec, srcDir) =>
      val destDir = new org.apache.hadoop.fs.Path(destRoot, specDirName(spec))
      if (destDir.getParent != null) fsDest.mkdirs(destDir.getParent): Unit
      require(fsDest.rename(srcDir, destDir),
        s"EXCHANGE PARTITION: move failed: $srcDir -> $destDir")
      moved += ((srcDir, destDir))
    } catch { case e: Throwable =>
      moved.reverse.foreach { case (srcDir, destDir) =>
        fsDest.rename(destDir, srcDir): Unit }
      throw e
    }
    // phase 2: catalog updates, after all data is in place
    if (!isGraft) matched.foreach { case (spec, _) =>
      val specSql = spec.map { case (k, v) =>
        s"$k='${v.replace("\\", "\\\\").replace("'", "\\'")}'" }.mkString(", ")
      // data already moved: ADD points the dest catalog at the standard
      // layout dir; the source DROP finds its directory gone (no-op delete)
      spark.sql(s"ALTER TABLE $destName ADD PARTITION ($specSql)"): Unit
      spark.sql(s"ALTER TABLE $srcName DROP PARTITION ($specSql)"): Unit
    }
    spark.sql(s"REFRESH TABLE $destName"): Unit
    spark.sql(s"REFRESH TABLE $srcName"): Unit
  }

  /** ALTER TABLE … DROP [IF EXISTS] PARTITION (filters)[, PARTITION …]
    * with comparison operators — the reference's drop-by-filter form
    * (DDLTask.dropPartitions; golden drop_partitions_filter.q), which
    * Spark's parser rejects (exact `=` specs only). Each PARTITION group
    * is a conjunction of per-column comparisons; groups union. Matching
    * partitions resolve from the catalog (metadata-sized listing, never a
    * data scan) and drop through Spark's native exact-spec command.
    * Values compare numerically when both sides parse as numbers
    * (partition values are stored as strings), lexicographically
    * otherwise — the metastore filter's behavior. Without IF EXISTS a
    * group matching nothing is an error, like
    * hive.exec.drop.ignorenonexistent=false.
    */
  private def dropPartitionsByFilter(spark: SparkSession, table: String,
      types: Map[String, org.apache.spark.sql.types.DataType],
      ifExists: Boolean, specText: String): Unit = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val parts = spark.sessionState.catalog.listPartitions(ident)
    val groups = partGroupRe.findAllMatchIn(specText).map(_.group(1)).toSeq
    val toDrop = groups.flatMap { g =>
      val preds = parsePreds(g)
      val matches = parts.filter(p => specMatches(preds, p.spec.toSeq, table, types))
      if (matches.isEmpty && !ifExists)
        sys.error(s"no partition of $table matches ($g); use DROP IF EXISTS to ignore")
      matches
    }
    val specs = toDrop.map(_.spec).distinct
    // validate protection over the WHOLE set before dropping anything —
    // a protected partition must not abort the statement half-applied
    specs.foreach { spec =>
      val norm = spec.map { case (k, v) => s"${k.toLowerCase}=$v" }
        .toSeq.sorted.mkString(",")
      require(!noDropParts.contains(qualName(spark, table) + "/" + norm) &&
          !noDropCascade.contains(qualName(spark, table)),
        s"Partition ($norm) of $table is protected from being dropped (NO_DROP)")
    }
    specs.foreach { spec =>
      val specSql = spec.map { case (k, v) => s"$k='$v'" }.mkString(", ")
      spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION ($specSql)")
    }
  }

  /** Remove hetero entries whose partition no longer exists (after DROP
    * PARTITION): a stale entry would make a LATER ADD PARTITION of the
    * same spec resurrect the old format divergence and silently misread
    * the fresh base-format files. Liveness is the CATALOG's partition
    * list when the table tracks partitions there — DROP PARTITION on an
    * EXTERNAL table removes the catalog entry but keeps the files, so a
    * directory-existence check alone would keep serving the dropped
    * partition's rows forever. Directory existence remains a second
    * condition (a catalog entry whose files vanished reads nothing). */
  private def pruneHeteroEntries(spark: SparkSession, table: String): Unit = {
    TableDesc.find(spark, table).filter(_.heteroEntries.nonEmpty).foreach { desc =>
      val entries = desc.heteroEntries
      val loc = desc.location.stripSuffix("/")
      val conf = spark.sessionState.newHadoopConf()
      // catalog view: the set of live partition locations (relative specs
      // resolve under the table location, matching entry encoding). None
      // when partition metadata is untracked (directory-is-layout tables)
      // — then the filesystem check is the only authority, as before.
      val catalogLive: Option[Set[String]] =
        try {
          val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
          Some(spark.sessionState.catalog.listPartitions(ident)
            .map(p => new org.apache.hadoop.fs.Path(p.location)
              .toString.stripSuffix("/")).toSet)
        } catch { case _: Exception => None }
      val live = entries.filter { case (spec, _) =>
        val p = new org.apache.hadoop.fs.Path(loc + "/" + spec)
        // an ARCHIVED partition relocated under .graft_archive is still
        // live (reads keep working; UNARCHIVE restores) — both checks
        // must accept either location or archiving would silently strip
        // the format divergence
        val pArch = new org.apache.hadoop.fs.Path(
          loc + "/.graft_archive/" + spec)
        val dirOk =
          try {
            val fs = p.getFileSystem(conf)
            fs.exists(p) || fs.exists(pArch)
          } catch { case _: Exception => true }
        val catOk = catalogLive.forall(set =>
          set.contains(p.toString.stripSuffix("/")) ||
            set.contains(pArch.toString.stripSuffix("/")))
        dirOk && catOk
      }
      if (live.size != entries.size) {
        val key = graft.plans.HeteroPartitions.PropKey
        if (live.isEmpty)
          spark.sql(s"ALTER TABLE $table UNSET TBLPROPERTIES IF EXISTS ('$key')")
        else spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES ('$key' = " +
          s"'${graft.plans.HeteroPartitions.encode(live)}')")
        spark.sql(s"REFRESH TABLE $table")
      }
    }
  }

  /** On-disk partition SUBPATH for a static spec — declared column order
    * and case plus Spark/Hive path escaping, in the LITERAL spelling (the
    * real directory name, e.g. p=a%3Ab for value a:b; a NULL value is
    * Hive's default partition). Shared by INSERT, LOAD and the auto-merge
    * scope so every writer/reader of the layout spells directories
    * identically. */
  def partSubdir(declared: Seq[String], spec: Seq[(String, String)]): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils._
    inDeclaredOrder(declared, spec).map { case (k, v) =>
      escapePathName(declared.find(_.equalsIgnoreCase(k)).getOrElse(k)) + "=" +
        (if (v == null) DEFAULT_PARTITION_NAME else escapePathName(v))
    }.mkString("/")
  }

  /** [[partSubdir]] of a PARTITION clause's text. */
  def partSubdirLiteral(declared: Seq[String], spec: String): String =
    partSubdir(declared, staticSpec(spec))

  /** A static PARTITION clause's text as (column, value) pairs. */
  def staticSpec(spec: String): Seq[(String, String)] =
    splitPartSpec(spec).map { kv =>
      val Array(k, v) = kv.split("=", 2).map(_.trim)
      k -> unescapeSqlValue(v.stripPrefix("'").stripSuffix("'"))
    }

  /** A spec's entries in the table's declared column order (a parsed
    * spec's Map keeps no order); unknown columns go last. */
  def inDeclaredOrder[V](declared: Seq[String], spec: Seq[(String, V)]): Seq[(String, V)] =
    spec.sortBy { case (k, _) =>
      declared.indexWhere(_.equalsIgnoreCase(k)) match {
        case -1 => Int.MaxValue
        case i => i
      }
    }

  // ---- view partitions (metadata-only; Hive keeps them in the
  // metastore with no storage). Each entry is the spec in DECLARED
  // column order as URL-encoded k=v tokens joined by '/', entries
  // joined by ',' in the graft.view.partitions table property —
  // encoding keeps values containing '/', ',' or '=' unambiguous.
  private def viewPartEntry(declared: Seq[String],
      kvs: Seq[(String, String)]): String = {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    declared.map { d =>
      val v = kvs.collectFirst {
        case (k, vv) if k.equalsIgnoreCase(d) => vv }.getOrElse("")
      enc(d) + "=" + enc(v)
    }.mkString("/")
  }
  private def decodeViewPartEntry(e: String): String =
    e.split("/").map { tok =>
      val Array(k, v) = tok.split("=", 2)
      java.net.URLDecoder.decode(k, "UTF-8") + "=" +
        java.net.URLDecoder.decode(v, "UTF-8")
    }.mkString("/")
  def viewPartitions(
      meta: org.apache.spark.sql.catalyst.catalog.CatalogTable): Seq[String] =
    meta.properties.get("graft.view.partitions").toSeq
      .flatMap(_.split(",")).filter(_.nonEmpty)
  /** Declared PARTITIONED ON columns of a partitioned view. */
  def viewPartCols(
      meta: org.apache.spark.sql.catalyst.catalog.CatalogTable): Seq[String] =
    meta.properties.get("graft.view.partcols")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)

  /** ALTER VIEW v ADD PARTITION: validate the spec against the declared
    * PARTITIONED ON columns, then RECORD the view partition. */
  def addViewPartition(spark: SparkSession, name: String, ifNot: String,
      specText: String, locClause: String): Unit = {
    val meta = TableDesc.of(spark, name).viewMeta
    if (locClause != null)
      sys.error("LOCATION clause illegal for view partition")
    val declared = viewPartCols(meta)
    if (declared.isEmpty)
      sys.error(s"view $name is not partitioned but partition spec exists")
    val kvs = operators.ExportImport.parseSpec(Some(specText)).get
    val shown = kvs.map { case (k, v) => s"$k=$v" }.mkString("{", ", ", "}")
    if (!kvs.forall(kv => declared.exists(_.equalsIgnoreCase(kv._1))))
      sys.error(s"Partition spec $shown contains non-partition columns")
    // compare KEY SETS, not lengths: a duplicate key (a=1, a=2) would
    // otherwise satisfy the length check while leaving another
    // declared column unbound (alter_view_failure5-family semantics)
    val specKeys = kvs.map(_._1.toLowerCase).toSet
    if (specKeys.size != kvs.length)
      sys.error(s"Partition spec $shown contains duplicate columns")
    if (!declared.forall(d => specKeys.contains(d.toLowerCase)))
      sys.error(s"partition spec $shown doesn't contain all " +
        s"(${declared.length}) partition columns")
    // spec is valid: RECORD the view partition (r16; previously
    // validated-and-discarded) — the metastore keeps view partitions
    // as pure metadata (no storage), and three consumers need them:
    // SHOW PARTITIONS on the view, DROP PARTITION, and the 10217
    // refusal of CREATE OR REPLACE VIEW while partitions exist
    // (create_or_replace_view.q / create_or_replace_view2.q)
    val entry = viewPartEntry(declared, kvs)
    val existing = viewPartitions(meta)
    if (existing.contains(entry)) {
      if (ifNot == null)
        sys.error(s"Partition already exists: $name $shown")
    } else {
      spark.sessionState.catalog.alterTable(meta.copy(properties =
        meta.properties + ("graft.view.partitions" ->
          (existing :+ entry).mkString(","))))
      spark.sql(s"REFRESH TABLE $name")
    }
  }

  def dropViewPartition(spark: SparkSession, name: String, ifEx: String,
      specText: String): Unit = {
    val meta = TableDesc.of(spark, name).viewMeta
    val declared = viewPartCols(meta)
    val kvs = operators.ExportImport.parseSpec(Some(specText)).get
    // Hive's DROP PARTITION takes a PARTIAL spec too (drops every
    // matching partition); match entries that contain ALL spec pairs
    val wanted = kvs.map { case (k, v) =>
      java.net.URLEncoder.encode(
        declared.find(_.equalsIgnoreCase(k)).getOrElse(k), "UTF-8") +
        "=" + java.net.URLEncoder.encode(v, "UTF-8")
    }.toSet
    val existing = viewPartitions(meta)
    val (hit, keep) = existing.partition(e =>
      wanted.subsetOf(e.split("/").toSet))
    if (hit.isEmpty) {
      if (ifEx == null)
        sys.error(s"Specified partition does not exist: $name " +
          kvs.map { case (k, v) => s"$k=$v" }.mkString("(", ", ", ")"))
    } else {
      spark.sessionState.catalog.alterTable(meta.copy(properties =
        meta.properties + ("graft.view.partitions" -> keep.mkString(","))))
      spark.sql(s"REFRESH TABLE $name")
    }
  }
}
