package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions._

/** Copy-on-write UPDATE/DELETE over a columnar table directory
  * (parquet by default; `format` selects orc/avro/... for tables declared
  * with another STORED AS clause).
  *
  * Reference semantics: Hive rewrites UPDATE/DELETE as an insert over the
  * affected rows (ql/src/java/org/apache/hadoop/hive/ql/parse/
  * UpdateDeleteSemanticAnalyzer.java:50); the ORC ACID reader then merges
  * deltas. The Spark-first design skips the delta/merge machinery entirely
  * and does what modern lakehouse formats do in copy-on-write mode: find the
  * files that contain at least one matching row, rewrite ONLY those files
  * with the mutation applied, atomically swap them in, and leave every other
  * file untouched.
  *
  * Scale notes:
  *  - the matching-file scan pushes `cond` down to parquet, so row groups
  *    that can't match are skipped;
  *  - the survivors scan (and MERGE's anti-join and [[mergeFiles]]) filters
  *    on `_metadata.file_path IN (affected)`, which both parquet and the
  *    graft file tables prune at listing, so it reads only the affected
  *    files;
  *  - the only driver-side collect is the affected FILE list (metadata, not
  *    rows — same order of magnitude as a lakehouse commit log entry);
  *  - rewrite cost is proportional to affected files, not table size.
  */
object Acid {

  private val FILE = "_graft_file"

  /** Single-writer contract, made explicit: CoW DML has no commit log, so
    * two UNCOORDINATED writers rewriting one table could each delete
    * files the other's swap depends on (lost/duplicated rows). The
    * reference under its DEFAULT config is no better — DummyTxnManager
    * (ql/lockmgr/DummyTxnManager.java, hive.support.concurrency=false)
    * takes no locks at all. The engine closes the one window it CAN
    * close without a log: all DML issued through this driver serializes
    * per table directory on an in-process lock (the deployment model is
    * one driver JVM — exactly the scope a metastore-less lock can
    * guarantee). Cross-PROCESS writers remain the documented gap; a
    * production deployment layers a manifest/commit log (Delta-style)
    * over the swap primitive for that.
    */
  private final class TableLock { var holders = 0 }
  // one entry per table directory with DML running or waiting; the last
  // holder to leave removes it
  private val pathLocks =
    new java.util.concurrent.ConcurrentHashMap[String, TableLock]()
  private def withTableLock[T](path: String)(body: => T): T = {
    val key = new Path(path).toString.stripSuffix("/")
    val lock = pathLocks.compute(key, (_, held) => {
      val l = if (held == null) new TableLock else held
      l.holders += 1
      l
    })
    try lock.synchronized(body)
    finally pathLocks.compute(key, (_, l) => {
      l.holders -= 1
      if (l.holders == 0) null else l
    }): Unit
  }

  /** Table directories with DML running or waiting. */
  private[graft] def lockedTables: Int = pathLocks.size

  /** UPDATE tbl SET (k -> expr)* WHERE cond, copy-on-write. `schema` is
    * required for formats that don't self-describe (graft-seq text lines
    * infer c0..cN without it); self-describing formats may pass null.
    * `partitionCols` (for partitioned tables) makes the rewrite
    * partition-aware: rewritten files land back inside their partition
    * directories instead of flattening into the table root. */
  def updateWhere(spark: SparkSession, path: String, cond: Column,
                  set: Map[String, Column], format: String = "parquet",
                  schema: StructType = null,
                  partitionCols: Seq[String] = Nil,
                  options: Map[String, String] = Map.empty): Unit =
    rewrite(spark, path, cond, identityKept = true, set, format, schema,
      partitionCols, options)

  /** graft-seq/graft-avro read flat directories: a partitioned table is
    * loaded with the `partitions` option so the source walks the Hive
    * `p=v` layout and appends the directory-derived values. */
  private def partOpt(r: org.apache.spark.sql.DataFrameReader, format: String,
      partitionCols: Seq[String]): org.apache.spark.sql.DataFrameReader =
    if (partitionCols.nonEmpty && format.startsWith("graft-"))
      r.option("partitions", partitionCols.mkString(",")) else r

  /** DELETE FROM tbl WHERE cond, copy-on-write. */
  def deleteWhere(spark: SparkSession, path: String, cond: Column,
                  format: String = "parquet", schema: StructType = null,
                  partitionCols: Seq[String] = Nil,
                  options: Map[String, String] = Map.empty): Unit =
    rewrite(spark, path, cond, identityKept = false, Map.empty, format, schema,
      partitionCols, options)

  /** MERGE INTO tbl USING source ON keys — copy-on-write upsert.
    *
    * WHEN MATCHED [AND deleteMatched] THEN DELETE: matched target rows
    * satisfying the predicate (evaluated over the TARGET row's columns)
    * are dropped. WHEN MATCHED THEN UPDATE: every other matched row has
    * each `setFromSource` column overwritten with the source row's value.
    * WHEN NOT MATCHED THEN INSERT: source rows with no target match append
    * as new files (source must carry the target's schema). Matched-row
    * files are found the same way updateWhere finds them — a key semi-join
    * collects FILE PATHS only — and only those files are rewritten.
    *
    * Reference semantics: the full three-branch MERGE rewrite
    * (parse/UpdateDeleteSemanticAnalyzer.java handles UPDATE/DELETE/INSERT
    * branches) fused over one source scan. Requires source keys to be
    * unique (standard MERGE precondition; duplicate source keys make the
    * update non-deterministic).
    */
  def mergeInto(spark: SparkSession, path: String, source: DataFrame,
                keys: Seq[String], setFromSource: Seq[String],
                insertNotMatched: Boolean = true,
                deleteMatched: Option[Column] = None,
                format: String = "parquet",
                deleteSourceCols: Seq[String] = Nil,
                schema: StructType = null,
                setPostJoin: Map[String, String] = Map.empty,
                partitionCols: Seq[String] = Nil,
                options: Map[String, String] = Map.empty): Unit =
      withTableLock(path) { graft.plans.StrictChecks.suspended(spark) {
    val df = load(spark, path, format, schema, partitionCols, options)
    val cols = df.columns.toSeq
    val withFile = df.withColumn(FILE, col("_metadata.file_path"))
    val srcKeyed = source.select(cols.map(col): _*)
    val joinCond = keys.map(k => withFile(k) <=> srcKeyed(k)).reduce(_ && _)

    val affected = withFile.join(srcKeyed, joinCond, "left_semi")
      .select(FILE).distinct().collect().map(_.getString(0))

    // INSERT branch, anti-joined against the PRE-merge key snapshot
    // (`df`'s file index is fixed at construction): every source row takes
    // exactly ONE branch — a matched row the delete predicate removes must
    // NOT come back through the not-matched insert. The appended files are
    // not in `affected`, so the rewrite below never touches them.
    if (insertNotMatched) {
      // r18: the anti-join's build side is pruned to the AFFECTED files —
      // exact, because a source row matching ANY target row by key puts
      // that row's file into `affected` (the probe semi-join above uses
      // the same null-safe key equality), so a key absent from the
      // affected files is absent from the whole table. This removes the
      // second FULL-table pass per MERGE (the old build side scanned
      // every file's keys) and shrinks the anti-join's hash relation from
      // all keys to matched-file keys — at 100 TB a selective MERGE now
      // touches table bytes proportional to affected files only (plus the
      // one metadata probe above).
      val existingKeys =
        if (affected.isEmpty) df.select(keys.map(col): _*).filter(lit(false))
        else withFile.filter(col(FILE).isin(affected.toSeq: _*))
          .select(keys.map(col): _*)
      val inserts = srcKeyed.join(existingKeys,
        keys.map(k => srcKeyed(k) <=> existingKeys(k)).reduce(_ && _), "left_anti")
      // append lands new part- files; existing files untouched. On a
      // partitioned table the append is partition-aware so inserted rows
      // land under their partition directories (a flat root file would
      // lose the partition values on read)
      val w = inserts.select(cols.map(c => typed(df, partitionCols, c, col(c))): _*)
        .write.mode("append").options(options)
      val wp =
        if (partitionCols.isEmpty) w
        else if (format.startsWith("graft-"))
          // the graft writers route rows into partition dirs themselves
          w.option("partitions", partitionCols.mkString(","))
        else w.partitionBy(partitionCols: _*)
      wp.format(format).save(path)
    }

    if (affected.nonEmpty) {
      val survivors = withFile.filter(col(FILE).isin(affected.toSeq: _*))
      // left join against the source: matched rows take source values for
      // the set columns, unmatched rows in the same file pass through
      // built from the full `source` (not the target-schema projection) so
      // a delete predicate can reference source-only flag columns
      val src = source.select(
        (keys ++ setFromSource ++ deleteSourceCols).distinct
          .map(c => col(c).as(s"__src_$c")) :+
          lit(true).as("__src_matched"): _*)
      val cond = keys.map(k => survivors(k) <=> src(s"__src_$k")).reduce(_ && _)
      val joined = survivors.join(src, cond, "left")
      // DELETE branch before the update projection (SQL MERGE branch
      // order: a row taken by the delete predicate is never updated)
      val kept = deleteMatched match {
        case Some(d) => joined.filter(
          !(coalesce(src("__src_matched"), lit(false)) && coalesce(d, lit(false))))
        case None => joined
      }
      // setPostJoin: SQL exprs over the JOINED frame (target columns by
      // bare name, source columns as __src_*) for the accumulate-upsert
      // shape `SET cnt = t.cnt + s.cnt` that a source-only projection
      // cannot express
      val merged = kept
        .select(cols.map { c =>
          typed(df, partitionCols, c,
            if (setPostJoin.contains(c))
              when(coalesce(src("__src_matched"), lit(false)),
                expr(setPostJoin(c))).otherwise(survivors(c))
            else if (setFromSource.contains(c))
              when(src("__src_matched"), src(s"__src_$c")).otherwise(survivors(c))
            else survivors(c))
        }: _*)
      swapIn(spark, path, affected, merged, format, partitionCols, options)
    }
  } }

  /** Small-file compaction: coalesce the table directory to `numFiles`
    * (bin-packing by Spark's file committer). Content-preserving —
    * the reference's minor/major compactor (ql/txn/compactor/Worker.java)
    * exists to merge ACID deltas; under copy-on-write the only compaction
    * concern left is file-count hygiene after many small merges/appends.
    *
    * `numFiles` is an UPPER bound: `coalesce` can only reduce the scan's
    * partition count, so when the input splits number fewer than
    * `numFiles` the output has that many files instead, and bin-packing
    * follows scan-split boundaries rather than re-dealing rows evenly
    * (the r17 repartition→coalesce trade: a compaction merges small
    * files, it does not rebalance a table — rebalancing callers should
    * repartition and pay the shuffle deliberately).
    */
  def compact(spark: SparkSession, path: String, numFiles: Int,
              format: String = "parquet", schema: StructType = null,
              options: Map[String, String] = Map.empty): Unit =
    withTableLock(path) { graft.plans.StrictChecks.suspended(spark) {
      val df = load(spark, path, format, schema, options = options)
      val all = df.withColumn(FILE, col("_metadata.file_path"))
        .select(FILE).distinct().collect().map(_.getString(0))
      // coalesce, not repartition (r17): a compaction's only job is to
      // merge small files — coalesce plans the merge INSIDE the scan (each
      // writer task reads its share of input files directly), where
      // repartition shuffled the entire table once just to re-deal rows.
      // This mirrors the reference's CONCATENATE (a merge job, no reduce
      // phase) and removes a table-sized shuffle at any scale.
      swapIn(spark, path, all, df.coalesce(numFiles), format,
        options = options)
    } }

  /** Merge a SPECIFIC set of files under `path` into `numFiles` — the
    * post-INSERT small-file merge (reference: hive.merge.mapfiles'
    * ConditionalTask merge job, which rewrites only the files the current
    * job produced). Unlike [[compact]], pre-existing files in the
    * directory are never read or rewritten, so an incremental append to a
    * 100 TB table merges only its own output. The file-identity filter
    * rides `_metadata.file_path`, which Spark prunes at the scan. */
  def mergeFiles(spark: SparkSession, path: String, files: Seq[String],
                 numFiles: Int, format: String = "parquet",
                 schema: StructType = null,
                 options: Map[String, String] = Map.empty): Unit =
    graft.plans.StrictChecks.suspended(spark) {
    if (files.isEmpty) ()
    else {
    // `path` arrives URI-spelled (FileStatus.toUri / _metadata: an
    // escaped partition value reads "p=a%253Ab"); spark.read and
    // swapIn's directory ops need the once-decoded LITERAL name
    // ("p=a%3Ab" — the real directory) — the URI constructor decodes
    // exactly one round
    val lit = new org.apache.hadoop.fs.Path(new java.net.URI(path)).toString
    val df = load(spark, lit, format, schema, options = options)
    // _metadata.file_path spells the URI "file:///p" where a FileSystem
    // listing yields "file:/p", and a graft table spells it as the
    // literal path (p=a%3Ab where the URI reads p=a%253Ab) — match every
    // spelling so the IN list still prunes at the scan (a normalizing
    // regexp on the column would defeat file pruning and read the whole
    // directory)
    def bare(f: String) = f.replaceFirst("^[a-zA-Z][\\w+.-]*:/+", "/")
    val variantOf: Map[String, String] = files.flatMap { f =>
      Seq(f, new org.apache.hadoop.fs.Path(new java.net.URI(f)).toString).flatMap { s =>
        val b = bare(s)
        Seq(s, b, "file:" + b, "file://" + b, "file:///" + b.stripPrefix("/"))
      }.map(_ -> f)
    }.toMap
    val withFile = df.withColumn(FILE, col("_metadata.file_path"))
      .filter(col(FILE).isin(variantOf.keys.toSeq: _*))
    // Delete ONLY files whose rows were actually picked up: if a
    // spelling this table's source uses isn't among the variants (e.g.
    // an object-store URI with authority qualification), those files
    // stay on disk unmerged rather than being deleted with their rows
    // absent from the rewrite — a mismatch degrades to a no-op, never to
    // silent data loss. One extra metadata-sized aggregate on the
    // already-pruned scan.
    val matched = withFile.select(FILE).distinct().collect()
      .map(_.getString(0)).flatMap(variantOf.get).distinct
    // safe, but must be OBSERVABLE: on a filesystem whose file_path
    // spelling has no variant here (object-store authority forms), the
    // merge would otherwise degrade to a permanent silent no-op
    if (matched.length < files.distinct.length)
      System.err.println(s"[graft] merge: ${files.distinct.length - matched.length} " +
        s"of ${files.distinct.length} files under $lit did not match any " +
        "_metadata.file_path spelling variant and stay unmerged " +
        "(URI-spelling mismatch; harmless but worth a look)")
    if (matched.nonEmpty)
      // coalesce for the same reason as compact: merge without shuffling
      swapIn(spark, lit, matched.toSeq, withFile.drop(FILE)
        .coalesce(numFiles), format, options = options)
    }
  }

  /** Column `c` of a rewrite or append, cast to the loaded table's type.
    * Coercion gives a written value whatever type its expression has (an
    * INT source value, or the wider side of a CASE), and a writer that
    * takes its column types from the frame (graft-rcfile's columns.types)
    * would store those bytes under the table's declared type — 48 read
    * back as 7.8e-77. Partition columns are directory names and keep
    * their values. Where the type already matches, the cast is a no-op. */
  private def typed(table: DataFrame, partitionCols: Seq[String], c: String,
      e: Column): Column =
    (if (partitionCols.exists(_.equalsIgnoreCase(c))) e
     else e.cast(table.schema(c).dataType)).as(c)

  private def load(spark: SparkSession, path: String, format: String,
                   schema: StructType,
                   partitionCols: Seq[String] = Nil,
                   options: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.options(options)
    partOpt(if (schema != null) r.schema(schema) else r, format, partitionCols)
      .format(format).load(path)
  }

  private def rewrite(spark: SparkSession, path: String, cond: Column,
                      identityKept: Boolean, set: Map[String, Column],
                      format: String, schema: StructType = null,
                      partitionCols: Seq[String] = Nil,
                      options: Map[String, String] = Map.empty): Unit =
      withTableLock(path) { graft.plans.StrictChecks.suspended(spark) {
    val df = load(spark, path, format, schema, partitionCols, options)
    val cols = df.columns
    val withFile = df.withColumn(FILE, col("_metadata.file_path"))

    // Affected-file list: metadata-sized, cond pushed down to the scan.
    val affected = withFile.filter(cond)
      .select(FILE).distinct().collect().map(_.getString(0))
    if (affected.isEmpty) return

    val survivors = withFile.filter(col(FILE).isin(affected.toSeq: _*))
    val rewritten =
      if (identityKept)
        // UPDATE: every row survives; mutated columns flip under cond
        survivors.select(cols.map { c =>
          typed(df, partitionCols, c,
            if (set.contains(c)) when(cond, set(c)).otherwise(col(c)) else col(c))
        }: _*)
      else
        // DELETE: keep rows where cond is false or null (SQL semantics)
        survivors.filter(!coalesce(cond, lit(false))).select(cols.map(col): _*)

    swapIn(spark, path, affected, rewritten, format, partitionCols, options)
  } }

  /** Write `newData` beside the table, move its files in, drop the stale
    * ones. With `partitionCols`, the side write is partitioned and each
    * file moves into its own partition SUBDIRECTORY of the table (the
    * layout the read path derives partition values from) — never the
    * root, which would silently drop the partition values.
    *
    * Real guarantees (there is no commit log, so this is weaker than
    * a lakehouse atomic commit): single-writer only; a crash between the
    * renames and the deletes leaves duplicate rows permanently; a
    * concurrent reader whose file listing predates the swap can hit
    * FileNotFoundException when stale files are deleted mid-scan. A
    * production deployment would layer a manifest/commit log (Delta-style)
    * over this file-swap primitive to close those windows.
    */
  private def swapIn(spark: SparkSession, path: String,
                     staleFiles: Seq[String], newData: DataFrame,
                     format: String = "parquet",
                     partitionCols: Seq[String] = Nil,
                     options: Map[String, String] = Map.empty): Unit = {
    val tmp = path.stripSuffix("/") + "_cow_" + java.util.UUID.randomUUID().toString
    val writer = newData.write.mode("overwrite").options(options)
    (if (partitionCols.isEmpty) writer
     else if (format.startsWith("graft-"))
       // graft writers lay out partition dirs from the row values
       writer.option("partitions", partitionCols.mkString(","))
     else writer.partitionBy(partitionCols: _*)).format(format).save(tmp)

    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(new java.net.URI(tmp), conf)
    try {
      val tableDir = new Path(path)
      val tmpDir = new Path(tmp)
      // recurse: partitioned writes nest part- files under ds=X/hr=Y/...
      val it = fs.listFiles(tmpDir, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getPath.getName.startsWith("part-")) {
          val rel = st.getPath.getParent.toUri.getPath
            .stripPrefix(tmpDir.toUri.getPath).stripPrefix("/")
          val destDir = if (rel.isEmpty) tableDir else new Path(tableDir, rel)
          fs.mkdirs(destDir)
          fs.rename(st.getPath,
            new Path(destDir, "cow-" + java.util.UUID.randomUUID().toString +
              "-" + st.getPath.getName))
        }
      }
      staleFiles.foreach(f => fs.delete(new Path(new java.net.URI(f)), false))
    } finally fs.delete(new Path(tmp), true): Unit
  }
}
