package graft.tools

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Tracked `localCheckpoint` storage — the release half Spark's Dataset API
  * doesn't expose. `Dataset.localCheckpoint()` persists the materialized
  * internal-row RDD (MEMORY_AND_DISK) but returns only a DataFrame, so the
  * block pins executor storage memory for the SparkSession's lifetime unless
  * someone digs the RDD back out of the plan and unpersists it. In a
  * 161-query bench session that pinning compounds: every query running after
  * a checkpoint-heavy operator (dedup clustering, global rank) executes with
  * shrunken execution memory (the round-4 fleet-wide regression).
  *
  * Iterative operators checkpoint through [[local]] and release superseded
  * generations with [[release]] as soon as the next generation is
  * materialized; long-lived harnesses (Bench/Verify) call [[sweep]] after
  * each query's action to drop whatever the final returned plan still
  * holds. Reference intent: Hive frees shuffle/scratch dirs per-query in
  * Context.clear(); this is the same hygiene for Spark block-manager storage.
  */
object Checkpoints {

  private val live = new java.util.concurrent.ConcurrentLinkedQueue[RDD[_]]()

  private def rddOf(cp: DataFrame): Option[RDD[_]] =
    cp.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd }

  /** Eager checkpoint, DURABLE under `spark.graft.checkpointDir` when
    * that conf is set, else a tracked localCheckpoint.
    *
    * localCheckpoint stores blocks in executor memory/disk — fine on
    * local[n], but on a 1000-executor cluster a lost executor loses blocks
    * whose lineage was CUT, failing the job unrecoverably. Production
    * runs should set spark.graft.checkpointDir to a durable path
    * (HDFS/object store); reliable checkpoints survive executor loss and
    * pin no block-manager storage, so [[release]]/[[sweep]] are safe
    * no-ops on them. The conf governs EVERY checkpointing call site —
    * iterative operators (Dedup.clusters, GlobalRank) and single-query
    * staging (Engine's self-read INSERT, dynamic-cap staging) alike, so
    * "durable mode" means the whole engine, not just the loops.
    * Checkpoint FILES outlive the run unless spark.cleaner
    * .referenceTracking.cleanCheckpoints=true — point the dir at
    * job-scoped scratch space.
    */
  def local(df: DataFrame): DataFrame = checkpoint(df, swept = true)

  /** [[local]] for storage its owner keeps across queries: [[sweep]]
    * leaves it alone, and the owner frees it with [[release]]. */
  def held(df: DataFrame): DataFrame = checkpoint(df, swept = false)

  /** [[local]], or [[held]] when `keep`, plus the checkpoint's row count,
    * both from the one job that materializes it. */
  def counted(df: DataFrame, keep: Boolean = false): (DataFrame, Long) = {
    val cp = checkpoint(df, swept = !keep, eager = false)
    (cp, rddOf(cp).get.count())
  }

  private def checkpoint(df: DataFrame, swept: Boolean, eager: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption("spark.graft.checkpointDir").filter(_.nonEmpty) match {
      case Some(dir) =>
        // setCheckpointDir appends a per-context UUID subdir — match on
        // prefix or every call would mint a fresh subdir
        if (!spark.sparkContext.getCheckpointDir.exists(_.contains(dir)))
          spark.sparkContext.setCheckpointDir(dir)
        df.checkpoint(eager)
      case None =>
        val cp = df.localCheckpoint(eager)
        if (swept) rddOf(cp).foreach(live.add)
        cp
    }
  }

  /** Lineage cut for iterative operators — same contract as [[local]];
    * the separate name keeps call-site intent readable (per-iteration
    * cuts vs one-shot staging). */
  def cut(df: DataFrame): DataFrame = local(df)

  /** Unpersist one checkpointed DataFrame's storage (safe on non-checkpoints
    * and double-release: unpersist is idempotent). Non-blocking — block
    * removal proceeds while the caller's next job runs.
    */
  def release(cp: DataFrame): Unit = rddOf(cp).foreach { r =>
    r.unpersist(blocking = false)
    live.remove(r)
  }

  /** Unpersist every checkpoint still tracked. Harness hook: call between
    * queries so no checkpoint outlives the query that created it.
    */
  def sweep(): Unit = {
    var r = live.poll()
    while (r != null) { r.unpersist(blocking = false); r = live.poll() }
  }
}
