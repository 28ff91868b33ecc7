package perfbench

import java.io.PrintWriter
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. Three sources feed it, all from outside the
  * engine: the harness's own spans around each op, a `SparkListener` for
  * jobs, stages and task metrics, and a `QueryExecutionListener` that reads
  * each execution's `QueryPlanningTracker` (phase intervals, rule runs).
  * Everything stays in memory until the run ends.
  *
  * Spark jobs and planning phases are assigned to an op by time window, not
  * by job group: ops run one at a time from one client thread, while the
  * engine's overlap pool threads inherit stale local properties.
  */
final class Tracer {
  import Tracer._

  val spans = ArrayBuffer.empty[Span]
  private val jobs = ArrayBuffer.empty[Job]
  private val stageSubmit = scala.collection.mutable.HashMap.empty[Int, Long]
  private val tasks = ArrayBuffer.empty[Task]
  private val plans = ArrayBuffer.empty[Plan]
  private val seenPlans = scala.collection.mutable.HashSet.empty[Int]

  def span(op: Int, name: String, startMs: Double, endMs: Double, parent: String): Unit =
    synchronized { spans += Span(op, name, startMs, endMs, parent) }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs += Job(e.jobId, e.time, Long.MaxValue)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      val i = jobs.lastIndexWhere(_.id == e.jobId)
      if (i >= 0) jobs(i) = jobs(i).copy(end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      stageSubmit(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) tasks += Task(e.stageId, e.stageAttemptId, i.launchTime, i.finishTime,
        stageSubmit.getOrElse(e.stageId, i.launchTime),
        m.executorRunTime, m.executorCpuTime / 1000000.0, m.jvmGCTime,
        m.shuffleWriteMetrics.recordsWritten, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.recordsRead, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
        m.outputMetrics.recordsWritten, m.outputMetrics.bytesWritten)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = note(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = note(qe)
  }

  /** Records a QueryExecution's planning phases once (listener events and
    * the harness's own materialized plans may both report it). */
  def note(qe: QueryExecution): Unit = synchronized {
    if (seenPlans.add(System.identityHashCode(qe))) {
      val t = qe.tracker
      val phases = t.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }
      val rules = t.rules.values
      plans += Plan(phases, rules.map(_.numInvocations).sum, rules.map(_.numEffectiveInvocations).sum)
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Per-op layer breakdown, computed once the listener bus has drained. */
  def layers(ops: Seq[OpRec]): Map[String, Double] = synchronized {
    val n = ops.size.max(1).toDouble
    val win = ops.map(o => (o.startMs, o.endMs))
    def opOf(t: Double): Int = {
      val i = win.indexWhere { case (s, e) => t >= s - 1 && t <= e + 1 }
      i
    }
    val perOpPlans = Array.fill(ops.size)(ArrayBuffer.empty[(Double, Double)])
    val perOpJobs = Array.fill(ops.size)(ArrayBuffer.empty[(Double, Double)])
    val phaseMs = scala.collection.mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    var planCount, invoked, effective = 0L
    plans.foreach { p =>
      val start = if (p.phases.isEmpty) -1L else p.phases.values.map(_._1).min
      val k = opOf(start.toDouble)
      if (k >= 0) {
        planCount += 1; invoked += p.invoked; effective += p.effective
        p.phases.foreach { case (ph, (s, e)) =>
          phaseMs(ph) += (e - s)
          perOpPlans(k) += ((s.toDouble, e.toDouble))
          spans += Span(ops(k).id, s"plans.$ph", s.toDouble, e.toDouble, ops(k).label)
        }
      }
    }
    var jobCount = 0L
    jobs.foreach { j =>
      val k = opOf(j.start.toDouble)
      if (k >= 0) {
        jobCount += 1
        val end = if (j.end == Long.MaxValue) ops(k).endMs else j.end.toDouble
        perOpJobs(k) += ((j.start.toDouble, end))
        spans += Span(ops(k).id, "exec.job", j.start.toDouble, end, ops(k).label)
      }
    }
    val opTasks = tasks.filter(t => opOf(t.finish.toDouble) >= 0)
    val stages = opTasks.groupBy(t => (t.stage, t.attempt))
    val skew = stages.values.filter(_.size > 1).map { ts =>
      val d = ts.map(_.runMs.toDouble).sorted
      val med = d(d.size / 2)
      if (med > 0) d.last / med else 1.0
    }
    def sum(f: Task => Double) = opTasks.map(f).sum
    // self time of the engine front end: op span minus the union of its
    // planning phases and Spark jobs (clipped to the op's window)
    val engineSelf = ops.indices.map { k =>
      val o = ops(k)
      o.endMs - o.startMs - union((perOpPlans(k) ++ perOpJobs(k)).toSeq, o.startMs, o.endMs)
    }
    val jobWall = ops.indices.map(k => union(perOpJobs(k).toSeq, ops(k).startMs, ops(k).endMs))
    Map(
      "engine.self_ms" -> engineSelf.sum / n,
      "plans.parse_ms" -> phaseMs("parsing") / n,
      "plans.analysis_ms" -> phaseMs("analysis") / n,
      "plans.optimization_ms" -> phaseMs("optimization") / n,
      "plans.planning_ms" -> phaseMs("planning") / n,
      "plans.queries" -> planCount / n,
      "plans.rule_effective_ratio" -> (if (invoked > 0) effective.toDouble / invoked else 0.0),
      "exec.jobs" -> jobCount / n,
      "exec.stages" -> stages.size / n,
      "exec.tasks" -> opTasks.size / n,
      "exec.job_wall_ms" -> jobWall.sum / n,
      "exec.run_ms" -> sum(_.runMs.toDouble) / n,
      "exec.cpu_ms" -> sum(_.cpuMs) / n,
      "exec.gc_ms" -> sum(_.gcMs.toDouble) / n,
      "exec.task_wait_ms" -> (if (opTasks.isEmpty) 0.0
        else opTasks.map(t => (t.launch - t.stageSubmit).max(0L).toDouble).sum / opTasks.size),
      "exec.task_skew" -> (if (skew.isEmpty) 1.0 else skew.max),
      "exec.shuffle_write_records" -> sum(_.shWrRec.toDouble) / n,
      "exec.shuffle_write_bytes" -> sum(_.shWrBytes.toDouble) / n,
      "exec.shuffle_read_records" -> sum(_.shRdRec.toDouble) / n,
      "exec.shuffle_read_bytes" -> sum(_.shRdBytes.toDouble) / n,
      "exec.shuffle_fetch_wait_ms" -> sum(_.fetchWaitMs.toDouble) / n,
      "exec.spill_bytes" -> sum(_.spill.toDouble) / n,
      "sources.input_records" -> sum(_.inRec.toDouble) / n,
      "sources.input_bytes" -> sum(_.inBytes.toDouble) / n,
      "sources.output_records" -> sum(_.outRec.toDouble) / n,
      "sources.output_bytes" -> sum(_.outBytes.toDouble) / n,
      "sources.scan_per_result" -> {
        val rows = ops.map(_.resultRows).sum
        if (rows > 0) sum(_.inRec.toDouble) / rows else 0.0
      },
      "sources.files_written" -> ops.map(_.filesWritten).sum / n)
  }

  /** Shuffle records written by tasks that finished inside [s, e]. */
  def shuffleRecordsBetween(s: Double, e: Double): Long = synchronized {
    tasks.filter(t => t.finish >= s - 1 && t.finish <= e + 1).map(_.shWrRec).sum
  }

  def writeSpans(path: java.nio.file.Path, header: String): Unit = synchronized {
    val w = new PrintWriter(path.toFile, "UTF-8")
    try {
      w.println(header)
      spans.sortBy(s => (s.startMs, s.name)).foreach { s =>
        w.println(Json.obj(Seq("op" -> s.op, "name" -> s.name, "start_ms" -> s.startMs,
          "end_ms" -> s.endMs, "parent" -> s.parent)))
      }
    } finally w.close()
  }
}

object Tracer {
  final case class Span(op: Int, name: String, startMs: Double, endMs: Double, parent: String)
  final case class Job(id: Int, start: Long, end: Long)
  final case class Plan(phases: Map[String, (Long, Long)], invoked: Long, effective: Long)
  final case class Task(stage: Int, attempt: Int, launch: Long, finish: Long, stageSubmit: Long,
      runMs: Long, cpuMs: Double, gcMs: Long, shWrRec: Long, shWrBytes: Long,
      shRdRec: Long, shRdBytes: Long, fetchWaitMs: Long, spill: Long,
      inRec: Long, inBytes: Long, outRec: Long, outBytes: Long)

  /** One timed op as the harness saw it. */
  final case class OpRec(id: Int, label: String, kind: String, startMs: Double, endMs: Double,
      ms: Double, ok: Boolean, resultRows: Long, filesWritten: Long)

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def union(xs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = xs.map { case (s, e) => (s.max(lo), e.min(hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    c.foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, ce.max(e)))
        case Some((cs, ce)) => total += ce - cs; cur = Some((s, e))
        case None => cur = Some((s, e))
      }
    }
    cur.foreach { case (cs, ce) => total += ce - cs }
    total
  }
}
