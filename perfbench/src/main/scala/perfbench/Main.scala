package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import Tracer.OpRec

/** One op of a workload's seeded stream. `run` is the timed part; `check`
  * judges its output afterwards and returns a failure message, if any. */
final case class Op(label: String, kind: String, run: () => Op.Out,
    check: Op.Out => Option[String] = _ => None)

object Op {
  /** An op's output: result rows and whatever its check needs. */
  final case class Out(rows: Long, payload: Any = null)
}

/** Everything a workload may use: the session, the seed and the run's
  * private directories (warehouse, temp root, generated inputs). */
final case class Ctx(spark: SparkSession, seed: Long, runDir: Path, trace: Boolean,
    tracer: Tracer) {
  def dir(name: String): Path = Files.createDirectories(runDir.resolve(name))
}

trait Workload {
  /** Builds the program state the ops run against, including warm-up.
    * Called several times (rep 0, 1, ...), each in a fresh namespace. */
  def setup(rep: Int): Unit
  def next(): Op
  def hasNext: Boolean = true
  /** False while the stream is inside a round that must run whole: the
    * windows end at round boundaries so every run measures the same mix. */
  def roundDone: Boolean = true
  /** Whole rounds run as warm-up. A count, not a time, so that a faster
    * program does not reach the timed window with more state behind it. */
  def warmupRounds: Int = 2
  /** Checks that run once, after the timed window; one message per failed op. */
  def finish(ops: Seq[OpRec]): Seq[String] = Nil
  /** Workload-specific end-to-end figures (annotations, not gated). */
  def extras(ops: Seq[OpRec]): Map[String, Double] = Map.empty
  /** Workload-specific per-layer figures. */
  def layers(ops: Seq[OpRec]): Map[String, Double] = Map.empty
}

/** Runs one workload: input generation, repeated set-up, a closed-loop
  * timed window with one client thread, output checks and metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --run-dir D --out F
  * (normally launched by perfbench/run.py, which builds and isolates it).
  */
object Main {
  val setupReps = 3

  val perLayerNames: Seq[String] = Seq(
    "engine.self_ms", "engine.stmts", "engine.failed_stmts",
    "plans.parse_ms", "plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms",
    "plans.queries", "plans.rule_effective_ratio",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.job_wall_ms", "exec.run_ms",
    "exec.cpu_ms", "exec.gc_ms", "exec.task_wait_ms", "exec.task_skew",
    "exec.shuffle_write_records", "exec.shuffle_write_bytes", "exec.shuffle_read_records",
    "exec.shuffle_read_bytes", "exec.shuffle_fetch_wait_ms", "exec.spill_bytes",
    "sources.input_records", "sources.input_bytes", "sources.scan_per_result",
    "sources.output_records", "sources.output_bytes", "sources.files_written",
    "acid.table_files", "acid.table_bytes", "acid.files_rewritten_ratio",
    "dedup.call_ms", "dedup.corpus_docs", "dedup.batch_docs", "dedup.survivor_ratio",
    "dedup.shuffle_records_per_batch_doc", "host.steal_s", "jvm.driver_gc_ms")

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "hiveql_scripts" => new HiveqlScripts(ctx)
    case "warehouse_queries" => new WarehouseQueries(ctx)
    case "cow_dml" => new CowDml(ctx)
    case "dedup_increments" => new DedupIncrements(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** Data files under `root` (outside Spark's local dirs) modified at or
    * after `sinceMs`. */
  def filesSince(root: Path, sinceMs: Double): Long =
    if (!Files.isDirectory(root)) 0L
    else {
      val st = Files.walk(root)
      try st.filter(p => Files.isRegularFile(p) && !p.startsWith(root.resolve("local")) &&
          !p.getFileName.toString.startsWith(".") &&
          !p.getFileName.toString.startsWith("_") &&
          Files.getLastModifiedTime(p).toMillis >= sinceMs.toLong).count()
      finally st.close()
    }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val runDir = Paths.get(a("run-dir")).toAbsolutePath
    val out = Paths.get(a("out")).toAbsolutePath
    val cores = Host.nproc

    System.setProperty("spark.sql.warehouse.dir", Files.createDirectories(runDir.resolve("warehouse")).toString)
    val t0 = System.nanoTime()
    val spark = graft.Engine.session(s"local[$cores]", "perfbench", cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer
    val ctx = Ctx(spark, seed, runDir, trace, tracer)
    val w = workload(name, ctx)

    val setupTimes = (0 until setupReps).map { rep =>
      val s0 = System.nanoTime()
      w.setup(rep)
      (System.nanoTime() - s0) / 1e9
    }
    graft.tools.Checkpoints.sweep()
    System.gc()

    val failures = ArrayBuffer.empty[String]
    val epoch0 = System.currentTimeMillis().toDouble
    val nano0 = System.nanoTime()
    def nowMs(n: Long) = epoch0 + (n - nano0) / 1e6
    var id = 0
    var heapPeak = 0L
    var opCpuNs = 0L
    /** Closed loop: one op at a time until `until` (nanoTime) has passed and
      * at least `rounds` rounds have ended, stopping at a round boundary. */
    def loop(until: Long, rounds: Int, record: Boolean): Seq[OpRec] = {
      val ops = ArrayBuffer.empty[OpRec]
      var ended = 0
      while ((System.nanoTime() < until || ended < rounds || !w.roundDone) && w.hasNext) {
        val op = w.next()
        val c = if (record) Host.threadCpuNs() else Map.empty[Long, Long]
        val s = System.nanoTime()
        val res = try Right(op.run()) catch { case e: Throwable => Left(e) }
        val e = System.nanoTime()
        if (record) opCpuNs += Host.threadCpuSinceNs(c)
        val verdict = res match {
          case Right(o) => try op.check(o) catch { case x: Throwable => Some(s"check threw: $x") }
          case Left(x) => Some(s"threw: ${String.valueOf(x.getMessage).take(300)}")
        }
        verdict.foreach(m => failures += s"${op.label}: $m")
        val files = if (trace && record) filesSince(runDir, nowMs(s)) else 0L
        ops += OpRec(id, op.label, op.kind, nowMs(s), nowMs(e), (e - s) / 1e6, verdict.isEmpty,
          res.map(_.rows).getOrElse(0L), files)
        if (trace && record) tracer.span(id, op.label, nowMs(s), nowMs(e), null)
        if (record) heapPeak = heapPeak.max(Host.heapAfterGcBytes())
        id += 1
        if (w.roundDone) ended += 1
      }
      ops.toSeq
    }
    // warm-up: ops of the same stream, checked but not measured, so the
    // timed window starts with the JIT and codegen caches warm
    val warm = loop(0L, w.warmupRounds, record = false)

    if (trace) tracer.attach(spark)
    val stealA = Host.stealS()
    val gcA = Host.gcMs()
    val cpuA = Host.cpuNs()
    val t1 = System.nanoTime()
    val ops = loop(t1 + (seconds * 1e9).toLong, 0, record = true)
    val wallS = (System.nanoTime() - t1) / 1e9
    val cpuS = (Host.cpuNs() - cpuA) / 1e9
    val appCpuS = opCpuNs / 1e9
    val stealS = Host.stealS() - stealA
    val gcMs = Host.gcMs() - gcA
    // live heap: what the program still holds after full collections
    System.gc()
    System.gc()
    val heapLive = Host.heapUsedBytes()
    val late = try w.finish(warm ++ ops) catch { case x: Throwable => Seq(s"finish threw: $x") }
    failures ++= late
    // a late failure names an op label, or a query whose ops are `name#i`
    val failedLabels = late.map(_.takeWhile(_ != ':')).toSet
    def mark(xs: Seq[OpRec]) = xs.map(o =>
      if (failedLabels(o.label) || failedLabels(o.label.takeWhile(_ != '#'))) o.copy(ok = false)
      else o)
    val finalOps = mark(ops)
    val warmOps = mark(warm)
    // a 90th percentile needs at least 10 ops beyond it
    val extras = w.extras(finalOps) ++ Map("op_p50_ms" -> pct(finalOps.map(_.ms), 0.5)) ++
      (if (finalOps.size >= 100) Map("op_p90_ms" -> pct(finalOps.map(_.ms), 0.9)) else Map.empty) ++
      Map("heap_peak_mb" -> heapPeak / 1048576.0, "heap_live_mb" -> heapLive / 1048576.0)
    // stopping drains the listener bus, so every traced event is in
    spark.stop()
    val wLayers = if (trace) w.layers(finalOps) else Map.empty[String, Double]

    val lat = finalOps.map(_.ms)
    val busyS = lat.sum / 1000.0
    val failed = finalOps.count(!_.ok) + warmOps.count(!_.ok)
    // per second of busy time, not of the window's wall: the wall also holds
    // the checks and the state resets between rounds, which are not ops
    val endToEnd = Map(
      "setup_s" -> pct(setupTimes, 0.5),
      "ops_per_s" -> (if (busyS > 0) finalOps.size / busyS else 0.0),
      "cpu_ms_per_op" -> (if (finalOps.nonEmpty) appCpuS * 1000.0 / finalOps.size else 0.0))
    val perLayer =
      if (!trace) Map.empty[String, Double]
      else {
        val m = tracer.layers(finalOps) ++ wLayers ++ Map(
          "host.steal_s" -> stealS, "jvm.driver_gc_ms" -> gcMs.toDouble)
        perLayerNames.map(k => k -> m.getOrElse(k, 0.0)).toMap
      }
    val annotations = Map(
      "session_s" -> sessionS, "setup_reps_s" -> setupTimes, "timed_wall_s" -> wallS,
      "busy_s" -> busyS, "cpu_s" -> cpuS, "thread_cpu_s" -> appCpuS, "steal_s" -> stealS, "load1" -> Host.load1(),
      "nproc" -> cores, "driver_gc_ms" -> gcMs, "error_rate" ->
        failed.toDouble / (finalOps.size + warm.size).max(1))
    val result = Json.obj(Seq(
      "workload" -> name, "seed" -> seed, "trace" -> trace,
      "attempted" -> (finalOps.size + warm.size), "failed" -> failed,
      "warmup_ops" -> warm.size,
      "failures" -> failures.take(20).toSeq,
      "end_to_end" -> endToEnd, "extras" -> extras, "per_layer" -> perLayer,
      "annotations" -> annotations,
      "ops" -> finalOps.groupBy(_.kind).map { case (k, v) => k -> v.size },
      "op_table" -> finalOps.map(o => Seq(o.label, o.kind, o.ms, o.ok, o.filesWritten)),
      "label_counts" -> (warmOps ++ finalOps).groupBy(_.label.takeWhile(_ != '#')).map { case (k, v) => k -> v.size }))
    Files.write(out, (result + "\n").getBytes("UTF-8"))
    if (trace) {
      val tf = Paths.get(a.getOrElse("trace-file", out.toString + ".trace.jsonl"))
      tracer.writeSpans(tf, result)
    }
  }
}
