package graft.tools

import scala.concurrent.{Await, ExecutionContext, Future, blocking}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Try}

/** One bounded driver-side pool for overlapping independent Spark jobs
  * (guide §2.6) — replaces the ad-hoc `ExecutionContext.Implicits.global`
  * at the overlap call sites (r17 verdict #2 / advice):
  *
  *  - the global fork-join pool is JVM-wide and sized to the core count;
  *    a driver running many concurrent queries (HiveServer2-style) would
  *    contend/starve it, and a blocking sink write occupying a fork-join
  *    worker is the classic pool-deadlock shape. This pool is dedicated,
  *    small (overlap needs 2-4 jobs in flight, not parallelism), and its
  *    tasks wrap bodies in `blocking` so any future ManagedBlocker-aware
  *    executor also stays healthy;
  *  - `awaitAll` settles EVERY future before rethrowing the first
  *    failure: the old per-future `Await.result` loop rethrew eagerly and
  *    LEAKED still-running writes past the caller's finally/unpersist —
  *    in the streaming fan-out a foreachBatch retry could then race a
  *    leaked mode(overwrite) write into the same batch directory.
  *
  * Threads are daemons (never block JVM exit) and the pool is lazily
  * created once per driver JVM.
  */
object Pools {
  /** Small fixed pool: enough in-flight jobs to back-fill a task tail,
    * few enough not to fight for executors (guide §2.6: "2-3 jobs in
    * flight is plenty"). A body that submits back into this pool runs the
    * inner work inline (see [[submit]]), so a fixed size cannot deadlock.
    */
  lazy val jobs: ExecutionContext = ExecutionContext.fromExecutorService(
    java.util.concurrent.Executors.newFixedThreadPool(4,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-overlap-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      }))

  /** Submit one independent job body onto the shared pool. Called from a
    * pool thread, the body runs inline on the caller instead: a pool body
    * blocking on work queued behind itself and three like it would
    * otherwise wait forever. A body submitted from inside a front-end
    * handler keeps its `spark.sql` calls on Spark's own parser, as the
    * handler's thread does. */
  def submit[T](body: => T): Future[T] =
    if (Thread.currentThread.getName.startsWith("graft-overlap-")) Future.fromTry(Try(body))
    else if (graft.frontend.HiveQlParser.isBypassed)
      Future(blocking(graft.frontend.HiveQlParser.bypassed(body)))(jobs)
    else Future(blocking(body))(jobs)

  /** Settle ALL futures (no early return), then rethrow the FIRST
    * failure in sequence order. Guarantees no submitted write outlives
    * the caller — the leaked-future hazard the per-future Await had.
    */
  def awaitAll[T](fs: Seq[Future[T]]): Seq[T] = {
    val settled = fs.map(f => Try(Await.result(f, Duration.Inf)))
    settled.collectFirst { case Failure(e) => e }.foreach(throw _)
    settled.map(_.get)
  }

  /** Run independent job bodies concurrently on the shared pool and wait
    * for all of them; first failure rethrown after every body settles.
    */
  def runAll(bodies: Seq[() => Unit]): Unit =
    awaitAll(bodies.map(b => submit(b()))): Unit
}
