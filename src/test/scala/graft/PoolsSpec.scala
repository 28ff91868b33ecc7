package graft

import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import graft.tools.Pools
import org.scalatest.funsuite.AnyFunSuite

/** The fixed overlap pool stays live when a body submits back into it. */
class PoolsSpec extends AnyFunSuite {

  // off the pool, on a thread of its own, so a deadlock fails the test
  // instead of hanging the suite
  private def bounded[T](body: => T): T =
    Await.result(Future(body)(ExecutionContext.global), 60.seconds)

  test("runAll bodies that nest runAll and submit more than the pool's 4 threads complete") {
    val done = new AtomicInteger(0)
    // every outer body holds a pool thread while it waits on inner work;
    // with more outer bodies than threads, queued inner work would never run
    val outer = (0 until 8).map(_ => () => {
      Pools.runAll((0 until 3).map(_ => () => { done.incrementAndGet(); () }))
      Pools.awaitAll(Seq(Pools.submit(done.incrementAndGet())))
      ()
    })
    bounded(Pools.runAll(outer))
    assert(done.get == 8 * 4)
  }

  test("a failing inline body surfaces its exception to the caller") {
    val err = intercept[IllegalStateException] {
      bounded(Pools.runAll(Seq(() =>
        Pools.runAll(Seq(() => throw new IllegalStateException("inner"))))))
    }
    assert(err.getMessage == "inner")
  }
}
