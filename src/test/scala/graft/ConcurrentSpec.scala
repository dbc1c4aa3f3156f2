package graft

import graft.pipeline.Concurrent
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite

/** [[Concurrent.all]]: independent steps overlap, come back in input
  * order, and fail with every failure accounted for. (That a `Runner`
  * batch's jobs carry the caller's local properties is in RunnerSpec.) */
class ConcurrentSpec extends AnyFunSuite {

  test("steps overlap: each waits on a latch only the other can open") {
    val latch = new CountDownLatch(2)
    def step(): Boolean = { latch.countDown(); latch.await(10, TimeUnit.SECONDS) }
    // one after the other, the first step would time out
    assert(Concurrent.all(Seq(() => step(), () => step())) === Seq(true, true))
  }

  test("results come back in input order") {
    val steps = (1 to 7).map(i => () => { Thread.sleep((8 - i) * 20L); i * 10 })
    assert(Concurrent.all(steps) === (1 to 7).map(_ * 10))
  }

  test("the first failure in input order is thrown, after every step ended") {
    @volatile var slowDone = false
    val a = new IllegalStateException("A")
    val b = new IllegalArgumentException("B")
    val thrown = intercept[IllegalStateException] {
      Concurrent.all(Seq(
        () => { Thread.sleep(300); slowDone = true },
        () => throw a,
        () => throw b))
    }
    assert(thrown eq a)
    assert(thrown.getSuppressed.toSeq === Seq(b))
    assert(slowDone, "returned before the slow step finished")
  }
}
