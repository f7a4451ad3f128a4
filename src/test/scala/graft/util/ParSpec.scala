package graft.util

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

/** [[Par]] failure semantics: the first failure stops the group —
  * running siblings are interrupted, queued ones never start — and
  * surfaces as the stage's original exception. No Spark involved. */
class ParSpec extends AnyFunSuite {

  test("inParallel: a failing stage interrupts a running sibling and rethrows its own exception") {
    val sleeping = new CountDownLatch(1)
    val interrupted = new AtomicBoolean(false)
    val boom = new IllegalStateException("boom")
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](Par.inParallel(
      () => {
        sleeping.countDown()
        try Thread.sleep(10000L)
        catch { case _: InterruptedException => interrupted.set(true) }
      },
      () => { sleeping.await(); throw boom }))
    val ms = (System.nanoTime() - t0) / 1000000L
    assert(e eq boom)
    assert(ms < 5000L, s"failure surfaced after $ms ms, not at once")
    assert(interrupted.get(), "the sleeper never saw its interrupt")
  }

  test("group: with one thread, a stage queued behind a failing stage never runs") {
    val ran = new AtomicBoolean(false)
    val e = intercept[IllegalStateException](Par.group(1) { g =>
      g.submit(throw new IllegalStateException("first"))
      g.submit(ran.set(true))
    })
    assert(e.getMessage == "first")
    assert(!ran.get(), "the queued stage ran after the failure")
  }
}
