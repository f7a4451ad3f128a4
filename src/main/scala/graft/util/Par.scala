package graft.util

import java.util.concurrent.{Callable, ExecutionException,
  ExecutorCompletionService, Executors, TimeUnit}

/** Run INDEPENDENT side-effect stages concurrently (optimization guide
  * §2.6 — Spark's scheduler happily runs several jobs at once; actions
  * are only sequential because driver code calls them sequentially).
  * Stages must touch DISJOINT outputs and read only materialized or
  * immutable inputs, so results equal the sequential composition by
  * construction. Stages submit in order and FIFO scheduling gives the
  * first-submitted job resources first — put the critical path first.
  *
  * Failure: stages are awaited in COMPLETION order, and the first
  * failure stops the group — queued stages never start, running ones
  * are interrupted, and once the pool threads have exited the stage's
  * ORIGINAL exception is rethrown (a failed stage surfaces exactly as
  * it would sequentially). An interrupt stops the driver thread, not a
  * Spark job it already submitted: that job may still finish its
  * tasks and write its output. This is why every caller writes into a
  * FRESH generation number and commits marker-last AFTER the await
  * ([[graft.store.Generations]]) — a failed group leaves only an
  * uncommitted, invisible generation, whatever its stragglers write. */
private[graft] object Par {

  /** A submit/await group on a fixed pool of `threads` threads: stages
    * may be submitted while the caller keeps working (a sweep loop
    * handing off its writes), and [[group]] awaits them all. */
  final class Group private[Par] (threads: Int) {
    private val pool = Executors.newFixedThreadPool(threads)
    private val done = new ExecutorCompletionService[Unit](pool)
    @volatile private var failed = false
    private var pending = 0

    def submit(stage: => Unit): Unit = {
      done.submit(new Callable[Unit] {
        def call(): Unit =
          if (!failed)
            try stage
            catch { case t: Throwable => failed = true; throw t }
      })
      pending += 1
    }

    private[Par] def await(): Unit = {
      while (pending > 0) {
        pending -= 1
        try done.take().get()
        catch { case e: ExecutionException => throw e.getCause }
      }
      pool.shutdown()
    }

    private[Par] def cancel(): Unit = {
      failed = true
      pool.shutdownNow()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }

  /** Run `body` with a fresh [[Group]] and await every stage it
    * submitted; if `body` or any stage throws, the group is cancelled
    * (see the object doc) and the first exception propagates. */
  def group[A](threads: Int)(body: Group => A): A = {
    val g = new Group(threads)
    try { val a = body(g); g.await(); a }
    catch { case t: Throwable => g.cancel(); throw t }
  }

  /** [[group]] with one thread per stage; a lone stage runs inline. */
  def inParallel(stages: (() => Unit)*): Unit =
    if (stages.size == 1) stages.head()
    else if (stages.nonEmpty)
      group(stages.size)(g => stages.foreach(s => g.submit(s())))
}
