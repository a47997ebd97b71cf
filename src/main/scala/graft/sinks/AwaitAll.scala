package graft.sinks

import java.util.concurrent.{Callable, ExecutionException, ExecutorService, Executors, TimeUnit}

/** Independent commits run concurrently on a driver pool, and the caller
  * waits for ALL of them, whatever happens:
  *
  *   - each task is `submit`ted; its `FutureTask` records any Throwable,
  *     fatal ones too, so every `get` returns and one failure cannot
  *     abandon the others;
  *   - every future is awaited before the first failure is rethrown;
  *   - an interrupt of the calling thread (`query.stop()` interrupts the
  *     stream thread after cancelling its jobs) cancels the tasks that
  *     have not started, then still waits for the running ones to end
  *     before the `InterruptedException` propagates.
  *
  * So no task outlives the call.
  */
private[graft] object AwaitAll {

  /** Run `tasks` on `threads` pool threads; their results in order. */
  def apply[T](threads: Int)(tasks: Seq[() => T]): Seq[T] = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val pending = tasks.map(task => pool.submit((() => task()): Callable[T]))
      try {
        val outcomes = pending.map { f =>
          try Right(f.get()) catch { case e: ExecutionException => Left(e.getCause) }
        }
        outcomes.collectFirst { case Left(e) => e }.foreach(e => throw e)
        outcomes.collect { case Right(v) => v }
      } catch {
        case e: InterruptedException =>
          pending.foreach(_.cancel(false))
          throw e
      }
    } finally awaitShutdown(pool)
  }

  /** Shut `pool` down and wait until its tasks have finished, also when
    * this thread is interrupted; the interrupt is restored afterwards.
    */
  private def awaitShutdown(pool: ExecutorService): Unit = {
    pool.shutdown()
    var interrupted = false
    var done = false
    while (!done)
      try done = pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
  }
}
