package graft

import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Independent driver-side work run concurrently on a small bounded
  * pool that cannot leak work: once [[runAll]] returns or throws, no
  * task is running and none will start. */
object DriverPool {

  /** Runs `tasks` on at most `threads` threads named `name-<n>` and
    * returns their results in task order. On the first failure in
    * completion order — or an interrupt of the calling thread — it
    * runs `onFailure` (e.g. cancel the tasks' Spark jobs), drops the
    * queued tasks, interrupts the running ones, waits them out (up to
    * 60 s) and rethrows the root cause (the task's own exception,
    * never its future's wrapper). */
  def runAll[T](name: String, threads: Int, tasks: Seq[() => T],
      onFailure: () => Unit = () => ()): Seq[T] = {
    val n = new AtomicInteger(0)
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(threads, tasks.size)),
      (r: Runnable) => new Thread(r, s"$name-${n.incrementAndGet()}"))
    try {
      val done = new ExecutorCompletionService[T](pool)
      val futures = tasks.map(t => done.submit(new Callable[T] {
        override def call(): T = t()
      }))
      try {
        tasks.foreach(_ => done.take().get())
        futures.map(_.get())
      } catch {
        case t: Throwable =>
          try onFailure()
          finally {
            pool.shutdownNow()
            pool.awaitTermination(60, TimeUnit.SECONDS)
          }
          throw (t match {
            case e: ExecutionException => e.getCause
            case other => other
          })
      }
    } finally { pool.shutdown(); () }
  }
}
