package graft

import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService,
  Executors, Future, TimeUnit}

/** Driver-side fan-out of named blocking tasks — each typically one or
  * more Spark actions — so the scheduler can interleave their jobs'
  * tasks on the session's cores instead of running one job at a time.
  */
object Concurrently {

  /** Run `tasks` on a pool of `threads` threads created for this call
    * (so its threads inherit the caller's Spark local properties and
    * active session) and return once all have succeeded.
    *
    * The first task to fail (in completion order) cancels the tasks
    * that have not started yet; the ones already running are waited
    * for, so no task is still running when this returns. The failure
    * is then rethrown as a `RuntimeException(failure(name), cause)`. */
  def run(tasks: Seq[(String, () => Unit)], threads: Int)
         (failure: String => String): Unit = {
    if (tasks.isEmpty) return
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val done = new ExecutorCompletionService[Unit](pool)
      val names: Map[Future[Unit], String] = tasks.map { case (name, task) =>
        done.submit(new Callable[Unit] { def call(): Unit = task() }) -> name
      }.toMap
      var firstFailure: Option[(String, Throwable)] = None
      var pending = tasks.size
      while (firstFailure.isEmpty && pending > 0) {
        val f = done.take()
        pending -= 1
        try f.get()
        catch { case e: ExecutionException => firstFailure = Some(names(f) -> e.getCause) }
      }
      firstFailure.foreach { case (name, cause) =>
        names.keys.foreach(_.cancel(false))
        pool.shutdown()
        pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
        throw new RuntimeException(failure(name), cause)
      }
    } finally pool.shutdownNow()
  }
}
