package graft.core

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors}

/** Driver-side concurrency for independent actions. */
object Jobs {

  /** Runs `thunks` on at most `width` threads and returns their results
    * in order. The thunks are drawn on the calling thread as earlier
    * ones run, so a lazy iterator can build its next frame while the
    * previous thunk's job is in flight. The first failure is rethrown;
    * the pool is shut down either way. Threads start inside the call,
    * so they inherit the caller's Spark job group and local properties,
    * and a job description a thunk sets stays on its pool thread. */
  def overlap[T](width: Int)(thunks: IterableOnce[() => T]): Seq[T] = {
    val pool = Executors.newFixedThreadPool(math.max(width, 1))
    try {
      val done = new ExecutorCompletionService[T](pool)
      val futures = thunks.iterator.map(t => done.submit(() => t())).toVector
      futures.foreach { _ =>
        try done.take().get()
        catch { case e: ExecutionException => throw e.getCause }
      }
      futures.map(_.get())
    } finally pool.shutdownNow()
  }
}
