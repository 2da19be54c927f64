package graft

/** The one driver-side concurrency primitive: header opens, commit
  * renames and deletes, artifact copies and the ANN index's independent
  * artifact writes all overlap through it.
  *
  * Structured: a call returns only after EVERY task has finished. Results
  * come back in input order; the first failure in INPUT order is
  * rethrown (deterministic attribution) and no running task is ever
  * interrupted, so an aborted commit leaves only whole per-file effects.
  *
  * Threads are created per call, never drawn from a shared pool:
  *  - Spark local properties (job group, scheduler pool, tracing span
  *    tags) are inherited only when a thread is CREATED, so a fresh
  *    thread tags its jobs with the caller's current properties where a
  *    pooled one would carry whatever was set when it was spawned;
  *  - nesting cannot deadlock: a task that itself calls [[map]] (an
  *    artifact write whose sink commit renames in parallel) gets its own
  *    threads instead of waiting on a saturated pool.
  *
  * Frames a task [[Caches.register]]s belong to the innermost
  * [[Caches.scoped]] block of the thread that called Par.
  */
object Par {
  private val MaxThreads = 16

  /** `xs.map(f)` with at most 16 tasks in flight. Fewer than two inputs
    * run inline on the calling thread.
    */
  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.lengthCompare(2) < 0) xs.map(f)
    else {
      val in = xs.toIndexedSeq
      val out = new Array[Either[Throwable, B]](in.size)
      val next = new java.util.concurrent.atomic.AtomicInteger(0)
      val scopes = Caches.currentScopes
      val workers = Seq.tabulate(math.min(MaxThreads, in.size)) { w =>
        val t = new Thread(() => Caches.withScopes(scopes) {
          var i = next.getAndIncrement()
          while (i < in.size) {
            out(i) = try Right(f(in(i))) catch { case e: Throwable => Left(e) }
            i = next.getAndIncrement()
          }
        }, s"graft-par-$w")
        t.setDaemon(true)
        t.start()
        t
      }
      var interrupted = false
      workers.foreach { t =>
        while (t.isAlive)
          try t.join()
          catch { case _: InterruptedException => interrupted = true }
      }
      if (interrupted) Thread.currentThread().interrupt()
      out.toSeq.map {
        case Right(b) => b
        case Left(e) => throw e
      }
    }

  /** Run independent side-effecting blocks concurrently. */
  def all(thunks: (() => Unit)*): Unit = map(thunks)(_())
}
