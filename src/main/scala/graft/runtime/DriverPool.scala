package graft.runtime

import java.util.concurrent.Executors
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

/** A bounded driver thread pool for independent units of Spark work
  * (Boruta's forest rounds). */
object DriverPool {

  /** Run `f` over `items` on at most `maxConcurrent` driver threads (each
    * item may launch its own Spark jobs); results keep input order.
    *
    * Fails fast and leaves nothing running: on the first failure, items
    * not yet started are skipped, the running ones are awaited, and that
    * first failure is rethrown. A caller's `finally` (a lock release, a
    * cache release) therefore never races an item still in flight. */
  def boundedParallel[A, B](items: Seq[A], maxConcurrent: Int)(f: A => B): Seq[B] = {
    require(maxConcurrent >= 1, "maxConcurrent must be >= 1")
    if (items.isEmpty) return Nil
    val results = new Array[Any](items.size)
    val next = new AtomicInteger(0)
    val failure = new AtomicReference[Throwable](null)
    val workers = math.min(maxConcurrent, items.size)
    val pool = Executors.newFixedThreadPool(workers)
    try {
      val done = Seq.fill(workers)(pool.submit(new Runnable {
        def run(): Unit = {
          var i = next.getAndIncrement()
          while (i < items.size && failure.get == null) {
            try results(i) = f(items(i))
            catch { case t: Throwable => failure.compareAndSet(null, t) }
            i = next.getAndIncrement()
          }
        }
      }))
      done.foreach(_.get())
    } finally pool.shutdown()
    Option(failure.get).foreach(t => throw t)
    results.toSeq.asInstanceOf[Seq[B]]
  }
}
