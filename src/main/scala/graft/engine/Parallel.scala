package graft.engine

import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

/** Driver-side fan-out for independent Spark jobs. At small data sizes a
  * job's cost is mostly fixed driver and commit latency, so N
  * independent writes issued from N threads finish in about the time of
  * the slowest one instead of the sum — Spark's scheduler accepts jobs
  * from many threads at once.
  */
object Parallel {

  /** Run `f` once per item, each on its own thread of a pool of
    * `min(items.size, parallelism)` threads (by default one per item).
    * Waits for EVERY task — a failure never leaves siblings running
    * unobserved — then rethrows the first failure in item order, with
    * any further failures attached as suppressed. Results come back in
    * item order.
    */
  def map[A, B](items: Seq[A], parallelism: Int = Int.MaxValue)(f: A => B): Seq[B] = {
    require(parallelism >= 1, "parallelism must be at least 1")
    if (items.size <= 1) return items.map(f)
    val pool = Executors.newFixedThreadPool(math.min(items.size, parallelism), daemonThreads)
    try {
      val futures = items.map(a => pool.submit(new Callable[B] { def call(): B = f(a) }))
      val outcomes = futures.map { fu =>
        try Right(fu.get())
        catch { case e: ExecutionException => Left(e.getCause) }
      }
      outcomes.collect { case Left(e) => e } match {
        case first +: rest =>
          rest.filter(_ ne first).foreach(first.addSuppressed)
          throw first
        case _ => outcomes.collect { case Right(b) => b }
      }
    } finally pool.shutdownNow() // every task is done unless the caller was interrupted
  }

  private val threadIds = new AtomicInteger()

  private val daemonThreads: ThreadFactory = (r: Runnable) => {
    val t = new Thread(r, s"graft-parallel-${threadIds.incrementAndGet()}")
    t.setDaemon(true)
    t
  }
}
