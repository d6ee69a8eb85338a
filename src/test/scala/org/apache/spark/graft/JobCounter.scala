package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs started while a block runs. The listener bus is
  * private to Spark and delivers events asynchronously, so the count is
  * read only after the bus has drained on both sides of the block.
  */
final class JobCounter(sc: SparkContext) extends SparkListener {
  private val started = new AtomicInteger

  override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet(): Unit

  sc.addSparkListener(this)

  /** `body`'s result, the jobs it started and its seconds. */
  def during[T](body: => T): (T, Int, Double) = {
    JobCounter.drain(sc)
    val before = started.get
    val t0 = System.nanoTime()
    val v = body
    val secs = (System.nanoTime() - t0) / 1e9
    JobCounter.drain(sc)
    (v, started.get - before, secs)
  }

  def remove(): Unit = sc.removeSparkListener(this)
}

object JobCounter {
  /** Block until every event posted so far, query-execution events
    * included, has reached its listeners.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
