package graft.engine

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The driver-side fan-out: results in item order, the thread bound
  * holds, and a failure surfaces only after every sibling finished.
  */
class ParallelSpec extends AnyFunSuite {

  test("results come back in item order and the parallelism bound holds") {
    val running = new AtomicInteger()
    val peak = new AtomicInteger()
    val out = Parallel.map(1 to 12, parallelism = 3) { i =>
      peak.accumulateAndGet(running.incrementAndGet(), math.max)
      Thread.sleep(20)
      running.decrementAndGet()
      i * 10
    }
    assert(out == (1 to 12).map(_ * 10))
    assert(peak.get() <= 3)
  }

  test("the first failure in item order is rethrown after every sibling finished") {
    val finished = new AtomicInteger()
    val e = intercept[IllegalStateException](Parallel.map(Seq(0, 1, 2, 3)) { i =>
      if (i == 3) throw new IllegalStateException("third")
      if (i == 1) { Thread.sleep(100); throw new IllegalStateException("first") }
      Thread.sleep(200)
      finished.incrementAndGet()
    })
    assert(e.getMessage == "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("third"))
    assert(finished.get() == 2)
  }
}
