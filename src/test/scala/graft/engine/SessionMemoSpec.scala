package graft.engine

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec

/** The session-memo seam's policy: one build per key under concurrent
  * callers, builds nesting across (and within) families, nothing cached
  * from a throwing build, families and sessions never colliding, a
  * replacing put, and one reset dropping every family.
  */
class SessionMemoSpec extends SparkSpec {

  private def freshDir(): String = java.util.UUID.randomUUID().toString

  test("a build may read other families' memos and its own family's other keys") {
    // the Similarity.repBandedPairs shape: a pair build reading the group
    // and band-key memos, here also recursing into its own family
    val dir = freshDir()
    val groups = SessionMemo[String, Int]("spec.groups")
    val keys = SessionMemo[(String, Int), Int]("spec.keys")
    val pairs = SessionMemo[(String, Int), Int]("spec.pairs")
    val builds = new AtomicInteger()
    def pairsOf(bits: Int): Int = pairs(spark, (dir, bits)) {
      builds.incrementAndGet()
      val prev = if (bits > 1) pairsOf(bits - 1) else 0
      prev + groups(spark, dir)(10) + keys(spark, (dir, bits))(bits)
    }
    val out = Parallel.map(1 to 8)(_ => pairsOf(3))
    assert(out == Seq.fill(8)(36))
    assert(builds.get() == 3)
  }

  test("concurrent callers on one key share a single build") {
    val dir = freshDir()
    val memo = SessionMemo[String, Int]("spec.concurrent")
    val builds = new AtomicInteger()
    val out = Parallel.map(1 to 16) { _ =>
      memo(spark, dir) {
        Thread.sleep(200)
        builds.incrementAndGet()
      }
    }
    assert(out == Seq.fill(16)(1))
    assert(builds.get() == 1)
  }

  test("a throwing build caches nothing; the next call builds again") {
    val dir = freshDir()
    val memo = SessionMemo[String, Int]("spec.throwing")
    val builds = new AtomicInteger()
    val e = intercept[IllegalStateException](memo(spark, dir) {
      builds.incrementAndGet()
      throw new IllegalStateException("build failed")
    })
    assert(e.getMessage == "build failed")
    assert(memo.get(spark, dir).isEmpty)
    assert(memo(spark, dir) { builds.incrementAndGet(); 7 } == 7)
    assert(memo(spark, dir)(8) == 7)
    assert(builds.get() == 2)
  }

  test("equal key tuples under two families, or two sessions, never collide") {
    val dir = freshDir()
    val a = SessionMemo[(String, Int), String]("spec.a")
    val b = SessionMemo[(String, Int), String]("spec.b")
    assert(a(spark, (dir, 1))("from a") == "from a")
    assert(b(spark, (dir, 1))("from b") == "from b")
    assert(a.get(spark, (dir, 1)).contains("from a"))
    val other = spark.newSession()
    assert(a(other, (dir, 1))("other session") == "other session")
    assert(a.get(spark, (dir, 1)).contains("from a"))
  }

  test("put replaces the entry that later calls serve") {
    val dir = freshDir()
    val memo = SessionMemo[String, Int]("spec.put")
    assert(memo(spark, dir)(1) == 1)
    assert(memo.put(spark, dir, 2) == 2)
    assert(memo(spark, dir)(3) == 2)
  }

  test("reset empties every family") {
    val dir = freshDir()
    val a = SessionMemo[String, Int]("spec.resetA")
    val b = SessionMemo[(String, Int), String]("spec.resetB")
    a(spark, dir)(1): Unit
    b(spark, (dir, 2))("x"): Unit
    SessionMemo.reset()
    assert(a.get(spark, dir).isEmpty)
    assert(b.get(spark, (dir, 2)).isEmpty)
    assert(a(spark, dir)(5) == 5)
    assert(b(spark, (dir, 2))("y") == "y")
  }
}
