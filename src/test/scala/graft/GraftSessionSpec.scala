package graft

/** The session factory builds at most one session per JVM and so at most
  * one warehouse dir; a call that finds the running session creates none.
  */
class GraftSessionSpec extends SparkSpec {

  test("two local calls in one JVM create at most one warehouse dir") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def whDirs: Int = Option(tmp.listFiles()).fold(0)(_.count(_.getName.startsWith("graft_twice_wh")))
    val before = whDirs
    val a = GraftSession.local("twice", 4)
    val b = GraftSession.local("twice", 4)
    assert(a eq b)
    assert(whDirs - before <= 1)
  }
}
