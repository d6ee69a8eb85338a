package graft

import java.nio.file.Files

/** A query that throws is a failed query, not a fast one: no time, no
  * share of the total or the ledger, and named on the total line. */
class BenchFailureSpec extends SparkSpec {

  private val ok: Bench.Query = (s, _) => s.range(5).toDF()
  private val boom: Bench.Query = (s, _) => s.range(5).selectExpr("raise_error('boom')")

  test("a throwing query fails with no time; its passing sibling is timed") {
    val results = Seq("ok" -> ok, "boom" -> boom).map { case (n, fn) => n -> Bench.timeRun(spark, n, fn, Sf) }
    assert(results(0)._2.exists(_._2 == 5L) && results(1)._2.isEmpty)
    val (timed, failed) = Bench.settle(results.map { case (n, r) => n -> r.map(_._1) }, Map.empty)
    assert(failed == Seq("boom") && timed == Map("ok" -> results(0)._2.get._1))

    val total = Bench.summaryLines("sf0.1", timed, Map.empty, failed)._2
    assert(total.startsWith(f"""{"metric":"total","value":${timed("ok")}%.3f,"unit":"sec","n_queries":1,"failed":["boom"],"""))
    assert(total.contains(f""""queries":{"ok":${timed("ok")}%.3f}"""))

    val dir = Files.createTempDirectory("graft_ledger")
    BenchLedger.append(dir, "sf0.1", 32, timed)
    assert(BenchLedger.medians(dir, "sf0.1").keySet == Set("ok"))
  }

  test("a rerun that throws fails the query; a passing rerun keeps the min") {
    val reruns = Map("a" -> Some(1.5), "b" -> None)
    val (timed, failed) = Bench.settle(Seq("a" -> Some(3.0), "b" -> Some(4.0), "c" -> Some(1.0)), reruns)
    assert(timed == Map("a" -> 1.5, "c" -> 1.0) && failed == Seq("b"))
    assert(Bench.summaryLines("sf0.1", timed, reruns, failed)._2.contains(""""failed":["b"],"reruns":{"a":1.500}"""))
  }
}
