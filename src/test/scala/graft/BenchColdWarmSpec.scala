package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.engine.SessionMemo

/** A query's first timed pass at a dir pays its memo builds (cold); the
  * min over the passes is the memo hit (warm). Both reach the total line
  * and the ledger, whose medians stay warm. */
class BenchColdWarmSpec extends SparkSpec {

  private val memo = SessionMemo[String, DataFrame]("BenchColdWarmSpec.build")
  // the first call at a dir builds a memo entry for 0.5 s; later calls hit it
  private val memoized: Bench.Query =
    (s, dir) => memo(s, dir) { Thread.sleep(500); s.range(5).toDF() }

  test("a first call that builds a memo entry is cold; the min is warm; both reach the ledger") {
    val (cold, warm) = Bench.timePasses(spark, "memo", memoized, "bench-cold-warm", reps = 2).get
    assert(cold >= 0.5 && warm < 0.5, s"cold $cold, warm $warm")

    val (timed, failed) = Bench.settle(Seq("memo" -> Some(warm)), Map.empty)
    val total = Bench.summaryLines("sf0.1", timed, Map.empty, failed, Map("memo" -> cold))._2
    assert(total.contains(f""""value":$warm%.3f,""") && total.contains(f""""cold_total":$cold%.3f,"""))

    val dir = Files.createTempDirectory("graft_ledger")
    BenchLedger.append(dir, "sf0.1", 32, timed, cold = Map("memo" -> cold))
    val line = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllLines(dir.resolve(BenchLedger.FileName)).get(0))
    assert(f"${line.path("queries").path("memo").asDouble}%.3f" == f"$warm%.3f")
    assert(f"${line.path("cold").path("memo").asDouble}%.3f" == f"$cold%.3f")
    assert(f"${BenchLedger.medians(dir, "sf0.1")("memo")}%.3f" == f"$warm%.3f")
  }
}
