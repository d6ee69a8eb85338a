package graft

/** Dev utility: run a single registered query by name against an sf dir,
  * print wall time (after a warm run at sf0.001) and, with EXPLAIN=1, the
  * formatted physical plan. A timed run that throws is printed and exits
  * non-zero. Usage:
  *   sbt "runMain graft.RunOne x58_simhash_neardup /root/testdata/sf0.1"
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val warmDir = Bench.warmDir(sfDir)
    // same session and amortized setup as Bench so per-query numbers
    // here are the same steady state the suite measures
    val spark = GraftSession.local("runone", GraftSession.cpus(32))
    Bench.ensureArtifacts(spark, Seq(warmDir, sfDir))
    // a comma list shares one session across queries (JVM+codegen
    // startup would otherwise dominate a multi-query measurement loop)
    name.split(",").foreach { nm =>
      val fn = SparkEntry.queries(nm)
      Bench.timeRun(spark, nm, fn, warmDir) // warm-up: a throw is not fatal
      val reps = sys.env.getOrElse("REPS", "3").toInt
      (1 to reps).foreach { i =>
        Bench.timeRun(spark, nm, fn, sfDir) match {
          case Some((secs, n)) => println(f"[$nm] run $i: $secs%.3f s ($n rows)")
          case None => spark.stop(); sys.exit(1)
        }
      }
      if (sys.env.contains("EXPLAIN")) println(fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
