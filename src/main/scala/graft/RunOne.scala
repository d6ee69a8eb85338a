package graft
import org.apache.spark.sql.SparkSession

/** Dev utility: run a single registered query by name against an sf dir,
  * print wall time (after a warm run at sf0.001) and, with EXPLAIN=1, the
  * formatted physical plan. Usage:
  *   sbt "runMain graft.RunOne x58_simhash_neardup /root/testdata/sf0.1"
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val warmDir = {
      val p = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.001")
      if (java.nio.file.Files.isDirectory(p)) p.toString else sfDir
    }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // same workload-sized codegen cache + AQE coalescing floor as
      // Bench (see the rationale there) so RunOne numbers stay
      // comparable to the suite's
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "5000"))
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION", "1m"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_runone_wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // same amortized setup as Bench so per-query numbers here are the
    // same steady state the suite measures
    try Bench.ensureArtifacts(spark, Seq(warmDir, sfDir))
    catch { case _: Throwable => () }
    // a comma list shares one session across queries (JVM+codegen
    // startup would otherwise dominate a multi-query measurement loop)
    name.split(",").foreach { nm =>
      val fn = SparkEntry.queries(nm)
      try fn(spark, warmDir).queryExecution.toRdd.count() catch { case _: Throwable => () }
      val reps = sys.env.getOrElse("REPS", "3").toInt
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).queryExecution.toRdd.count()
        println(f"[$nm] run $i: ${(System.nanoTime() - t0) / 1e9}%.3f s ($n rows)")
      }
      if (sys.env.contains("EXPLAIN")) println(fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
