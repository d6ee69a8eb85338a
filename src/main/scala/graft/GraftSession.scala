package graft

import org.apache.spark.sql.SparkSession

/** The one session setup of every entry point and spec: one configuration for all numbers. */
object GraftSession {

  /** Core count from `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: Int): Int = sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** The running session if there is one, else a new `local[cpus]` with
    * as many shuffle partitions, UTC, no UI, a temp warehouse
    * `graft_<tag>_wh` (deleted with its contents when the JVM exits) and
    * WARN logging. The codegen cache is sized to the workload (r19): at
    * Spark's default of 100 entries a 300-query suite re-janinos most
    * codegen units on every invocation (x143: 68 KB-scale classes per run;
    * 0-10 at 5000). AQE's coalescing floor stays at Spark's 1MB: r19
    * measured 187.8 s at 64k, 185.9 s at 1m.
    */
  def local(tag: String, cpus: Int): SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .filterNot(_.sparkContext.isStopped)
      .getOrElse(build(tag, cpus))

  private def build(tag: String, cpus: Int): SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory(s"graft_${tag}_wh").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(wh): Unit)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "5000"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", wh.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
