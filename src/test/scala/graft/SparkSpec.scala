package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs — `getOrCreate` reuses one session
  * across all suites in the forked test JVM (never stopped; the JVM exit
  * tears it down). `local[4]` with 4 shuffle partitions is plenty at the
  * sf0.001 fixtures all specs use.
  */
trait SparkSpec extends AnyFunSuite {

  // Route every embedded-Derby artifact (derby.log, the metastore_db and
  // in-memory-DB bookkeeping the JDBC specs touch) into a temp dir —
  // otherwise Derby drops them in the process CWD, i.e. the repo root.
  SparkSpec.derbyHome

  /** Smallest driver-generated scale factor — specs verify semantics, not
    * throughput.
    */
  val Sf: String = "/root/testdata/sf0.001"

  // fixed, not SPARK_GRAFT_CPUS, which the test run sets to the host's cores
  lazy val spark: SparkSession = GraftSession.local("spec", 4)
}

object SparkSpec {
  /** Set once per JVM, before any suite loads the Derby driver. */
  lazy val derbyHome: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_derby").toString
    System.setProperty("derby.system.home", dir)
    System.setProperty("derby.stream.error.file", s"$dir/derby.log")
    dir
  }
}
