package graft.engine

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.JobCounter
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** The table registry's memoized scans: a warm open plans no query, and a
  * missing table still fails with Spark's own error.
  */
class TablesSpec extends SparkSpec {

  /** The queries `body` reported to the session's execution listeners,
    * and the SQL executions it started.
    */
  private def queriesDuring(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe.analyzed.nodeName): Unit
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(qe.analyzed.nodeName): Unit
    }
    val executions = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => seen.add(x.description): Unit
        case _ =>
      }
    }
    JobCounter.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    spark.sparkContext.addSparkListener(executions)
    try { body; JobCounter.drain(spark.sparkContext) }
    finally {
      spark.listenerManager.unregister(listener)
      spark.sparkContext.removeSparkListener(executions)
    }
    seen.asScala.toSeq
  }

  test("a warm Tables.split call reports no query and returns the same scan") {
    val cold = Tables.split(spark, Sf, "documents")
    var warm: org.apache.spark.sql.DataFrame = null
    val reported = queriesDuring { warm = Tables.split(spark, Sf, "documents") }
    assert(reported.isEmpty, s"warm split reported $reported")
    assert(warm eq cold)
    assert(warm.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism)
  }

  test("a missing table fails with Spark's path-not-found error") {
    val e = intercept[AnalysisException](Tables(spark, Sf, "no_such_table"))
    assert(e.getMessage.contains("no_such_table"))
  }
}
