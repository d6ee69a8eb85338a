package graft.ext

import org.apache.spark.sql.functions._

/** Scratch profiler for the x218 fold decomposition (r20 measurement). */
object ProfileEd {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("prof", 32)
    val dir = "/root/testdata/sf0.1"
    val warmDir = graft.Bench.warmDir(dir)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stageMs = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          val i = sc.stageInfo
          (i.completionTime, i.submissionTime) match {
            case (Some(c), Some(s)) =>
              stageMs.addAndGet(c - s)
              if (sys.env.contains("GRAFT_PROF_STAGES")) {
                val m = i.taskMetrics
                println(f"[stage] ${c - s}%5d ms tasks=${i.numTasks}%3d " +
                  f"cpu=${m.executorCpuTime / 1000000L}%6d ms " +
                  f"run=${m.executorRunTime}%6d ms " +
                  f"srRows=${m.shuffleReadMetrics.recordsRead}%9d " +
                  f"swRows=${m.shuffleWriteMetrics.recordsWritten}%9d " +
                  i.name.take(60))
              }
            case _ => ()
          }
        }
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet(): Unit
      })
    def timeIt[T](nm: String)(b: => T): T = {
      val t0 = System.nanoTime(); val s0 = stages.get(); val j0 = jobs.get()
      val m0 = stageMs.get()
      val r = b
      println(f"[prof] $nm%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s" +
        f"  jobs=${jobs.get() - j0}%3d stages=${stages.get() - s0}%3d" +
        f" stage-wall=${(stageMs.get() - m0) / 1e3}%.2f s")
      r
    }
    // generic mode: profile named registered queries (warm at sf0.001,
    // then two timed runs each at sf0.1) instead of the ED fold
    if (args.nonEmpty) {
      args.foreach { nm =>
        val fn = graft.SparkEntry.queries(nm)
        graft.Bench.timeRun(spark, nm, fn, warmDir)
        timeIt(s"$nm run1") { fn(spark, dir).queryExecution.toRdd.count() }
        timeIt(s"$nm run2") { fn(spark, dir).queryExecution.toRdd.count() }
      }
      spark.stop()
      return
    }
    timeIt("warm x218 sf0.001") {
      Linkage.edClustersIncremental(spark, warmDir)
        .queryExecution.toRdd.count()
    }
    timeIt("x218 full") {
      Linkage.edClustersIncremental(spark, dir).queryExecution.toRdd.count()
    }
    val cust = spark.read.parquet(dir + "/customer.parquet")
      .select(col("c_custkey").as("key"), col("c_name").as("nm"))
    var st = Linkage.edStateInit(spark)
    (0 until 3).foreach { i =>
      val b = cust.filter(pmod(col("key"), lit(3L)) === i.toLong)
      if (sys.env.contains("GRAFT_PROF_EXPLAIN") && i == 1)
        println(Linkage.edDelta(st, b, 1, 256).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      st = timeIt(s"fold $i") {
        val r = Linkage.edInsertBatch(st, b); r.queryExecution.toRdd.count(); r
      }
    }
    timeIt("resolve") {
      Linkage.edClustersFromState(st).queryExecution.toRdd.count()
    }
    val (_, rounds) = timeIt("CC alone") {
      val pairs = st.filter(col("kind") === "p").select(col("na"), col("nb"))
      val members = st.filter(col("kind") === "m").select(col("key"), col("nm"))
      val reps = members.groupBy(col("nm")).agg(min(col("key")).as("rep"))
      val edges = pairs
        .join(reps.select(col("nm").as("na"), col("rep").as("doc_a")), Seq("na"))
        .join(reps.select(col("nm").as("nb"), col("rep").as("doc_b")), Seq("nb"))
        .select(col("doc_a"), col("doc_b"))
      Dedup.connectedComponentsWithRounds(edges)
    }
    println(s"[prof] CC rounds: $rounds")
    // state sizes per kind
    st.groupBy(col("kind")).count().collect()
      .foreach(r => println(s"[prof] kind ${r.getString(0)}: ${r.getLong(1)} rows"))
    spark.stop()
  }
}
