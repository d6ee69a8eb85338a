package graft
package tools

import org.apache.spark.graft.JobCounter

/** Dev/ops census: for every `SparkEntry.queries` lane, the Spark jobs
  * started and the seconds spent while a WARM call builds its DataFrame
  * (the second call in one session, after a first call has built and
  * executed it, so every session memo the lane uses is populated). A warm
  * build should start no job: a lane listed under "still starts jobs"
  * does eager work on every call. Lanes run in name order; a lane that
  * throws is reported and skipped. Usage:
  *   sbt "Test/runMain graft.tools.WarmBuildJobs <sfDir> [lane,lane,...]"
  */
object WarmBuildJobs {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: WarmBuildJobs <sfDir> [lane,lane,...]")
    val sfDir = args(0)
    val only = if (args.length > 1) args(1).split(',').toSet else Set.empty[String]
    val spark = GraftSession.local("warmbuild", GraftSession.cpus(4))
    val jobs = new JobCounter(spark.sparkContext)
    val lanes = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
    val rows = lanes.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).queryExecution.toRdd.count()
        val (df, n, secs) = jobs.during(fn(spark, sfDir))
        df.queryExecution.toRdd.count()
        println(f"[warm-build] $name%-40s jobs=$n%3d build=$secs%.3f s")
        Some((name, n, secs))
      } catch { case e: Throwable =>
        println(s"[warm-build] $name FAILED: $e")
        None
      }
    }
    val busy = rows.filter(_._2 > 0)
    println(f"[warm-build] ${rows.size} lanes, ${busy.size} still start jobs " +
      f"(${busy.map(_._2).sum} jobs, ${busy.map(_._3).sum}%.2f s of " +
      f"${rows.map(_._3).sum}%.2f s warm build)")
    busy.sortBy(r => (-r._2, r._1)).foreach { case (name, n, secs) =>
      println(f"[warm-build] still starts jobs: $name%-40s jobs=$n%3d build=$secs%.3f s")
    }
    jobs.remove()
    spark.stop()
  }
}
