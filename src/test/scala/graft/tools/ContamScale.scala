package graft
package tools

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Scale probe for the SELF-COMPACTING streaming contamination lane
  * (the 10x record the round brief asks for): feeds the 10x corpus's
  * train documents through `streamingGramIngestCompacting` in N
  * micro-batches, printing per-batch wall, the live-version/horizon
  * state (compaction interaction), and the lane's on-disk footprint —
  * then hash-verifies merge-equals-rebuild: the standing gram set must
  * equal the whole-corpus one-shot build (count + sum + bit-xor over
  * the 60-bit gram hashes).
  *
  * Usage: sbt "Test/runMain graft.tools.ContamScale [sfDir] [batches] [maxLiveVersions]"
  */
object ContamScale {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/tmp/sf10x/sf1"
    val batches = if (args.length > 1) args(1).toInt else 6
    val maxLive = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession.local("contamscale", GraftSession.cpus(32))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val dirs = java.nio.file.Files.createTempDirectory("graft_contamscale").toString
    val root = s"$dirs/grams"
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def rootBytes(): Long = {
      val p = new Path(root)
      if (!fs.exists(p)) 0L
      else {
        val it = fs.listFiles(p, true)
        var b = 0L
        while (it.hasNext) b += it.next().getLen
        b
      }
    }

    val trainDf = engine.Tables.split(spark, sfDir, "documents")
      .filter(col("source") =!= "src19")
      .select(col("doc_id"), col("text"))
    val nTrain = trainDf.count()
    println(s"[corpus] $sfDir train docs=$nTrain " +
      s"batches=$batches maxLiveVersions=$maxLive")

    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = streaming.ContaminationIngest.streamingGramIngestCompacting(
      in.toDF().toDF("doc_id", "text"), root, s"$dirs/ckpt", maxLive)
    val t00 = System.nanoTime()
    try {
      // Driver heap stays O(batch), never O(corpus): the train corpus
      // streams through toLocalIterator (one scan partition resident at
      // a time) and feeds the MemoryStream in perBatch-sized slices —
      // the r16 whole-corpus collect() was a driver-heap term
      // proportional to the 100x corpus.
      val perBatch = math.max(1L, (nTrain + batches - 1) / batches).toInt
      import scala.jdk.CollectionConverters._
      trainDf.toLocalIterator().asScala
        .map(r => (r.getLong(0), r.getString(1)))
        .grouped(perBatch).zipWithIndex.foreach { case (b, i) =>
          val t0 = System.nanoTime()
          in.addData(b: _*); q.processAllAvailable()
          val dt = (System.nanoTime() - t0) / 1e9
          val h = streaming.SnapshotIngest.horizon(spark, root)
          val live = streaming.SnapshotIngest.liveVersions(spark, root)
          println(f"[batch $i] docs=${b.length}%,d wall=$dt%.2f s " +
            f"horizon=${h.getOrElse(-1L)} live=${live.size} bytes=${rootBytes()}%,d")
        }
      val ingestWall = (System.nanoTime() - t00) / 1e9

      def sig(df: org.apache.spark.sql.DataFrame): (Long, String, Long) = {
        // decimal sum: overflow-proof under ANSI mode at any gram count
        val r = df.agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")),
          expr("bit_xor(h)")).head()
        (r.getLong(0), r.getDecimal(1).toPlainString, r.getLong(2))
      }
      val standing = sig(
        streaming.ContaminationIngest.standingGrams(spark, root))
      val rebuild = sig(ext.Dedup.corpusGrams(
        engine.Tables.split(spark, sfDir, "documents")
          .filter(col("source") =!= "src19").select(col("doc_id"), col("text")),
        streaming.ContaminationIngest.GramN))
      println(f"[standing] grams=${standing._1}%,d sum=${standing._2} xor=${standing._3}")
      println(f"[rebuild ] grams=${rebuild._1}%,d sum=${rebuild._2} xor=${rebuild._3}")
      println(s"[merge-equals-rebuild] ${if (standing == rebuild) "VERIFIED" else "MISMATCH"}")
      println(f"[throughput] ${standing._1 / ingestWall}%,.0f distinct grams/s " +
        f"end-to-end (ingest wall $ingestWall%.1f s, final footprint ${rootBytes()}%,d bytes)")
      if (standing != rebuild) sys.exit(1)
    } finally q.stop()
    spark.stop()
  }
}
