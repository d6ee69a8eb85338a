package graft
package tools

/** Dev/ops utility: print the banded embedding lane's index-health
  * numbers for an sf dir — corpus size, the adaptive geometry chosen
  * for it, and the DISTINCT exact-verify candidate-pair count of the
  * incremental probe under (a) the historical fixed 256x8 geometry and
  * (b) the scale-adaptive geometry. This is the measurement behind
  * BASELINE.md's candidate-growth table: fixed-width bands grow the
  * verify volume ~n^2/2^(bandBits+1) per band while the adaptive width
  * holds expected bucket occupancy O(1), keeping it ~linear. Usage:
  *   sbt "Test/runMain graft.tools.BandHealth /root/testdata/sf0.1 [histMax]"
  */
object BandHealth {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val histMax = if (args.length > 1) args(1).toInt else 400
    val spark = GraftSession.local("bandhealth", GraftSession.cpus(32))
    import ext.Similarity
    val n = Similarity.embCount(spark, sfDir)
    val (asb, abb) = Similarity.adaptiveGeometry(n)
    def timed(label: String, sb: Int, bb: Int): Unit = {
      val t0 = System.nanoTime()
      val c = Similarity.incrBandedCandidateCount(spark, sfDir, histMax, sb, bb)
      println(f"[$label] sketchBits=$sb bandBits=$bb candidates=$c%,d " +
        f"(${(System.nanoTime() - t0) / 1e9}%.2f s)")
    }
    println(s"[corpus] $sfDir n=$n histMax=$histMax " +
      s"adaptive=(${asb}x$abb, ${asb / abb} bands)")
    timed("fixed", Similarity.WideSrpBits, Similarity.WideBandBits)
    timed("adaptive", asb, abb)
    spark.stop()
  }
}
