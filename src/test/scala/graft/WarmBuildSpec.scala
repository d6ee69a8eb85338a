package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.functions.{col, concat, lit}

import graft.engine.Tables

/** A warm lane call — the second in one session — builds its frame from
  * session memos alone: it starts no Spark job while it builds, and it
  * returns the rows of the first call. The lanes are the benchmark's
  * serving set plus x57, which shares x138's cluster labels.
  */
class WarmBuildSpec extends SparkSpec {

  private val lanes = Seq(
    "q21_self_aliased_dim_join", "q29_sketches", "q72_basket_affinity",
    "x217_ed_clusters", "x43_repetition", "x128_incr_bm25",
    "x138_semdedup_report", "x119_video_decode", "s02_session_windows",
    "x179_topk_rewrite", "x170_vecshard_agg_pushdown",
    "x57_embedding_dup_clusters")

  /** A private copy of the sf0.001 corpus, so rewriting it touches no
    * other suite's memos.
    */
  private lazy val dir: Path = {
    val d = Files.createTempDirectory("graft_warm_build")
    Files.list(Paths.get(Sf)).iterator.asScala.foreach { f =>
      Files.copy(f, d.resolve(f.getFileName))
    }
    sys.addShutdownHook(FileUtils.deleteQuietly(d.toFile): Unit)
    d
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  lanes.foreach { name =>
    test(s"a warm $name call starts no job while it builds and returns the first call's rows") {
      val fn = SparkEntry.queries(name)
      val first = rows(fn(spark, dir.toString))
      val jobs = new JobCounter(spark.sparkContext)
      val (warm, n, _) = try jobs.during(fn(spark, dir.toString)) finally jobs.remove()
      assert(n == 0, s"$name started $n jobs while building its warm frame")
      assert(rows(warm) == first)
    }
  }

  test("a rewritten table opens with its new rows, without a memo reset") {
    val d = dir.toString
    val before = rows(Tables(spark, d, "customer"))
    assert(rows(Tables(spark, d, "customer")) == before)
    val tmp = s"$d/customer_rewrite.parquet"
    Tables(spark, d, "customer")
      .withColumn("c_name", concat(col("c_name"), lit("_v2")))
      .write.parquet(tmp)
    Files.delete(Paths.get(Tables.path(d, "customer")))
    Files.move(Paths.get(tmp), Paths.get(Tables.path(d, "customer")))
    val after = rows(Tables(spark, d, "customer"))
    assert(after.size == before.size)
    assert(after != before)
    assert(after.forall(_.contains("_v2")))
  }
}
