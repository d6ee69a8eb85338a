package graft.flights

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{lit, raise_error}

import graft.SparkSpec
import graft.engine.Incremental.{Loaded, SkippedEmpty}
import graft.engine.Reliability

/** End-to-end pipeline contract (SURVEY.md §5.5-5.6): a 3-day backfill
  * over the fixtures must reconstruct exactly the star schema computed
  * directly from the full staging layer (proves the closed day windows
  * partition the data with boundary rows included), re-running a day must
  * be a byte-level no-op (S6 idempotency), and empty increments must skip
  * without touching earlier loads (P3/O4).
  */
class PipelineSpec extends SparkSpec {

  private val Days = Seq("2024-06-10", "2024-06-11", "2024-06-12")

  private def tmpDir(): String =
    Files.createTempDirectory("graft_pipeline").toString

  private def canon(df: DataFrame): Seq[Seq[String]] =
    df.collect().toSeq
      .map(r => (0 until r.length).map(i => String.valueOf(r.get(i))))
      .sortBy(_.mkString("|"))

  test("3-day backfill reproduces the full-load star schema exactly") {
    val wh = tmpDir()
    val src = Fixtures.stg(spark)
    Pipeline.backfill(spark, src, wh, Days)
    StarSchema.transforms.foreach { case (name, fn) =>
      val incremental = canon(spark.read.parquet(s"$wh/$name"))
      val direct = canon(fn(src))
      assert(incremental == direct, s"$name differs between backfill and direct transform")
    }
  }

  test("re-running the same ds is idempotent byte-for-byte") {
    val wh = tmpDir()
    val src = Fixtures.stg(spark)
    Pipeline.backfill(spark, src, wh, Days)
    val before = Pipeline.FkOrder.map(t => t -> canon(spark.read.parquet(s"$wh/stg/$t"))).toMap
    Pipeline.runFor(spark, src, wh, "2024-06-11")
    Pipeline.FkOrder.foreach { t =>
      assert(canon(spark.read.parquet(s"$wh/stg/$t")) == before(t),
        s"stg/$t changed after re-running a day")
    }
  }

  test("empty increments skip and leave prior days untouched") {
    val wh = tmpDir()
    val src = Fixtures.stg(spark)
    Pipeline.runFor(spark, src, wh, "2024-06-10")
    val seatsAfterD1 = canon(spark.read.parquet(s"$wh/stg/seats"))
    // 2024-06-11 has no aircrafts_data or seats rows in the fixtures
    val r = Pipeline.runFor(spark, src, wh, "2024-06-11")
    assert(r("aircrafts_data") == SkippedEmpty && r("seats") == SkippedEmpty)
    assert(r("flights").isInstanceOf[Loaded])
    assert(canon(spark.read.parquet(s"$wh/stg/seats")) == seatsAfterD1)
  }

  test("full truncate-load (non-incremental) equals the source") {
    val wh = tmpDir()
    val src = Fixtures.stg(spark)
    val r = Pipeline.runFor(spark, src, wh, "ignored",
      PipelineConfig(incremental = false))
    assert(r.values.forall(_.isInstanceOf[Loaded]))
    Pipeline.FkOrder.foreach { t =>
      assert(canon(spark.read.parquet(s"$wh/stg/$t")) == canon(src(t)), s"stg/$t != source")
    }
  }

  test("parallel backfill equals sequential backfill on the 3-day fixture") {
    val whSeq = tmpDir()
    val whPar = tmpDir()
    val src = Fixtures.stg(spark)
    val seqResults = Pipeline.backfill(spark, src, whSeq, Days)
    val parResults = Pipeline.backfillParallel(spark, src, whPar, Days, parallelism = 3)
    assert(parResults == seqResults, "per-(day, table) load statuses must agree")
    // staging layout (including the p_date partition values) and every
    // star table must be identical between the two drivers
    (Pipeline.FkOrder.map(t => s"stg/$t") ++ StarSchema.transforms.map(_._1)).foreach { t =>
      assert(canon(spark.read.parquet(s"$whPar/$t")) == canon(spark.read.parquet(s"$whSeq/$t")),
        s"$t differs between parallel and sequential backfill")
    }
    // and replaying one day on the parallel layout stays idempotent
    Pipeline.backfillParallel(spark, src, whPar, Seq(Days(1)), parallelism = 2)
    Pipeline.FkOrder.foreach { t =>
      assert(canon(spark.read.parquet(s"$whPar/stg/$t"))
        == canon(spark.read.parquet(s"$whSeq/stg/$t")),
        s"stg/$t changed after a parallel replay of one day")
    }
  }

  test("the CSV edge changes nothing (round-trip under declared schemas)") {
    val whDirect = tmpDir()
    val whCsv = tmpDir()
    val src = Fixtures.stg(spark)
    val direct = Pipeline.backfill(spark, src, whDirect, Days)
    val csv = Pipeline.backfill(spark, src, whCsv, Days, PipelineConfig(csvEdge = true))
    // the row counts the CSV path observes on its writes, and its
    // empty-increment skips (aircrafts_data, seats on 2024-06-11), match
    // the direct path's counts of the extract
    assert(csv == direct, "per-(day, table) load statuses must agree")
    assert(csv("2024-06-11")("aircrafts_data") == SkippedEmpty &&
      csv("2024-06-11")("seats") == SkippedEmpty)
    (Pipeline.FkOrder.map(t => s"stg/$t") ++ StarSchema.transforms.map(_._1)).foreach { t =>
      assert(canon(spark.read.parquet(s"$whCsv/$t")) == canon(spark.read.parquet(s"$whDirect/$t")),
        s"$t differs when routed through the CSV edge")
    }
  }

  test("a table failing every attempt fails the run once, after its siblings load") {
    val src = Fixtures.stg(spark)
    val broken = src.updated("flights",
      src("flights").filter(raise_error(lit("flights extract broken")).isNull))
    val clean = tmpDir()
    Pipeline.runFor(spark, src, clean, Days.head)
    Seq(false, true).foreach { csvEdge =>
      val wh = tmpDir()
      val alerts = new java.util.concurrent.ConcurrentLinkedQueue[Reliability.Attempt]()
      val cfg = PipelineConfig(csvEdge = csvEdge, loadAttempts = 2, onFailure = alerts.add(_))
      val e = intercept[Exception](Pipeline.runFor(spark, broken, wh, Days.head, cfg))
      assert(e.getMessage.contains("flights extract broken"), s"csvEdge=$csvEdge")
      // the on_failure_callback analog fires once, for the broken table,
      // after its last attempt
      assert(alerts.size == 1, s"csvEdge=$csvEdge")
      assert(alerts.peek().task == "load:flights" && alerts.peek().attempt == 2,
        s"csvEdge=$csvEdge")
      Pipeline.FkOrder.filterNot(_ == "flights").foreach { t =>
        assert(canon(spark.read.parquet(s"$wh/stg/$t")) == canon(spark.read.parquet(s"$clean/stg/$t")),
          s"stg/$t did not land beside the failed table (csvEdge=$csvEdge)")
      }
    }
  }

  private def staging(wh: String): Map[String, DataFrame] =
    Pipeline.FkOrder.map(t => t -> spark.read.parquet(s"$wh/stg/$t")).toMap

  /** Every star table of the set published under `wh` equals the 8
    * transforms rebuilt from the staging `wh` holds now.
    */
  private def assertPublishedIsRebuild(wh: String): Unit = {
    val stg = staging(wh)
    StarSchema.transforms.foreach { case (name, fn) =>
      assert(canon(graft.engine.SnapshotSet.readTable(spark, s"$wh/star", name)) == canon(fn(stg)),
        s"published $name differs from a rebuild")
    }
  }

  test("transformAtomic after runFor commits the transform's outputs, equal to a rebuild") {
    val wh = tmpDir()
    Pipeline.backfill(spark, Fixtures.stg(spark), wh, Days)
    assert(Pipeline.transformIsCurrent(spark, wh))
    assert(Pipeline.transformAtomic(spark, wh).isDefined)
    assertPublishedIsRebuild(wh)
  }

  test("a staging write after transform makes transformAtomic rebuild") {
    val wh = tmpDir()
    val src = Fixtures.stg(spark)
    Pipeline.runFor(spark, src, wh, Days.head)
    val built = canon(spark.read.parquet(s"$wh/dim_airport"))
    // the next day's airports land in staging with no transform after them
    graft.engine.Sinks.overwriteDayPartitions(
      graft.engine.Incremental.dayWindow(src("airports_data"), "updated_at", Days(1)),
      "updated_at", s"$wh/stg/airports_data")
    assert(!Pipeline.transformIsCurrent(spark, wh))
    Pipeline.transformAtomic(spark, wh)
    assertPublishedIsRebuild(wh)
    assert(canon(graft.engine.SnapshotSet.readTable(spark, s"$wh/star", "dim_airport")) != built,
      "the day-2 airports should reach the published dim")
  }

  test("a changed star table makes transformAtomic rebuild") {
    val wh = tmpDir()
    Pipeline.runFor(spark, Fixtures.stg(spark), wh, Days.head)
    val airports = spark.read.parquet(s"$wh/dim_airport")
    val tampered = airports.limit(1).collect()
    spark.createDataFrame(java.util.Arrays.asList(tampered: _*), airports.schema)
      .write.mode("overwrite").parquet(s"$wh/dim_airport")
    assert(!Pipeline.transformIsCurrent(spark, wh))
    Pipeline.transformAtomic(spark, wh)
    assertPublishedIsRebuild(wh)
  }
}
