package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** SnapshotSet: N tables publish as one atomic version set through a
  * manifest commit — a crash between table commits leaves readers on
  * the previous consistent set; replays dedupe; vacuum retires
  * orphans.
  */
class SnapshotSetSpec extends SparkSpec {

  override protected def withFixture(test: NoArgTest): org.scalatest.Outcome =
    try super.withFixture(test)
    finally SnapshotSet.beforeMergeManifestPut = () => ()

  private def tmp() =
    java.nio.file.Files.createTempDirectory("snapset").toString

  test("publish is atomic: a crash between table commits never surfaces") {
    import spark.implicits._
    val root = tmp()
    val dimsV0 = Seq((1L, "a")).toDF("k", "v")
    val factV0 = Seq((1L, 10L)).toDF("k", "n")
    val s0 = SnapshotSet.publish(spark, root,
      Map("dim" -> dimsV0, "fact" -> factV0))
    // crashed second publish: dim committed, fact (and manifest) never
    VersionedTable.commit(Seq((1L, "a2")).toDF("k", "v"), s"$root/tables/dim")
    // set readers still serve the s0 pair
    assert(SnapshotSet.latestSet(spark, root) === Some(s0))
    assert(SnapshotSet.readTable(spark, root, "dim")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet === Set((1L, "a")))
    assert(SnapshotSet.readTable(spark, root, "fact")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 10L)))
    // the next successful publish supersedes the orphan
    val s1 = SnapshotSet.publish(spark, root,
      Map("dim" -> Seq((1L, "a3")).toDF("k", "v"),
        "fact" -> Seq((1L, 30L)).toDF("k", "n")))
    assert(SnapshotSet.readTable(spark, root, "dim")
      .collect().map(_.getString(1)).toSet === Set("a3"))
    // time travel: the OLD set stays readable as a pair
    assert(SnapshotSet.readTable(spark, root, "dim", Some(s0))
      .collect().map(_.getString(1)).toSet === Set("a"))
    assert(SnapshotSet.readTable(spark, root, "fact", Some(s0))
      .collect().map(_.getLong(1)).toSet === Set(10L))
    assert(s1 > s0)
  }

  test("publish whose table fails at execution leaves the previous set served") {
    import spark.implicits._
    val root = tmp()
    val s0 = SnapshotSet.publish(spark, root,
      Map("dim" -> Seq((1L, "a")).toDF("k", "v"),
        "fact" -> Seq((1L, 10L)).toDF("k", "n")))
    val e = intercept[Exception](SnapshotSet.publish(spark, root,
      Map("dim" -> Seq((1L, "a2")).toDF("k", "v"),
        "fact" -> spark.range(3).select(col("id").as("k"),
          raise_error(lit("fact rebuild broken")).cast("long").as("n")))))
    assert(e.getMessage.contains("fact rebuild broken"))
    // the sibling's table commit may have landed; no manifest names it
    assert(SnapshotSet.latestSet(spark, root) === Some(s0))
    assert(SnapshotSet.readTable(spark, root, "dim")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet === Set((1L, "a")))
    assert(SnapshotSet.readTable(spark, root, "fact")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 10L)))
  }

  test("publishIfAbsent: replayed set ids are skipped commits") {
    import spark.implicits._
    val root = tmp()
    val t = Map("only" -> Seq((1L, "x")).toDF("k", "v"))
    assert(SnapshotSet.publishIfAbsent(spark, root, t, setId = 7L))
    assert(!SnapshotSet.publishIfAbsent(spark, root,
      Map("only" -> Seq((1L, "SHOULD_NOT_WIN")).toDF("k", "v")), setId = 7L))
    assert(SnapshotSet.readTable(spark, root, "only")
      .collect().map(_.getString(1)).toSet === Set("x"))
    assert(SnapshotSet.setVersions(spark, root) === Seq(7L))
  }

  test("vacuumSet retires unreachable manifests, table versions and orphans") {
    import spark.implicits._
    val root = tmp()
    (0 until 3).foreach { i =>
      SnapshotSet.publish(spark, root,
        Map("t" -> Seq((i.toLong, s"v$i")).toDF("k", "v")))
    }
    // plus one orphan (crashed publish)
    VersionedTable.commit(Seq((9L, "orphan")).toDF("k", "v"), s"$root/tables/t")
    val (mDropped, tDropped) =
      SnapshotSet.vacuumSet(spark, root, keepLast = 1, graceMillis = 0L)
    assert(mDropped.size === 2)
    assert(tDropped("t").size === 3) // two superseded + one orphan
    assert(SnapshotSet.readTable(spark, root, "t")
      .collect().map(_.getString(1)).toSet === Set("v2"))
  }

  test("vacuumSet grace window protects an in-flight publish's table versions") {
    import spark.implicits._
    val root = tmp()
    SnapshotSet.publish(spark, root,
      Map("t" -> Seq((1L, "v0")).toDF("k", "v")))
    // an in-flight publish: table version committed seconds ago, its
    // manifest commit not yet landed — the default grace window must
    // leave it alone so the writer's later manifest can still serve it
    val inflight = VersionedTable.commit(
      Seq((2L, "inflight")).toDF("k", "v"), s"$root/tables/t")
    val (_, tDropped) = SnapshotSet.vacuumSet(spark, root, keepLast = 1)
    assert(tDropped("t").isEmpty,
      "fresh unreferenced versions must survive the grace window")
    assert(VersionedTable.versions(spark, s"$root/tables/t").contains(inflight))
    // the writer completes: its manifest commit publishes the set
    SnapshotSet.publish(spark, root,
      Map("t" -> Seq((3L, "v1")).toDF("k", "v")))
    // past the grace window the orphan IS collected
    val (_, tDropped2) =
      SnapshotSet.vacuumSet(spark, root, keepLast = 1, graceMillis = 0L)
    assert(tDropped2("t").contains(inflight))
  }

  test("vacuumSet sweeps table roots dropped from every kept manifest") {
    import spark.implicits._
    val root = tmp()
    SnapshotSet.publish(spark, root, Map(
      "keepme" -> Seq((1L, "a")).toDF("k", "v"),
      "dropme" -> Seq((1L, "b")).toDF("k", "v")))
    // the next set no longer carries dropme — its versions are now
    // unreachable once the old manifest is vacuumed
    SnapshotSet.publish(spark, root,
      Map("keepme" -> Seq((2L, "a2")).toDF("k", "v")))
    val (_, tDropped) =
      SnapshotSet.vacuumSet(spark, root, keepLast = 1, graceMillis = 0L)
    assert(tDropped("dropme").nonEmpty,
      "retired tables must not leak versions forever")
    assert(VersionedTable.versions(spark, s"$root/tables/dropme").isEmpty)
    assert(SnapshotSet.readTable(spark, root, "keepme")
      .collect().map(_.getString(1)).toSet === Set("a2"))
  }

  test("deleteWhere forks one table, re-references the rest, keeps old sets readable") {
    import spark.implicits._
    val root = tmp()
    val s0 = SnapshotSet.publish(spark, root, Map(
      "users" -> Seq((1L, "keep"), (2L, "forget")).toDF("k", "v"),
      "facts" -> Seq((1L, 10L), (2L, 20L)).toDF("k", "n")))
    val s1 = SnapshotSet.deleteWhere(spark, root, "users", col("v") === "forget")
    assert(s1 > s0)
    // new set: the row is gone from users, facts untouched AND not rewritten
    assert(SnapshotSet.readTable(spark, root, "users")
      .collect().map(_.getString(1)).toSet === Set("keep"))
    assert(SnapshotSet.manifest(spark, root)("facts") ===
      SnapshotSet.manifest(spark, root, Some(s0))("facts"),
      "untouched tables must be re-referenced, not rewritten")
    // the pre-delete set stays readable until vacuumed
    assert(SnapshotSet.readTable(spark, root, "users", Some(s0)).count() === 2L)
    SnapshotSet.vacuumSet(spark, root, keepLast = 1, graceMillis = 0L)
    intercept[IllegalArgumentException] {
      SnapshotSet.readTable(spark, root, "users", Some(s0)).count()
    }
  }

  test("deleteWhere retains rows where the predicate is NULL (3VL)") {
    import spark.implicits._
    val root = tmp()
    SnapshotSet.publish(spark, root, Map(
      "users" -> Seq((1L, Some("x@y")), (2L, Option.empty[String]),
        (3L, Some("keep@z"))).toDF("k", "email")))
    // forget k=1 by email; user 2 has NO email — col === "x@y" is NULL
    // there, and a naive filter(!pred) would delete them too
    SnapshotSet.deleteWhere(spark, root, "users", col("email") === "x@y")
    assert(SnapshotSet.readTable(spark, root, "users")
      .collect().map(_.getLong(0)).toSet === Set(2L, 3L),
      "NULL-predicate rows must be retained by a targeted delete")
    // same contract on the single-table API
    val root2 = tmp()
    VersionedTable.commit(Seq((1L, Some("x@y")), (2L, Option.empty[String]))
      .toDF("k", "email"), root2)
    VersionedTable.deleteWhere(spark, root2, col("email") === "x@y")
    assert(VersionedTable.read(spark, root2)
      .collect().map(_.getLong(0)).toSet === Set(2L))
  }

  test("publishMerged re-references untouched tables at their current versions") {
    import spark.implicits._
    val root = tmp()
    SnapshotSet.publish(spark, root, Map(
      "dim" -> Seq((1L, "a")).toDF("k", "v"),
      "fact" -> Seq((1L, 10L)).toDF("k", "n")))
    val s1 = SnapshotSet.publishMerged(spark, root,
      Map("fact" -> Seq((1L, 20L)).toDF("k", "n")))
    val m = SnapshotSet.manifest(spark, root, Some(s1))
    assert(m.keySet === Set("dim", "fact"),
      "the merged manifest must keep the untouched table")
    assert(SnapshotSet.readTable(spark, root, "dim", Some(s1))
      .collect().map(_.getString(1)).toSet === Set("a"),
      "the untouched table must serve its prior version, not vanish")
    assert(SnapshotSet.readTable(spark, root, "fact", Some(s1))
      .collect().map(_.getLong(1)).toSet === Set(20L))
    // a merged publish into an EMPTY set is just a publish
    val root2 = tmp()
    val s0 = SnapshotSet.publishMerged(spark, root2,
      Map("solo" -> Seq((1L, "x")).toDF("k", "v")))
    assert(SnapshotSet.manifest(spark, root2, Some(s0)).keySet === Set("solo"))
  }

  test("concurrent disjoint merge-publishers: both writers' tables visible") {
    import spark.implicits._
    val root = tmp()
    SnapshotSet.publish(spark, root, Map(
      "a" -> Seq((0L, "base")).toDF("k", "v"),
      "b" -> Seq((0L, "base")).toDF("k", "v")))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val fs = Seq("a", "b").map { t =>
        scala.concurrent.Future {
          SnapshotSet.publishMerged(spark, root,
            Map(t -> Seq((1L, s"new-$t")).toDF("k", "v")))
        }
      }
      val got = fs.map(f => scala.concurrent.Await.result(
        f, scala.concurrent.duration.Duration.Inf)).sorted
      assert(got.distinct.size === 2, "both merge-publishes must win a set")
      // the LATEST set sees BOTH writers' updates — the exact scenario
      // where publish() would last-manifest-win one of them away
      val latest = SnapshotSet.latestSet(spark, root).get
      assert(latest === got.max)
      Seq("a", "b").foreach { t =>
        assert(SnapshotSet.readTable(spark, root, t, Some(latest))
          .collect().map(_.getString(1)).toSet === Set(s"new-$t"),
          s"writer $t's update must survive the concurrent merge")
      }
    } finally pool.shutdown()
  }

  test("OVERLAPPING merge-publishers conflict: one winner, a loud loser") {
    import spark.implicits._
    val root = tmp()
    SnapshotSet.publish(spark, root,
      Map("t" -> Seq((0L, "base")).toDF("k", "v")))
    // writer A reads the set and commits its table payload; inside its
    // race window writer B fully publishes the SAME table — silently
    // retry-merging A's stale snapshot over B's would be lost-update
    SnapshotSet.beforeMergeManifestPut = () => {
      SnapshotSet.beforeMergeManifestPut = () => () // B runs un-hooked
      SnapshotSet.publishMerged(spark, root,
        Map("t" -> Seq((1L, "writer-B")).toDF("k", "v"))): Unit
    }
    val boom = intercept[java.util.ConcurrentModificationException] {
      SnapshotSet.publishMerged(spark, root,
        Map("t" -> Seq((1L, "writer-A")).toDF("k", "v")))
    }
    assert(boom.getMessage.contains("t"),
      s"the conflict must name the table, got: ${boom.getMessage}")
    assert(boom.getMessage.contains("changed since read"))
    // exactly one winner: B's update serves, A's never entered a manifest
    val latest = SnapshotSet.latestSet(spark, root).get
    assert(SnapshotSet.readTable(spark, root, "t", Some(latest))
      .collect().map(_.getString(1)).toSet === Set("writer-B"))
    // no false positive: a SEQUENTIAL same-table merge-publish (reads
    // the post-B manifest) must still succeed
    val s2 = SnapshotSet.publishMerged(spark, root,
      Map("t" -> Seq((2L, "writer-C")).toDF("k", "v")))
    assert(SnapshotSet.readTable(spark, root, "t", Some(s2))
      .collect().map(_.getString(1)).toSet === Set("writer-C"))
  }

  test("publishMerged validates against the CALLER's read set, not capture-at-entry") {
    import spark.implicits._
    val root = tmp()
    SnapshotSet.publish(spark, root, Map(
      "a" -> Seq((1L, "a0")).toDF("k", "v"), "b" -> Seq((1L, "b0")).toDF("k", "v")))
    // the caller reads its input data at set 0 and remembers the manifest
    val readSet = SnapshotSet.manifest(spark, root)
    // a concurrent writer republishes table a BEFORE our publishMerged
    // even starts — capture-at-entry cannot see this window
    SnapshotSet.publishMerged(spark, root,
      Map("a" -> Seq((1L, "a1-concurrent")).toDF("k", "v")))
    // the stale writer merges its set-0-derived snapshot of a: with the
    // explicit read set the lost update is DETECTED
    intercept[java.util.ConcurrentModificationException] {
      SnapshotSet.publishMerged(spark, root,
        Map("a" -> Seq((1L, "a1-stale")).toDF("k", "v")), readSet)
    }
    // the concurrent winner's update survives
    assert(SnapshotSet.readTable(spark, root, "a")
      .select("v").head().getString(0) === "a1-concurrent")
  }

  test("a conflicted merge-publish retires its orphan table versions") {
    import spark.implicits._
    val root = tmp()
    SnapshotSet.publish(spark, root, Map(
      "a" -> Seq((1L, "a0")).toDF("k", "v"), "b" -> Seq((1L, "b0")).toDF("k", "v")))
    val readSet = SnapshotSet.manifest(spark, root)
    SnapshotSet.publishMerged(spark, root,
      Map("a" -> Seq((1L, "a1")).toDF("k", "v")))
    val beforeLoss = VersionedTable.versions(spark, s"$root/tables/a")
    intercept[java.util.ConcurrentModificationException] {
      SnapshotSet.publishMerged(spark, root,
        Map("a" -> Seq((1L, "a1-stale")).toDF("k", "v")), readSet)
    }
    // the loser's just-committed version must NOT linger as a
    // committed-but-unreferenced orphan visible to direct latest()
    // readers of the table root
    assert(VersionedTable.versions(spark, s"$root/tables/a") === beforeLoss,
      "the conflicted writer's table version must be dropped on the loser path")
    assert(SnapshotSet.readTable(spark, root, "a")
      .select("v").head().getString(0) === "a1")
  }

  test("racing publishes serialize: both sets commit, each internally consistent") {
    import spark.implicits._
    val root = tmp()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val fs = (1 to 2).map { w =>
        scala.concurrent.Future {
          SnapshotSet.publish(spark, root, Map(
            "dim" -> Seq((w.toLong, s"w$w")).toDF("k", "v"),
            "fact" -> Seq((w.toLong, w * 10L)).toDF("k", "n")))
        }
      }
      val got = fs.map(f => scala.concurrent.Await.result(
        f, scala.concurrent.duration.Duration.Inf)).sorted
      // both publishes won distinct manifest versions
      assert(got.distinct.size === 2)
      assert(SnapshotSet.setVersions(spark, root).toSet === got.toSet)
      // every committed set is internally consistent: dim and fact
      // carry the SAME writer's rows (no cross-writer mixing)
      got.foreach { v =>
        val d = SnapshotSet.readTable(spark, root, "dim", Some(v))
          .collect().map(_.getLong(0)).toSet
        val f = SnapshotSet.readTable(spark, root, "fact", Some(v))
          .collect().map(_.getLong(0)).toSet
        assert(d === f, s"set $v mixes writers: dim=$d fact=$f")
      }
    } finally pool.shutdown()
  }

  test("transformAtomic publishes the 8 star tables as one set") {
    val wh = tmp()
    val fixture = graft.flights.Fixtures.stg(spark)
    graft.flights.Pipeline.runFor(spark, fixture, wh, "ignored",
      graft.flights.PipelineConfig(incremental = false))
    val v = graft.flights.Pipeline.transformAtomic(spark, wh)
    assert(v.nonEmpty)
    val m = SnapshotSet.manifest(spark, s"$wh/star")
    assert(m.keySet === graft.flights.StarSchema.transforms.map(_._1).toSet)
    // the set read matches the truncate-load transform outputs
    graft.flights.StarSchema.transforms.foreach { case (name, _) =>
      val viaSet = SnapshotSet.readTable(spark, s"$wh/star", name).count()
      val viaLoad = spark.read.parquet(s"$wh/$name").count()
      assert(viaSet === viaLoad, s"$name: set read diverges from load")
    }
  }
}
