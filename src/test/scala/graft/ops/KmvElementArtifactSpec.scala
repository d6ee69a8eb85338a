package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.engine.{CorpusArtifact, SessionMemo, VersionedTable}

/** The persisted KMV element artifact (round-19): the (source, md5
  * shingle hash) frame is a pure function of the corpus and the lane's
  * dominant cost, so [[Sketches.ensureKmvElements]] commits it once per
  * corpus fingerprint and every later session reads it back as a
  * parquet scan. Gates mirror SaArtifactSpec: read-back equals the
  * in-session build, consumers resolve the artifact, results are
  * identical through it, and a corpus rewrite invalidates the key.
  */
class KmvElementArtifactSpec extends SparkSpec {

  private def plant(docs: Seq[(Long, String, String)]): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_kmvart").toString
    import spark.implicits._
    docs.toDF("doc_id", "text", "source").write.parquet(s"$tmp/documents.parquet")
    tmp
  }

  private def withArtifactRoot[T](body: => T): T = {
    val prev = sys.props.get("graft.sa.root")
    sys.props("graft.sa.root") =
      java.nio.file.Files.createTempDirectory("graft_kmvroot").toString
    try body
    finally {
      prev match {
        case Some(p) => sys.props("graft.sa.root") = p
        case None => sys.props.remove("graft.sa.root"): Unit
      }
      SessionMemo.reset()
    }
  }

  private def toks(tag: String, n: Int): String =
    (0 until n).map(i => s"$tag$i").mkString(" ")

  private val docs = Seq(
    (1L, s"${toks("a", 6)} shared one two three", "src0"),
    (2L, s"shared one two three ${toks("b", 6)}", "src1"),
    (3L, toks("c", 9), "src0"),
    (4L, toks("d", 7), "src2"))

  test("ensureKmvElements commits once; consumers resolve the artifact; results identical") {
    withArtifactRoot {
      val dir = plant(docs)
      // in-session build first (no artifact yet)
      val built = Sketches.bottomkOverlap(spark, dir, numSources = 3)
        .collect().map(_.toSeq).toSeq
      SessionMemo.reset()
      val v = Sketches.ensureKmvElements(spark, dir, numSources = 3)
      val root = CorpusArtifact.root(spark, dir, "kmvel3")
      assert(VersionedTable.versions(spark, root) == Seq(v))
      // idempotent: a second ensure publishes nothing new
      SessionMemo.reset()
      assert(Sketches.ensureKmvElements(spark, dir, numSources = 3) == v)
      assert(VersionedTable.versions(spark, root) == Seq(v))
      // a cold consumer resolves the ARTIFACT (the element frame it
      // caches scans the artifact root — the overlap result's own
      // lineage is checkpoint-cut, so probe the cached frame)
      SessionMemo.reset()
      Sketches.bottomkOverlap(spark, dir, numSources = 3,
        withAnchor = false).collect(): Unit
      val el = Sketches.elCache.get(spark, (dir, 3)).orNull
      assert(el != null, "cold consumer must populate the element cache")
      val inputs = el.inputFiles.toSeq
      assert(inputs.nonEmpty &&
        inputs.forall(_.contains(new java.io.File(root).getName)),
        s"expected an artifact scan of $root, got inputs:\n${inputs.mkString("\n")}")
      // ...and the audit form is bitwise identical through the artifact
      assert(Sketches.bottomkOverlap(spark, dir, numSources = 3)
        .collect().map(_.toSeq).toSeq == built)
    }
  }

  test("a corpus rewrite invalidates the fingerprint; the old artifact stays readable") {
    withArtifactRoot {
      val dir = plant(docs)
      Sketches.ensureKmvElements(spark, dir, numSources = 3): Unit
      val root1 = CorpusArtifact.root(spark, dir, "kmvel3")
      val el1 = VersionedTable.read(spark, root1).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      import spark.implicits._
      (docs :+ ((5L, toks("e", 8), "src1")))
        .toDF("doc_id", "text", "source").write
        .mode("overwrite").parquet(s"$dir/documents.parquet")
      SessionMemo.reset()
      val root2 = CorpusArtifact.root(spark, dir, "kmvel3")
      assert(root2 != root1, "rewritten corpus must change the artifact root")
      Sketches.ensureKmvElements(spark, dir, numSources = 3): Unit
      val el2 = VersionedTable.read(spark, root2).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(el2 != el1, "new corpus state, new element set")
      // time travel: the superseded state's artifact is intact
      assert(VersionedTable.read(spark, root1).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet == el1)
    }
  }
}
