package graft.ext

import graft.SparkSpec
import graft.engine.{SessionMemo, VersionedTable}

/** The persisted suffix-array artifact (round-17 scale fix): the SA cold
  * build is the suite's one super-linear term, so [[SuffixDedup.ensureSa]]
  * commits (doc_id, pos, sa) once per CORPUS FINGERPRINT to a
  * VersionedTable and every later consumer — in this process or another —
  * reads it back as a parquet scan. Gates: read-back is bitwise equal to
  * the in-session build, repeat ensure calls are no-ops, consumers
  * actually resolve the artifact (no rebuild), a corpus rewrite
  * invalidates the fingerprint, and the superseded corpus state's
  * artifact stays readable (time travel with the corpus snapshot).
  */
class SaArtifactSpec extends SparkSpec {

  private def plant(docs: Seq[(Long, String)]): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_saart").toString
    import spark.implicits._
    docs.toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
    tmp
  }

  /** Run `body` with the artifact store rooted in a fresh temp dir, so
    * suites never see each other's (or a bench run's) artifacts.
    */
  private def withSaRoot[T](body: => T): T = {
    val prev = sys.props.get("graft.sa.root")
    sys.props("graft.sa.root") =
      java.nio.file.Files.createTempDirectory("graft_saroot").toString
    try body
    finally {
      prev match {
        case Some(p) => sys.props("graft.sa.root") = p
        case None => sys.props.remove("graft.sa.root"): Unit
      }
      SessionMemo.reset()
    }
  }

  private val docs = Seq(
    (1L, "a b c d e f g h i j"),
    (2L, "p q c d e f g h i r"),
    (3L, "a b c d e f g h i j"), // full cross-doc duplicate: rank ties
    (4L, "z z z y"))

  private def saRows(dir: String): Seq[(Long, Long, Long)] =
    SuffixDedup.suffixArrayDump(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("ensureSa commits once; read-back bitwise equals the in-session build") {
    withSaRoot {
      val dir = plant(docs)
      // in-session build first (no artifact yet — suffixArray must build)
      val built = saRows(dir)
      SessionMemo.reset()
      val v = SuffixDedup.ensureSa(spark, dir)
      val root = SuffixDedup.saArtifactRoot(spark, dir)
      assert(VersionedTable.versions(spark, root) == Seq(v))
      // a consumer with cold session caches resolves the ARTIFACT: its
      // plan scans the artifact root, not a rebuild of the token frame
      SessionMemo.reset()
      val dump = SuffixDedup.suffixArrayDump(spark, dir)
      val inputs = dump.inputFiles.toSeq
      assert(inputs.nonEmpty && inputs.forall(_.contains(
          new java.io.File(root).getName)),
        s"expected an artifact scan of $root, got inputs:\n${inputs.mkString("\n")}")
      assert(dump.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq == built, "artifact read-back must bitwise equal the build")
      // idempotent: a second ensure (fresh caches) publishes nothing new
      SessionMemo.reset()
      assert(SuffixDedup.ensureSa(spark, dir) == v)
      assert(VersionedTable.versions(spark, root) == Seq(v))
    }
  }

  test("downstream spans/scrub are identical through the artifact") {
    withSaRoot {
      val dir = plant(docs)
      val spansBuilt = SuffixDedup.exactSubstrSpans(spark, dir, L = 4)
        .collect().map(_.toSeq).toSeq
      val scrubBuilt = SuffixDedup.exactSubstrScrub(spark, dir, L = 4)
        .collect().map(_.toSeq).toSeq
      SessionMemo.reset()
      SuffixDedup.ensureSa(spark, dir): Unit
      assert(SuffixDedup.exactSubstrSpans(spark, dir, L = 4)
        .collect().map(_.toSeq).toSeq == spansBuilt)
      assert(SuffixDedup.exactSubstrScrub(spark, dir, L = 4)
        .collect().map(_.toSeq).toSeq == scrubBuilt)
    }
  }

  test("a corpus rewrite invalidates the fingerprint; the old artifact stays readable") {
    withSaRoot {
      val dir = plant(docs)
      val fp1 = SuffixDedup.corpusFingerprint(spark, dir)
      val root1 = SuffixDedup.saArtifactRoot(spark, dir)
      SuffixDedup.ensureSa(spark, dir): Unit
      val sa1 = saRows(dir)
      // rewrite the corpus in place (new files, new lengths, new mtimes)
      import spark.implicits._
      val docs2 = docs.take(2) :+ ((5L, "m n o p"))
      docs2.toDF("doc_id", "text").write
        .mode("overwrite").parquet(s"$dir/documents.parquet")
      SessionMemo.reset()
      val fp2 = SuffixDedup.corpusFingerprint(spark, dir)
      assert(fp2 != fp1, "rewritten corpus must change the fingerprint")
      val root2 = SuffixDedup.saArtifactRoot(spark, dir)
      assert(root2 != root1)
      SuffixDedup.ensureSa(spark, dir): Unit
      val sa2 = saRows(dir)
      assert(sa2 != sa1, "new corpus state, new suffix array")
      // time travel: the superseded corpus state's artifact is intact
      val old = VersionedTable.read(spark, root1).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        .sortBy(x => (x._1, x._2))
      assert(old == sa1.sortBy(x => (x._1, x._2)))
    }
  }
}
