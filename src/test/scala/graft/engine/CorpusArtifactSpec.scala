package graft.engine

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The artifact-store vacuum contract ([[CorpusArtifact.vacuum]]): roots
  * whose fingerprint a live corpus still resolves are kept at ANY age;
  * superseded roots (the corpus was rewritten, so its current
  * fingerprint moved on) are retired only once they out-age the TTL —
  * the double gate that makes the sweep safe next to concurrent
  * builders and long-lived readers.
  */
class CorpusArtifactSpec extends SparkSpec {

  private def plant(tag: String): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cavac").toString
    import spark.implicits._
    Seq((1L, s"$tag one two", "src0"), (2L, s"$tag three four", "src1"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  private def withArtifactRoot[T](body: => T): T = {
    val prev = sys.props.get("graft.sa.root")
    sys.props("graft.sa.root") =
      java.nio.file.Files.createTempDirectory("graft_cavacroot").toString
    try body
    finally prev match {
      case Some(p) => sys.props("graft.sa.root") = p
      case None => sys.props.remove("graft.sa.root"): Unit
    }
  }

  private def age(root: String, millis: Long): Unit = {
    val p = java.nio.file.Paths.get(root)
    java.nio.file.Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - millis)): Unit
  }

  private def build(dir: String): String = {
    CorpusArtifact.ensure(spark, dir, "vt1") {
      spark.read.parquet(s"$dir/documents.parquet").select(col("doc_id"))
    }
    CorpusArtifact.root(spark, dir, "vt1")
  }

  test("vacuum keeps live-fingerprint roots at any age, retires aged superseded ones") {
    withArtifactRoot {
      val dir = plant("alpha")
      val oldRoot = build(dir)
      // corpus rewrite: the live fingerprint moves, oldRoot is superseded
      import spark.implicits._
      Seq((9L, "omega five six", "src0"))
        .toDF("doc_id", "text", "source")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val newRoot = build(dir)
      assert(newRoot != oldRoot)
      // both roots well past the TTL: only the superseded one goes
      age(oldRoot, 10 * 60000L)
      age(newRoot, 10 * 60000L)
      val gone = CorpusArtifact.vacuum(spark, Seq(dir), ttlMillis = 60000L)
      assert(gone.map(_.stripPrefix("file:")) === Seq(oldRoot))
      assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(newRoot)))
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(oldRoot)))
      // the kept root still resolves and reads back
      assert(CorpusArtifact.resolve(spark, dir, "vt1").get.count() === 1L)
    }
  }

  test("vacuum's age gate protects young superseded roots (a concurrent builder's work)") {
    withArtifactRoot {
      val dir = plant("beta")
      val oldRoot = build(dir)
      import spark.implicits._
      Seq((9L, "gamma seven eight", "src0"))
        .toDF("doc_id", "text", "source")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // superseded but FRESH: younger than the TTL, must survive
      val gone = CorpusArtifact.vacuum(spark, Seq(dir), ttlMillis = 60000L)
      assert(gone.isEmpty)
      assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(oldRoot)))
    }
  }

  test("vacuum is a no-op on a missing store and skips unreadable live dirs") {
    withArtifactRoot {
      // a store root that was never created — and a live dir with no
      // documents table at all; neither may throw
      val none = java.nio.file.Files.createTempDirectory("graft_cavac_empty").toString
      val prevRoot = sys.props("graft.sa.root")
      sys.props("graft.sa.root") = s"$prevRoot/never_created"
      try assert(CorpusArtifact.vacuum(spark, Seq(none), 0L).isEmpty)
      finally sys.props("graft.sa.root") = prevRoot
      // an existing store with one root: an unreadable live dir
      // contributes no fingerprint, so the aged root is retired
      val dir = plant("delta")
      val root = build(dir)
      age(root, 10 * 60000L)
      val gone = CorpusArtifact.vacuum(spark, Seq(none), ttlMillis = 60000L)
      assert(gone.map(_.stripPrefix("file:")) === Seq(root))
    }
  }

  test("a flat table keeps its per-file fingerprint; a partitioned tree lists every file") {
    val dir = plant("fp")
    // the per-file signature of a flat directory, as it was before
    // subdirectories were listed: existing artifact roots must resolve
    val p = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sig = (fs.makeQualified(p).toString +:
      fs.listStatus(p).toSeq.filter(_.isFile).sortBy(_.getPath.getName)
        .map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}"))
      .mkString("|")
    val flat = java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(CorpusArtifact.fingerprint(spark, dir) == flat)

    import spark.implicits._
    val tree = s"$dir/tree"
    Seq(("a", 1), ("b", 2)).toDF("k", "p_date").write.partitionBy("p_date").parquet(tree)
    val before = CorpusArtifact.pathFingerprint(spark, tree)
    // a file added below the root changes nothing the root itself lists
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$tree/p_date=2/extra"), Array[Byte](1))
    assert(CorpusArtifact.pathFingerprint(spark, tree) != before)
    intercept[java.io.FileNotFoundException](
      CorpusArtifact.pathFingerprint(spark, s"$dir/absent"))
  }
}
