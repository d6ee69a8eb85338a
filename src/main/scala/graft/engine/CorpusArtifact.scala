package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once persistence of corpus-derived frames — the publish-time
  * artifact pattern the suffix array introduced (round 17), factored so
  * any lane whose expensive setup is a pure function of the corpus
  * (the KMV shingle-element frame, the SA, future index products) can
  * share it: the artifact is keyed by a metadata-only FINGERPRINT of the
  * source table, so an unchanged corpus always resolves the same
  * committed [[VersionedTable]] across processes, and any corpus rewrite
  * gets a new root while the superseded artifact stays readable (time
  * travel with the corpus snapshot it was built from).
  *
  * At 100 TB these frames are built once per corpus PUBLISH by the
  * publish job and read back as plain parquet scans by every consumer
  * until the next publish — the amortized-setup class Bench/RunOne
  * pre-build outside the timed window.
  */
object CorpusArtifact {

  /** Artifact store root. Overridable per process (`-Dgraft.sa.root=...`
    * — the historical name; it now hosts every corpus artifact, not just
    * the SA); a deployment points it at the warehouse path the
    * corpus-publish job owns.
    */
  def base: String =
    sys.props.getOrElse("graft.sa.root",
      s"${sys.props("java.io.tmpdir")}/graft_sa_artifacts")

  /** Corpus fingerprint: canonical path + per-file (name, length, mtime)
    * of the source table — the cheap metadata-only identity a publish
    * job can compute without reading data. Any rewrite (new files, new
    * lengths, new mtimes) changes the fingerprint and therefore the
    * artifact key; a byte-identical re-stage with fresh mtimes rebuilds
    * spuriously, which is the safe direction.
    */
  def fingerprint(s: SparkSession, dir: String,
      table: String = "documents"): String =
    pathFingerprint(s, Tables.path(dir, table))

  /** [[fingerprint]] of the file or directory tree at `path`. Files in
    * subdirectories (the `p_date=` partitions of a staging root) are
    * named by their path below `path`, so a flat table's fingerprint is
    * its per-file names as they always were. Throws
    * `FileNotFoundException` when `path` does not exist.
    */
  def pathFingerprint(s: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(p)
    val st = fs.getFileStatus(p)
    val parts =
      if (st.isDirectory) {
        val prefix = root.toUri.getPath.stripSuffix("/") + "/"
        val files = fs.listFiles(p, true)
        Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
          .map(f => f.getPath.toUri.getPath.stripPrefix(prefix) -> f).toSeq
          .sortBy(_._1)
      } else Seq(st.getPath.getName -> st)
    val sig = (root.toString +:
      parts.map { case (n, f) => s"$n:${f.getLen}:${f.getModificationTime}" })
      .mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** The [[VersionedTable]] root for artifact `name` over this corpus
    * state. `name` carries the artifact's schema version (e.g. `sa2`) so
    * incompatible layouts never resolve each other.
    */
  def root(s: SparkSession, dir: String, name: String,
      table: String = "documents"): String =
    s"$base/$name-${fingerprint(s, dir, table)}"

  /** Resolve a committed artifact for this corpus state, if any — a
    * parquet scan, no rebuild.
    */
  def resolve(s: SparkSession, dir: String, name: String,
      table: String = "documents"): Option[DataFrame] = {
    val r = root(s, dir, name, table)
    VersionedTable.latestVersion(s, r)
      .map(v => VersionedTable.read(s, r, Some(v)))
  }

  /** Idempotent ensure: commit `build` once per (name, corpus state),
    * reuse an already-committed artifact (across processes — the
    * fingerprint, not the session, is the key). Returns the committed
    * version.
    */
  def ensure(s: SparkSession, dir: String, name: String,
      table: String = "documents")(build: => DataFrame): Long = {
    val r = root(s, dir, name, table)
    VersionedTable.latestVersion(s, r)
      .getOrElse(VersionedTable.commit(build, r))
  }

  /** Retire artifact roots that no LIVE corpus resolves — the store
    * otherwise accumulates one fingerprint-keyed root per corpus REWRITE
    * forever (~292 MB per 100x bench round measured in round 18). The
    * contract is the scratch-sweep / [[Pin.reliableTtlMillis]] one,
    * age-gated twice over: a root is removed only when (a) its
    * fingerprint suffix matches none of `liveDirs`' CURRENT fingerprints
    * for any of `tables` — an unchanged corpus keeps its artifacts at
    * any age — and (b) the root has been untouched for `ttlMillis`, so
    * artifacts freshly built by a concurrent process for a corpus this
    * caller does not know about survive. Pick a TTL longer than any job
    * still holding a resolved reader: a swept root fails that reader's
    * next action (Delta's vacuum-vs-reader contract). Returns the roots
    * removed; a missing store is a no-op.
    */
  def vacuum(s: SparkSession, liveDirs: Seq[String], ttlMillis: Long,
      tables: Seq[String] = Seq("documents")): Seq[String] = {
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(basePath)) Seq.empty
    else {
      val live: Set[String] = (for {
        d <- liveDirs
        t <- tables
        fp <- try Some(fingerprint(s, d, t))
              catch { case _: java.io.IOException => None }
      } yield fp).toSet
      val cutoff = System.currentTimeMillis() - ttlMillis
      fs.listStatus(basePath).toSeq
        .filter { st =>
          val fp = st.getPath.getName.split('-').last
          st.isDirectory && !live.contains(fp) &&
            st.getModificationTime < cutoff
        }
        .flatMap { st =>
          if (fs.delete(st.getPath, true)) Some(st.getPath.toString)
          else None
        }
    }
  }
}
