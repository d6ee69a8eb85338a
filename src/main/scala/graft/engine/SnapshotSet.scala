package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Cross-table atomic publish — the manifest level above
  * [[VersionedTable]]: N tables commit as ONE consistent version set.
  *
  * The reference's transform chain loads its 8 dims/facts sequentially
  * (`dags/flights_data_pipeline.py:229-251`), so a mid-run failure
  * leaves a half-updated warehouse: new dims joined by old facts until
  * someone reruns it. Per-table [[VersionedTable]] alone doesn't fix
  * that — each table is crash-safe, but the SET isn't.
  *
  * Protocol:
  *   1. every table's snapshot commits to its own VersionedTable root
  *     `<root>/tables/<name>` — durable but INVISIBLE, because set
  *     readers never list table roots;
  *   2. ONE manifest commit (itself a VersionedTable at
  *     `<root>/manifest`, rows `(table, version)`) publishes the whole
  *     mapping atomically.
  *
  * A writer that dies after k of N table commits leaves the previous
  * manifest fully readable — the orphaned table versions are invisible
  * garbage a later `vacuumSet` retires. Readers pin ONE manifest
  * version for a whole job, giving snapshot isolation across the
  * entire star, not just one table. Replayed publishes dedupe through
  * `publishIfAbsent` (manifest keyed by an external id — the streaming
  * batchId discipline).
  *
  * At scale: the manifest is N rows; its commit cost is one rename.
  * Everything heavy (the table writes) happens before the atomic
  * point, exactly like a two-phase commit whose prepare is idempotent
  * re-writable parquet.
  */
object SnapshotSet {

  private def manifestRoot(root: String) = s"$root/manifest"
  private def tableRoot(root: String, table: String) = s"$root/tables/$table"

  private val ManifestSchema = StructType(Seq(
    StructField("table", StringType, nullable = false),
    StructField("version", LongType, nullable = false)))

  private def manifestDf(s: SparkSession, m: Map[String, Long]): DataFrame =
    s.createDataFrame(
      java.util.Arrays.asList(m.toSeq.sortBy(_._1)
        .map { case (t, v) => Row(t, v) }: _*),
      ManifestSchema).coalesce(1)

  /** The whole set commits under ONE protocol: the manifest root's
    * sticky mode (or, for a brand-new set, the process default captured
    * once here). Threaded explicitly into every table-root commit so a
    * table added to the set LATER — possibly after the process-wide
    * default flipped — can never take a different commit mode than the
    * set it belongs to.
    */
  private def setMode(s: SparkSession, root: String): Some[CommitMode] =
    Some(VersionedTable.modeOf(s, manifestRoot(root)))

  /** Commit every table to its own root, concurrently — the roots are
    * independent [[VersionedTable]]s, and nothing is visible until the
    * caller's single manifest commit. Returns (table -> version).
    */
  private def commitTables(root: String, tables: Map[String, DataFrame],
      mode: Some[CommitMode]): Map[String, Long] =
    Parallel.map(tables.toSeq) { case (name, df) =>
      name -> VersionedTable.commit(df, tableRoot(root, name), mode)
    }.toMap

  /** Commit every table, then publish the set in one manifest commit.
    * Returns the manifest version. Crash before the final commit ⇒ the
    * previous set stays served; nothing partial is ever readable.
    */
  def publish(s: SparkSession, root: String,
      tables: Map[String, DataFrame]): Long = {
    require(tables.nonEmpty, "SnapshotSet.publish: empty table set")
    val mode = setMode(s, root)
    val committed = commitTables(root, tables, mode)
    VersionedTable.commit(manifestDf(s, committed), manifestRoot(root), mode)
  }

  /** Publish the set at EXACTLY manifest version `setId` if absent —
    * the exactly-once hook for replayed orchestrations (key `setId` by
    * run/batch id). A replay whose manifest already exists skips the
    * table writes entirely; a replay racing the original commits its
    * table versions (invisible garbage) and loses the manifest rename.
    */
  def publishIfAbsent(s: SparkSession, root: String,
      tables: Map[String, DataFrame], setId: Long): Boolean = {
    require(tables.nonEmpty, "SnapshotSet.publishIfAbsent: empty table set")
    if (VersionedTable.versions(s, manifestRoot(root)).contains(setId))
      return false
    val mode = setMode(s, root)
    val committed = commitTables(root, tables, mode)
    VersionedTable.commitIfAbsent(manifestDf(s, committed),
      manifestRoot(root), setId, mode)
  }

  /** Multi-writer publish: commit ONLY `tables` and re-reference every
    * other table of the latest manifest at its current version, so two
    * writers owning disjoint subsets can publish concurrently without
    * last-manifest-wins erasing each other's updates ([[publish]]'s
    * manifest names only its own tables — correct for whole-set loads,
    * wrong for partitioned ownership). Optimistic concurrency on the
    * manifest number: losing the commitIfAbsent re-reads the (newer)
    * manifest and retries, so every writer's tables survive into the
    * final lineage — the spec pins two concurrent disjoint writers both
    * visible. Table data commits once, outside the retry loop; only the
    * N-row manifest re-publishes on contention.
    */
  def publishMerged(s: SparkSession, root: String,
      tables: Map[String, DataFrame]): Long =
    // capture-at-entry fallback: the writer's read happened "now". This
    // only narrows the lost-update window (a winner landing between the
    // CALLER's data read and this entry is invisible) — a caller that
    // read data from an earlier manifest must pass that manifest's
    // (table -> version) map to the explicit-read-set overload for the
    // full OCC contract.
    publishMerged(s, root, tables,
      latestSet(s, root).map(v => manifest(s, root, Some(v)))
        .getOrElse(Map.empty[String, Long]))

  /** [[publishMerged]] with the caller's EXPLICIT read snapshot — the
    * (table -> version) manifest map the caller's input data was read
    * from ([[manifest]] at the pinned set version). The write-write
    * conflict check validates against THIS map, so a concurrent writer
    * republishing one of `tables` any time after the caller's data read
    * is detected, not just one landing after this method starts (the
    * table-format OCC contract: "table changed since read").
    */
  def publishMerged(s: SparkSession, root: String,
      tables: Map[String, DataFrame], readSet: Map[String, Long]): Long = {
    require(tables.nonEmpty, "SnapshotSet.publishMerged: empty table set")
    val mode = setMode(s, root)
    // Retries merge freely as long as concurrent winners touched OTHER
    // tables; a winner that republished one of OUR tables is a
    // write-write conflict — merging our (stale-read) snapshot over
    // theirs would be a silent lost update, so the loser must raise
    // instead (the optimistic-concurrency contract every table format
    // exposes as "ConcurrentModificationException: changed since read").
    val committed = commitTables(root, tables, mode)
    beforeMergeManifestPut()
    var attempt = latestSet(s, root).map(_ + 1L).getOrElse(0L)
    val lastAttempt = attempt + 10000L // liveness guard, as in VersionedTable
    while (true) {
      if (attempt > lastAttempt) throw new java.io.IOException(
        s"SnapshotSet: gave up merge-publishing at $root after 10000 contested sets")
      val base = setVersions(s, root).lastOption
        .map(v => manifest(s, root, Some(v))).getOrElse(Map.empty[String, Long])
      tables.keys.find(t => base.get(t) != readSet.get(t)).foreach { t =>
        // the loser's table versions were committed above but are
        // referenced by NO manifest — retire them now (mirroring
        // commitIfAbsent's loser path) instead of leaving them visible
        // to direct latest() readers of the table roots until a vacuum
        // grace sweep
        committed.foreach { case (name, v) =>
          try VersionedTable.dropVersion(s, tableRoot(root, name), v)
          catch { case _: java.io.IOException => () } // sweep gets it later
        }
        throw new java.util.ConcurrentModificationException(
          s"SnapshotSet.publishMerged: table $t at $root changed since read " +
            s"(read version ${readSet.get(t)}, now ${base.get(t)}) — " +
            "another writer published it concurrently; re-read and retry")
      }
      if (VersionedTable.commitIfAbsent(manifestDf(s, base ++ committed),
          manifestRoot(root), attempt, mode)) return attempt
      attempt += 1L // lost the manifest race — merge against the winner and retry
    }
    -1L // unreachable
  }

  /** Test seam: invoked after the writer's read-set capture and table
    * commits, before the manifest loop — the race window where a
    * concurrent writer can publish an overlapping table.
    */
  @volatile private[engine] var beforeMergeManifestPut: () => Unit = () => ()

  /** Committed set versions, ascending. */
  def setVersions(s: SparkSession, root: String): Seq[Long] =
    VersionedTable.versions(s, manifestRoot(root))

  def latestSet(s: SparkSession, root: String): Option[Long] =
    setVersions(s, root).lastOption

  /** The (table -> version) mapping of a committed set. */
  def manifest(s: SparkSession, root: String,
      asOf: Option[Long] = None): Map[String, Long] =
    VersionedTable.read(s, manifestRoot(root), asOf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Read one table THROUGH the manifest — never the table's own
    * latest, which may be a half-published orphan.
    */
  def readTable(s: SparkSession, root: String, table: String,
      asOf: Option[Long] = None): DataFrame = {
    val m = manifest(s, root, asOf)
    require(m.contains(table),
      s"SnapshotSet: table $table not in manifest (have ${m.keys.mkString(",")})")
    VersionedTable.read(s, tableRoot(root, table), Some(m(table)))
  }

  /** Set-level GDPR delete: publish a NEW manifest whose `table` entry
    * points at a filtered rewrite of that table, every OTHER table
    * re-referenced at its current version (no data rewrite). Readers
    * on old sets are undisturbed; the physical forget completes when
    * `vacuumSet` retires the pre-delete manifests. One filtered scan +
    * one N-row manifest commit — the forget-me workflow without
    * breaking set atomicity (deleting through the TABLE's own
    * VersionedTable would fork it from the manifest).
    */
  def deleteWhere(s: SparkSession, root: String, table: String,
      pred: org.apache.spark.sql.Column): Long = {
    val m = manifest(s, root)
    require(m.contains(table),
      s"SnapshotSet: table $table not in manifest (have ${m.keys.mkString(",")})")
    // Delete ONLY rows where pred is definitely true: under SQL
    // three-valued logic `!pred` is NULL (not true) when pred is NULL,
    // so filter(!pred) would silently drop every NULL-predicate row —
    // data loss in a forget-me API. `pred <=> true` maps NULL to false.
    val mode = setMode(s, root)
    val newV = VersionedTable.commit(
      readTable(s, root, table).filter(!(pred <=> lit(true))),
      tableRoot(root, table), mode)
    VersionedTable.commit(manifestDf(s, m + (table -> newV)),
      manifestRoot(root), mode)
  }

  /** Retire everything not reachable from the newest `keepLast`
    * manifests: old manifests first, then every table version no kept
    * manifest references — including half-published orphans. Returns
    * (manifest versions dropped, table versions dropped).
    *
    * Race safety: a publish in flight has already committed its table
    * versions but not yet its manifest — to a concurrent vacuum those
    * versions look like orphans. Table versions younger than
    * `graceMillis` (default 1h, mirroring the `.tmp` cleanup window in
    * [[VersionedTable.commit]]) are therefore NEVER deleted; only a
    * writer stalled longer than the grace window between table and
    * manifest commit can still lose, which is the same contract as any
    * object-store vacuum (Delta's retention check). Table roots absent
    * from every kept manifest (a table dropped from the set) are swept
    * too — discovered by listing `<root>/tables/`, not the manifests —
    * so retired tables don't leak versions forever.
    */
  def vacuumSet(s: SparkSession, root: String, keepLast: Int,
      graceMillis: Long = 3600L * 1000L): (Seq[Long], Map[String, Seq[Long]]) = {
    val droppedManifests = VersionedTable.vacuum(s, manifestRoot(root), keepLast)
    val live: Map[String, Set[Long]] = setVersions(s, root)
      .flatMap(v => manifest(s, root, Some(v)).toSeq)
      .groupBy(_._1).map { case (t, vs) => t -> vs.map(_._2).toSet }
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val tablesDir = new org.apache.hadoop.fs.Path(s"$root/tables")
    val allTables: Seq[String] =
      if (!fs.exists(tablesDir)) Seq.empty
      else fs.listStatus(tablesDir).toSeq.filter(_.isDirectory).map(_.getPath.getName)
    val cutoff = System.currentTimeMillis() - graceMillis
    val droppedTables = allTables.map { t =>
      val keep = live.getOrElse(t, Set.empty[Long])
      val r = tableRoot(root, t)
      val doomed = VersionedTable.versions(s, r).filterNot(keep)
        // in-flight publish protection (commit-time, mode-aware)
        .filter(v => VersionedTable.versionModTime(s, r, v) < cutoff)
      doomed.foreach(v => VersionedTable.dropVersion(s, r, v))
      t -> doomed
    }.toMap
    (droppedManifests, droppedTables)
  }

  /** x209: the atomic-set semantics as a graded twin. Set v: the
    * {nation, region} pair published together; then a CRASHED second
    * publish is simulated by committing a poisoned nation snapshot
    * directly to the table root WITHOUT a manifest commit (exactly
    * what a writer dying between steps leaves behind). The graded read
    * goes through the manifest, so it must serve the intact pair —
    * the DuckDB twin computes the same join from the base tables, and
    * any read that leaks the orphan version hash-fails.
    */
  private val twinRoots = SessionMemo[String, String]("SnapshotSet.twinRoots")

  def atomicPublishTwin(s: SparkSession, dir: String): DataFrame = {
    // one published root per (session, dir) — repeat invocations reuse
    // it (the x157 no-temp-leak discipline); publish + crash simulation
    // happen once
    val root = twinRoots(s, dir) {
      val r = java.nio.file.Files.createTempDirectory("graft_set").toString
      val nation = Tables(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val region = Tables(s, dir, "region")
        .select(col("r_regionkey"), col("r_name"))
      publish(s, r, Map("nation" -> nation, "region" -> region))
      // the crashed half-publish: a new nation version, no manifest
      VersionedTable.commit(
        nation.withColumn("n_name", lit("ORPHAN")),
        s"$r/tables/nation")
      r
    }
    readTable(s, root, "nation")
      .join(readTable(s, root, "region"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
      .orderBy(col("n_nationkey"))
  }

  /** x216: multi-writer merge-publish as a graded twin. A base set
    * {nation, region} is published, then two writers owning DISJOINT
    * tables each [[publishMerged]] only their own: writer A upper-cases
    * nation, writer B suffixes region. The graded read joins the LATEST
    * set — it must carry BOTH updates, which is exactly what plain
    * [[publish]] semantics would lose (B's manifest would name only
    * region, and nation would fall back to the base snapshot →
    * hash-fail against the twin).
    */
  private val mergeTwinRoots = SessionMemo[String, String]("SnapshotSet.mergeTwinRoots")

  def mergePublishTwin(s: SparkSession, dir: String): DataFrame = {
    val root = mergeTwinRoots(s, dir) {
      val r = java.nio.file.Files.createTempDirectory("graft_mset").toString
      val nation = Tables(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val region = Tables(s, dir, "region")
        .select(col("r_regionkey"), col("r_name"))
      publish(s, r, Map("nation" -> nation, "region" -> region))
      publishMerged(s, r, Map(
        "nation" -> nation.withColumn("n_name", upper(col("n_name")))))
      publishMerged(s, r, Map(
        "region" -> region.withColumn("r_name", concat(col("r_name"), lit("_v2")))))
      r
    }
    readTable(s, root, "nation")
      .join(readTable(s, root, "region"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
      .orderBy(col("n_nationkey"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x209_atomic_publish" -> ((s: SparkSession, dir: String) => atomicPublishTwin(s, dir)),
    "x216_merge_publish" -> ((s: SparkSession, dir: String) => mergePublishTwin(s, dir)))

  val oracles: Map[String, String] = Map(
    // the intact pre-crash pair: any orphan leak changes n_name rows
    "x209_atomic_publish" ->
      """SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin,
    // both writers' tables visible in the latest set: nation upper-cased
    // (writer A), region suffixed (writer B) — losing either hash-fails
    "x216_merge_publish" ->
      """SELECT n_nationkey, upper(n_name) AS n_name,
        |  r_name || '_v2' AS r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin)
}
