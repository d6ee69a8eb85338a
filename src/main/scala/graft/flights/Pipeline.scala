package graft.flights

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.engine.{CorpusArtifact, Incremental, Parallel, Reliability, SessionMemo, Sinks, Sources}

/** The orchestration layer (SURVEY.md §2.10 O1-O5): the reference's
  * per-day DAG run — extract each staging table for the logical date,
  * load idempotently, then rebuild the star schema — as one driver call.
  *
  *   - O1: statuses keyed by table, loads concurrent — every table's
  *     extract->load writes its own staging root and CSV edge dir, so the
  *     reference's FK-safe serial order (`start.sh:20-23`, a Postgres
  *     constraint) buys nothing for parquet; a failed table still fails
  *     the run, after its siblings finish;
  *   - O2: dims wave, then facts wave — the 4 dims rebuild concurrently,
  *     then the 4 facts (`dags/flights_data_pipeline.py:229-251`). In a
  *     failed non-atomic `transform`, sibling tables of the same wave may
  *     already be rewritten; readers who need all-or-nothing use
  *     `transformAtomic`;
  *   - O4: a table with an empty increment is skipped, and its previously
  *     loaded days remain untouched;
  *   - O5: `PipelineConfig` replaces the Airflow Variables surface
  *     (`incremental`, table list, CSV edge toggle).
  *
  * Scale: each daily run only touches that day's partitions (S6), so a
  * backfill (`catchup=True`, `:63-66`) is a loop of independent `runFor`
  * calls — at 100 TB those are embarrassingly parallel across days.
  */
final case class PipelineConfig(
    tables: Seq[String] = Pipeline.FkOrder,
    incremental: Boolean = true,
    tsCol: String = "updated_at",
    /** route extract->load through the CSV edge (S3/S5), as the
      * reference does via MinIO, instead of handing DataFrames across
      * directly.
      */
    csvEdge: Boolean = false,
    /** O3: per-table load attempts (the reference's `retries: 1` means
      * 2 attempts total) and the on_failure_callback analog, fired once
      * when a table exhausts its attempts.
      */
    loadAttempts: Int = 2,
    onFailure: graft.engine.Reliability.Attempt => Unit = _ => ())

object Pipeline {

  /** The 8 staging tables in the reference's FK-safe load order
    * (`start.sh:20-23`); their loads run concurrently.
    */
  val FkOrder: Seq[String] = Seq(
    "aircrafts_data", "airports_data", "bookings", "tickets",
    "seats", "flights", "ticket_flights", "boarding_passes")

  private def stgPath(warehouseDir: String, table: String) = s"$warehouseDir/stg/$table"

  /** One logical-date run: extract+load every staging table for `ds`,
    * then rebuild all 8 dims/facts from the accumulated staging layer.
    * Returns per-table load results keyed by table name.
    */
  def runFor(spark: SparkSession, source: Map[String, DataFrame],
      warehouseDir: String, ds: String,
      cfg: PipelineConfig = PipelineConfig()): Map[String, Incremental.LoadStatus] = {
    val results = loadFor(spark, source, warehouseDir, ds, cfg, dayScopedWrites = false)
    transform(spark, warehouseDir)
    results
  }

  /** The extract+load half of one logical-date run (no transform).
    * `dayScopedWrites = true` switches the S6 sink to the
    * single-day-partition-directory form and day-scopes the CSV edge
    * paths — the variant whose (table, day) write jobs have disjoint
    * staging dirs and are therefore safe to run concurrently across
    * days (see `backfillParallel`).
    */
  private def loadFor(spark: SparkSession, source: Map[String, DataFrame],
      warehouseDir: String, ds: String, cfg: PipelineConfig,
      dayScopedWrites: Boolean): Map[String, Incremental.LoadStatus] =
    Parallel.map(cfg.tables) { table =>
      // retry-safe by construction: the idempotent day-partition
      // overwrite (S6) / truncate-load (S7) make a second attempt land on
      // clean state, never a double append
      table -> Reliability.withRetry(s"load:$table", maxAttempts = cfg.loadAttempts,
        baseDelayMs = 50, onAlert = cfg.onFailure) {
        val extracted =
          if (cfg.incremental) Incremental.dayWindow(source(table), cfg.tsCol, ds)
          else source(table)
        val stg = stgPath(warehouseDir, table)
        def load(df: DataFrame): Unit =
          if (cfg.incremental && dayScopedWrites)
            Sinks.overwriteSingleDayPartition(df, cfg.tsCol, ds, stg)
          else if (cfg.incremental) Sinks.overwriteDayPartitions(df, cfg.tsCol, stg)
          else Sinks.truncateLoad(df, stg)
        if (cfg.csvEdge) {
          // the reference's MinIO hop: extract writes CSV, load re-reads
          // it under the declared schema (S3 -> S5). The CSV files are the
          // snapshot: each write counts its own rows in the same job
          val edge =
            if (dayScopedWrites) s"$warehouseDir/edge/$ds/$table"
            else s"$warehouseDir/edge/$table"
          val extractedRows = countedWrite(extracted)(Sources.writeCsv(_, edge))
          if (extractedRows == 0) Incremental.SkippedEmpty
          else Incremental.Loaded(
            countedWrite(Sources.readCsv(spark, extracted.schema, edge))(load))
        } else {
          // persisted so the emptiness check, the write, and the returned
          // row count all see one snapshot of the extract
          val pinned = extracted.persist()
          try {
            val rows = pinned.count()
            if (rows == 0) Incremental.SkippedEmpty
            else { load(pinned); Incremental.Loaded(rows) }
          } finally pinned.unpersist()
        }
      }
    }.toMap

  /** Run `write` on `df` and return the number of rows it wrote, taken
    * from the write job itself rather than from a second counting job.
    */
  private def countedWrite(df: DataFrame)(write: DataFrame => Unit): Long = {
    val rows = Observation()
    write(df.observe(rows, count(lit(1)).as("rows")))
    rows.get("rows").asInstanceOf[Long]
  }

  /** Rebuild the 8 warehouse tables (dims before facts) from whatever the
    * staging layer currently holds. Tables whose staging input has never
    * loaded are skipped — the downstream targets simply don't appear yet
    * (the reference would have failed its transform task; we treat the
    * run as partial). A complete rebuild is recorded for
    * [[transformAtomic]]: the staging state it read (fingerprinted before
    * the read, so a write racing the read can only force a rebuild) and
    * the outputs it wrote.
    */
  def transform(spark: SparkSession, warehouseDir: String): Unit = {
    val read = fingerprint(spark, stagingRoots(warehouseDir))
    loadedStaging(spark, warehouseDir).foreach { stg =>
      val (dims, facts) = StarSchema.transforms.partition(_._1.startsWith("dim_"))
      Seq(dims, facts).foreach(wave => Parallel.map(wave) { case (name, fn) =>
        Sinks.truncateLoad(fn(stg), s"$warehouseDir/$name")
      })
      for (r <- read; w <- fingerprint(spark, starRoots(warehouseDir)))
        transformed.put(spark, warehouseDir, (r, w))
    }
  }

  /** Per warehouse dir: the (staging, outputs) fingerprints of the last
    * complete [[transform]].
    */
  private val transformed = SessionMemo[String, (String, String)]("Pipeline.transformed")

  private def stagingRoots(warehouseDir: String): Seq[String] =
    FkOrder.map(stgPath(warehouseDir, _))

  private def starRoots(warehouseDir: String): Seq[String] =
    StarSchema.transforms.map { case (name, _) => s"$warehouseDir/$name" }

  /** The combined fingerprint of `roots`, or None while one is missing. */
  private def fingerprint(spark: SparkSession, roots: Seq[String]): Option[String] =
    try Some(roots.map(CorpusArtifact.pathFingerprint(spark, _)).mkString(","))
    catch { case _: java.io.FileNotFoundException => None }

  /** Whether the 8 tables the last [[transform]] wrote still are the star
    * of the current staging: neither the staging roots nor the outputs
    * have changed since.
    */
  private[flights] def transformIsCurrent(spark: SparkSession, warehouseDir: String): Boolean =
    transformed.get(spark, warehouseDir).exists { case (r, w) =>
      fingerprint(spark, stagingRoots(warehouseDir)).contains(r) &&
        fingerprint(spark, starRoots(warehouseDir)).contains(w)
    }

  /** Every staging table, or None while any of them has never loaded. */
  private def loadedStaging(spark: SparkSession,
      warehouseDir: String): Option[Map[String, DataFrame]] = {
    val fs = new Path(warehouseDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stg = FkOrder.flatMap { t =>
      val p = stgPath(warehouseDir, t)
      if (fs.exists(new Path(p))) Some(t -> spark.read.parquet(p)) else None
    }.toMap
    if (FkOrder.forall(stg.contains)) Some(stg) else None
  }

  /** The star rebuild as ONE atomic version set: all 8 dims/facts
    * commit to per-table [[graft.engine.SnapshotSet]] roots, then one
    * manifest commit publishes them together — a crash mid-rebuild
    * leaves readers on the previous CONSISTENT set (the reference's
    * sequential transform chain, and `transform` above, both expose a
    * half-updated warehouse in that window). Readers go through
    * `SnapshotSet.readTable(spark, s"$warehouseDir/star", name)`.
    *
    * When a [[transform]] of this session already built the star from the
    * current staging and its 8 outputs are unchanged (`runFor` ends in
    * one), the set commits those outputs instead of building all 8
    * tables a second time; otherwise it rebuilds from staging.
    * Returns the published set version, or None when staging is
    * incomplete (the same partial-run skip as `transform`).
    */
  def transformAtomic(spark: SparkSession, warehouseDir: String): Option[Long] = {
    val current = transformIsCurrent(spark, warehouseDir)
    loadedStaging(spark, warehouseDir).map(stg =>
      graft.engine.SnapshotSet.publish(spark, s"$warehouseDir/star",
        StarSchema.transforms.map { case (name, fn) =>
          name -> (if (current) spark.read.parquet(s"$warehouseDir/$name") else fn(stg))
        }.toMap))
  }

  /** The reference's `catchup=True` backfill: ordered daily runs
    * (`max_active_runs=1`).
    */
  def backfill(spark: SparkSession, source: Map[String, DataFrame],
      warehouseDir: String, days: Seq[String],
      cfg: PipelineConfig = PipelineConfig()): Map[String, Map[String, Incremental.LoadStatus]] =
    days.map(ds => ds -> runFor(spark, source, warehouseDir, ds, cfg)).toMap

  /** Backfill with the days loaded CONCURRENTLY (at most `parallelism`
    * days in flight, each loading its tables concurrently as in
    * `runFor`), then ONE star-schema rebuild at the end instead of
    * one per day. Safe because each (table, day) write job targets its
    * own partition directory (disjoint data AND disjoint committer
    * staging — see `Sinks.overwriteSingleDayPartition`); the transform
    * is kept out of the parallel section because the 8 star tables are
    * shared across days. At 100 TB this is the backfill you actually
    * run: a month of history is 30 independent day loads and one
    * rebuild, not 30 sequential DAG runs (the reference's
    * `max_active_runs=1` loop). Requires `cfg.incremental` (a
    * truncate-load backfill is inherently last-writer-wins and gains
    * nothing from running days concurrently).
    */
  def backfillParallel(spark: SparkSession, source: Map[String, DataFrame],
      warehouseDir: String, days: Seq[String],
      cfg: PipelineConfig = PipelineConfig(),
      parallelism: Int = 4): Map[String, Map[String, Incremental.LoadStatus]] = {
    require(cfg.incremental, "parallel backfill needs day-partitioned (incremental) loads")
    val results = Parallel.map(days, parallelism) { ds =>
      ds -> loadFor(spark, source, warehouseDir, ds, cfg, dayScopedWrites = true)
    }.toMap
    transform(spark, warehouseDir)
    results
  }
}
