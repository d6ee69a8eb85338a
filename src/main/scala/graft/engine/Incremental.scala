package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Incremental micro-batch semantics (SURVEY.md §2.1 S2, §2.2 P2/P3,
  * §2.9): one logical date `ds` per run, data sliced by a CLOSED
  * `updated_at` interval — `[ds 00:00:00, ds 23:59:59]`, the reference's
  * exact window (`dags/flights_data_pipeline.py:102-109`), boundary
  * inclusivity and sub-second-tail loss faithfully preserved.
  */
object Incremental {

  /** Per-table outcome of one (table, ds) load — the reference's
    * AirflowSkipException becomes a value (`:115-117`).
    */
  sealed trait LoadStatus
  final case class Loaded(rows: Long) extends LoadStatus
  case object SkippedEmpty extends LoadStatus

  /** S2/P2: the closed day-window predicate. Comparison against timestamp
    * literals parsed in the session timezone; pushes down to the scan.
    */
  def dayWindow(df: DataFrame, tsCol: String, ds: String): DataFrame =
    df.filter(col(tsCol).between(
      lit(s"$ds 00:00:00").cast(TimestampType),
      lit(s"$ds 23:59:59").cast(TimestampType)))

  /** Incremental aggregate maintenance, the at-scale shape: the day's
    * PER-KEY PARTIAL aggregates land in that day's partition (dynamic
    * overwrite — replaying a day replaces its own partials, idempotent
    * by construction), and the running total is a merge-on-read rollup
    * over the partials. No read-modify-write of the whole aggregate
    * table ever happens: a daily merge touches one partition of
    * |keys|-sized partials regardless of history length, and the rollup
    * reads |days| x |keys| partial rows instead of the raw corpus.
    * Works for any decomposable aggregate carried as sum-able columns
    * (counts, sums; min/max via their own combine — see
    * `readRunningAgg`'s caller choosing the combiner).
    */
  def writeDailyPartials(source: DataFrame, tsCol: String, ds: String,
      keys: Seq[String], partials: Seq[org.apache.spark.sql.Column],
      path: String): LoadStatus = {
    val day = dayWindow(source, tsCol, ds)
      .groupBy(keys.map(col): _*)
      .agg(partials.head, partials.tail: _*)
      // every partial row carries the window's day so the sink can
      // partition by it
      .withColumn(tsCol, lit(s"$ds 00:00:00").cast(TimestampType))
      .persist()
    try {
      val rows = day.count()
      if (rows == 0) SkippedEmpty
      else {
        Sinks.overwriteDayPartitions(day, tsCol, path)
        Loaded(rows)
      }
    } finally day.unpersist()
  }

  /** The running aggregate over all merged days: combine the partials
    * with the supplied per-column combiners (sum-of-counts,
    * min-of-mins, ...).
    */
  def readRunningAgg(spark: org.apache.spark.sql.SparkSession, path: String,
      keys: Seq[String], combine: Seq[org.apache.spark.sql.Column]): DataFrame =
    spark.read.parquet(path)
      .groupBy(keys.map(col): _*)
      .agg(combine.head, combine.tail: _*)

  /** Incremental JOIN maintenance (delta-join IVM): with an append-only
    * fact and a stable dimension, the enriched result for a new day is
    * old result ∪ (Δfact ⋈ dim) — the day's increment joins the
    * dimension and APPENDS; the historical result is never recomputed
    * or rescanned. This is the join counterpart of the incremental
    * aggregates above: at 100 TB a daily refresh touches one day of
    * fact rows and the (broadcastable) dimension, nothing else.
    * Idempotent per day: the increment lands in its own day partition
    * (the S6 discipline), so a replay overwrites itself.
    */
  def maintainJoin(fact: DataFrame, dim: DataFrame, keys: Seq[String],
      tsCol: String, ds: String, path: String): LoadStatus = {
    val delta = dayWindow(fact, tsCol, ds).persist()
    try {
      // The skip decision is the DELTA's emptiness (the loadTableFor
      // discipline), not the join result's: a day whose fact rows all
      // miss the dimension must still OVERWRITE its partition — on a
      // replay after the dimension changed, skipping would leave the
      // previously-written partition silently stale. Unmatched delta
      // rows are dropped by the inner join on purpose (enrichment
      // semantics); `unmatchedDelta` is the queryable audit of exactly
      // which rows that was.
      if (delta.isEmpty) SkippedEmpty
      else {
        val enriched = delta.join(dim, keys).persist()
        try {
          Sinks.overwriteSingleDayPartition(enriched, tsCol, ds, path)
          Loaded(enriched.count())
        } finally { enriched.unpersist(); () }
      }
    } finally { delta.unpersist(); () }
  }

  /** The rows `maintainJoin` drops for `ds`: delta fact rows with no
    * dimension match (anti-join on the same keys) — the no-silent-drops
    * audit a pipeline alert can count or quarantine.
    */
  def unmatchedDelta(fact: DataFrame, dim: DataFrame, keys: Seq[String],
      tsCol: String, ds: String): DataFrame =
    dayWindow(fact, tsCol, ds).join(dim, keys, "left_anti")

  /** S2+S6+P3: windowed extract -> skip-on-empty -> idempotent
    * day-partition overwrite into `path`. The increment is persisted for
    * the count/write pair so both see the SAME snapshot (a re-scanned
    * source could change between actions and make the returned row count
    * disagree with what was written).
    */
  def loadTableFor(source: DataFrame, tsCol: String, ds: String, path: String): LoadStatus = {
    val increment = dayWindow(source, tsCol, ds).persist()
    try {
      val rows = increment.count()
      if (rows == 0) SkippedEmpty
      else {
        Sinks.overwriteDayPartitions(increment, tsCol, path)
        Loaded(rows)
      }
    } finally increment.unpersist()
  }
}
