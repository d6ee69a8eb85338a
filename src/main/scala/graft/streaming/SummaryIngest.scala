package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.engine.VersionedTable
import graft.functions.{QDigest, QDigestAgg, QDigestMergeAgg}
import graft.plans.TopKPerKey

/** Streaming maintenance of the round's two mergeable summaries — the
  * continuous form x175 (q-digest) and x171 (KMV bottom-k) imply:
  * each micro-batch persists its own summary PARTIALS as one
  * [[VersionedTable]] snapshot per batchId, and serving reads the
  * union of snapshots, never the raw history.
  *
  *   - q-digest: per-(day) digest blobs; the union is count addition
  *     (commutative), so serving-side merge of snapshot partials is
  *     BITWISE equal to a batch build over the same batch splits —
  *     the x128 merge-equals-rebuild invariant, on bytes.
  *   - KMV: per-(source) bottom-k rows; any element among a source's
  *     global k smallest is among its batch's k smallest, so the
  *     bottom-k of unioned partials IS the bottom-k of the full
  *     element stream — serving equals a from-scratch build exactly.
  *
  * Exactly-once: `commitIfAbsent` per batchId — replays skip.
  */
object SummaryIngest {

  /** Per-day digest partials for one batch of (day, qv) rows. */
  def digestBatch(batch: DataFrame): DataFrame = {
    val build = udaf(new QDigestAgg(), org.apache.spark.sql.Encoders.scalaLong)
    batch.groupBy(col("day"))
      .agg(build(col("qv")).as("sk"), count(lit(1)).as("n_day"))
  }

  /** Per-source bottom-k partials for one batch of (source, h) rows. */
  def kmvBatch(batch: DataFrame, k: Int = 128): DataFrame =
    TopKPerKey.ranked(batch.select(col("source"), col("h")).distinct(),
      Seq(col("source")), Seq(col("h").asc), k)
      .select(col("source"), col("h"))

  /** The served digest: union-merge every committed partial. */
  def servedDigest(s: SparkSession, root: String): QDigest = {
    val merge = udaf(new QDigestMergeAgg(), org.apache.spark.sql.Encoders.BINARY)
    val parts = VersionedTable.versions(s, root)
      .map(v => VersionedTable.read(s, root, Some(v)).select(col("sk")))
    require(parts.nonEmpty, "no committed digest partials")
    val blob = parts.reduce(_ unionByName _)
      .agg(merge(col("sk"))).head().getAs[Array[Byte]](0)
    QDigest.fromBytes(blob)
  }

  /** The served KMV sketches: bottom-k over the unioned partials. */
  def servedKmv(s: SparkSession, root: String, k: Int = 128): DataFrame = {
    val parts = VersionedTable.versions(s, root)
      .map(v => VersionedTable.read(s, root, Some(v)).select(col("source"), col("h")))
    require(parts.nonEmpty, "no committed kmv partials")
    kmvBatch(parts.reduce(_ unionByName _), k)
  }

  /** Events-shaped stream → per-batch digest partial snapshots. */
  def streamingDigestIngest(s: SparkSession, events: DataFrame,
      root: String, checkpoint: String): StreamingQuery =
    SnapshotIngest.toVersioned(events, root, checkpoint)(
      (batch, _) => digestBatch(batch))

  /** (source, h) element stream → per-batch KMV partial snapshots. */
  def streamingKmvIngest(s: SparkSession, elems: DataFrame,
      root: String, checkpoint: String, k: Int = 128): StreamingQuery =
    SnapshotIngest.toVersioned(elems, root, checkpoint)(
      (batch, _) => kmvBatch(batch, k))
}
