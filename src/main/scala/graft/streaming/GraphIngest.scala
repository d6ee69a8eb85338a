package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.engine.VersionedTable
import graft.ext.{Clustering, NnGraph}

/** Streaming maintenance of the k-NN graph — the graph-ANN lane's
  * streaming form, mirroring RetrievalIngest: each micro-batch of
  * arriving (vec_id, embedding) rows is quantized to the 2^-20 grid,
  * probed into the STANDING x187 graph (bucket mates + one graph
  * expansion — [[NnGraph.insertEdges]], read-only on the graph), and
  * the batch's edges commit as a [[VersionedTable]] snapshot keyed by
  * batchId; `commitIfAbsent` makes at-least-once replay exactly-once.
  * Because insertion never mutates the standing graph, ANY batch split
  * of the arrivals yields byte-identical edges — the union of
  * snapshots equals the x194 batch twin, which GraphIngestSpec gates.
  *
  * At scale the standing graph is the persisted x187 build (refreshed
  * warm like x158 when the x150 drift gate fires); per batch only the
  * batch's rows are quantized and probed.
  */
object GraphIngest {

  /** Start the ingest: arrivals stream → insertion edges per
    * micro-batch → one committed snapshot per batchId.
    */
  def streamingGraphInsert(arrivals: DataFrame, dir: String, root: String,
      checkpoint: String, k: Int = 6, rounds: Int = 4,
      buckets: Int = 32): StreamingQuery =
    SnapshotIngest.toVersioned(arrivals, root, checkpoint) { (batch, _) =>
      val s = batch.sparkSession
      NnGraph.insertEdges(
        Clustering.gridVecs(batch), NnGraph.standingQ(s, dir),
        NnGraph.nnEdges(s, dir, k, rounds, buckets, "standing"),
        k, buckets)
    }

  /** The accumulated insertion edges at a point in time: the union of
    * every committed snapshot.
    */
  def edgesFromSnapshots(s: SparkSession, root: String): DataFrame =
    VersionedTable.versions(s, root)
      .map(v => VersionedTable.read(s, root, Some(v)))
      .reduce(_ unionByName _)

  // streaming-only lane: correctness is pinned by GraphIngestSpec
  // (snapshot union == the x194 batch twin, bitwise; replay
  // idempotency); the probe core itself is hash-gated via x194.
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map.empty
  val oracles: Map[String, String] = Map.empty
}
