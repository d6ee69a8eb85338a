package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{SessionMemo, Tables}

/** Driver-graded queries over the `vecshard` connector. The shard
  * directory is the embeddings table written ONCE per (session, dataset)
  * through the connector's own DSv2 write path cousin ([[VecShard.writeShards]])
  * — the x157 cached-publish discipline, no per-call temp leak.
  */
object VecShardQueries {

  private val rootCache = SessionMemo[String, String]("VecShardQueries.root")

  private def shardRoot(s: SparkSession, dir: String): String =
    rootCache(s, dir) {
      val d = java.nio.file.Files.createTempDirectory("graft_vecshard_x170").toString
      VecShard.writeShards(
        Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
          .repartitionByRange(4, col("vec_id")),
        d)
      d
    }

  /** x170: COUNT/MIN/MAX over the shard directory, answered by the
    * connector's `SupportsPushDownAggregates` path — per-shard partial
    * rows from the sidecar footers, zero vector bytes read (the
    * VecShardSpec pins the plan and the files-opened counter; this query
    * gates the VALUES against the parquet source of truth).
    */
  def aggPushdown(s: SparkSession, dir: String): DataFrame =
    VecShard.read(s, shardRoot(s, dir))
      .agg(count(lit(1)).as("n_vectors"),
        min(col("vec_id")).as("min_vec_id"),
        max(col("vec_id")).as("max_vec_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x170_vecshard_agg_pushdown" -> ((s: SparkSession, dir: String) => aggPushdown(s, dir)))

  val oracles: Map[String, String] = Map(
    "x170_vecshard_agg_pushdown" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
        |  min(vec_id) AS min_vec_id, max(vec_id) AS max_vec_id
        |FROM embeddings""".stripMargin)
}
