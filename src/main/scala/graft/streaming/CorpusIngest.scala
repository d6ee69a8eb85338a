package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.LongType

import graft.engine.{Tables, VersionedTable}
import graft.ext.TextAnalysis
import graft.plans.TopKPerKey

/** Continuous corpus ingestion — the documents-lane streaming form the
  * events (EventStream) and embeddings (streamingBandProbe /
  * streamingHardNegatives) lanes already have: a stream of raw
  * (doc_id, text) rows is gated per micro-batch by the SAME quality
  * predicate and canonical-fingerprint dedup the batch curation uses
  * (x02/x05 formulas, so a document admitted here is exactly a document
  * the batch pipeline would keep), and the accepted rows are published
  * as one [[VersionedTable]] snapshot per batchId.
  *
  * Dedup state is the standing corpus PLUS every previously committed
  * batch — unlike the band probe (whose standing index is refreshed out
  * of band and is documented cross-batch-blind), the exact-dedup key
  * set is cheap enough to re-derive per batch from the committed
  * snapshots themselves, so a duplicate arriving two batches after its
  * original is dropped. `commitIfAbsent` keeps the at-least-once
  * replay exactly-once: a replayed batch is a skipped commit, and
  * because its snapshot already rides the dedup state, its documents
  * stay deduplicated rather than double-admitted.
  *
  * Scale shape: the quality gate is a pure projection; dedup shuffles
  * only 128-bit fingerprints (never text); the committed-batch state is
  * one narrow column per snapshot. At cluster scale the
  * fingerprint-union read is the standard "dedup against the ledger"
  * pattern — a bucketed fingerprint index (x98's discipline) drops in
  * where re-reading snapshots stops being cheap.
  */
object CorpusIngest {

  /** One micro-batch through the gate: quality predicate, within-batch
    * first-occurrence (by doc_id) canonical dedup, then an anti-join
    * against the standing fingerprint set. Public so the spec can pin
    * batch semantics without a stream.
    */
  def acceptBatch(batch: DataFrame, standingFps: DataFrame): DataFrame = {
    val ok = batch
      .filter(TextAnalysis.qualityOkCol(col("text")))
      .select(col("doc_id"), col("text"),
        size(TextAnalysis.wsTokens(col("text"))).cast(LongType).as("n_tokens"),
        TextAnalysis.fingerprintCol(col("text")).as("fp"))
    TopKPerKey.ranked(ok, Seq(col("fp")), Seq(col("doc_id")), 1)
      .join(standingFps.select(col("fp")).distinct(), Seq("fp"), "left_anti")
      .select(col("doc_id"), col("n_tokens"), col("fp"))
  }

  /** The standing fingerprint set at a point in time: the batch corpus
    * plus every committed ingest snapshot.
    */
  def standingFps(s: SparkSession, dir: String, root: String): DataFrame = {
    val corpus = Tables(s, dir, "documents")
      .select(TextAnalysis.fingerprintCol(col("text")).as("fp"))
    VersionedTable.versions(s, root)
      .map(v => VersionedTable.read(s, root, Some(v)).select(col("fp")))
      .foldLeft(corpus)(_.unionByName(_))
  }

  /** x120: the ingest gate as a graded batch twin, so the streaming
    * lane's core is HASH-GATED, not just spec-gated: documents with
    * doc_id >= `splitAt` play one arriving micro-batch, the rest play
    * the standing corpus, and the admitted set (quality ∧ within-batch
    * canonical ∧ novel-vs-standing) must match DuckDB computing the
    * same three gates relationally.
    */
  def ingestBatchTwin(s: SparkSession, dir: String,
      splitAt: Long = 300L): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val batch = docs.filter(col("doc_id") >= splitAt).select(col("doc_id"), col("text"))
    val standing = docs.filter(col("doc_id") < splitAt)
      .select(TextAnalysis.fingerprintCol(col("text")).as("fp"))
    acceptBatch(batch, standing).orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x120_ingest_batch" -> ((s: SparkSession, dir: String) => ingestBatchTwin(s, dir)))

  val oracles: Map[String, String] = Map(
    // same three gates relationally: the x02/x05 quality predicate, the
    // x04 canonical fingerprint, first occurrence by doc_id within the
    // batch, anti-join against the standing fingerprints
    "x120_ingest_batch" ->
      """WITH b AS (SELECT doc_id, text FROM documents WHERE doc_id >= 300),
        |q AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
        |  FROM b
        |  WHERE length(text) >= 100 AND length(text) <= 5000
        |    AND len(string_split_regex(trim(text), '\s+')) >= 20
        |    AND CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
        |        / CAST(length(text) AS DOUBLE) < 0.1),
        |r AS (SELECT doc_id, n_tokens, fp,
        |        row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM q),
        |standing AS (
        |  SELECT DISTINCT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
        |  FROM documents WHERE doc_id < 300)
        |SELECT doc_id, n_tokens, fp FROM r
        |WHERE rn = 1 AND fp NOT IN (SELECT fp FROM standing)
        |ORDER BY doc_id""".stripMargin)

  def streamingCorpusIngest(s: SparkSession, docs: DataFrame, dir: String,
      root: String, checkpoint: String): StreamingQuery =
    SnapshotIngest.toVersioned(docs, root, checkpoint)(
      (batch, _) => acceptBatch(batch, standingFps(s, dir, root)))
}
