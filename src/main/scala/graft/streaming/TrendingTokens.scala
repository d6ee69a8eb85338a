package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.engine.{Tables, VersionedTable}
import graft.ext.TextAnalysis
import graft.plans.TopKPerKey

/** Continuously-maintained token frequencies — the streaming form of the
  * q41/x06 vocabulary lanes: each arriving micro-batch of documents is
  * reduced to its own token counts (the only thing that ever rides the
  * shuffle — counts, not tokens-per-doc), merged into the standing
  * count snapshot, and published as one [[VersionedTable]] version per
  * batchId. `commitIfAbsent` makes at-least-once replay exactly-once: a
  * replayed batch's commit is skipped, so its counts are never
  * double-added (the CorpusIngest discipline). The "trending" read is a
  * top-k over the latest snapshot.
  *
  * The maintained invariant is MERGE-EQUALS-REBUILD (the x128 BM25
  * discipline): counts accumulated batch-by-batch are identical to one
  * count over everything, because per-token sums are associative — the
  * x152 twin exploits exactly this: the oracle counts the WHOLE corpus
  * in one pass and must hash-match the Spark side's standing+batch
  * merge. Scale shape: each batch aggregates only itself; the standing
  * state is one (token, n) row per distinct token — kilobytes per
  * million types — and the merge is a keyed sum, map-side combinable.
  */
object TrendingTokens {

  /** Token counts of a (doc_id, text) frame — the x06 tokenization. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(explode(TextAnalysis.wsTokens(lower(col("text")))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))

  /** Associative merge of count snapshots. */
  def mergeCounts(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("token")).agg(sum(col("n")).as("n"))

  /** Deterministic top-k of a counts frame: (n desc, token). Two-phase
    * ([[TopKPerKey.twoPhase]]): the global window ranks at most
    * k·partitions rows — never the whole vocabulary.
    */
  def topK(counts: DataFrame, k: Int): DataFrame =
    TopKPerKey.twoPhase(counts, Nil, Seq(col("n").desc, col("token")), k)
      .select(col("token"), col("n"), col("rank"))
      .orderBy(col("rank"))

  /** x152: the maintained-counts core as a graded batch twin — docs
    * with doc_id >= `splitAt` play one arriving micro-batch, the rest
    * play the standing snapshot, and the oracle is the FULL REBUILD:
    * if the merge ever drops, double-adds, or splits a token, the
    * hash gate goes red.
    */
  def trendingTwin(s: SparkSession, dir: String, splitAt: Long = 300L,
      k: Int = 20): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val standing = tokenCounts(docs.filter(col("doc_id") < splitAt))
    val merged = mergeCounts(standing,
      tokenCounts(docs.filter(col("doc_id") >= splitAt)))
    topK(merged, k)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x152_trending_tokens" -> ((s: SparkSession, dir: String) => trendingTwin(s, dir)))

  val oracles: Map[String, String] = Map(
    // the rebuild IS the oracle (merge-equals-rebuild): whole-corpus
    // counts, the same (n desc, token) top-20
    "x152_trending_tokens" ->
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY token)
        |SELECT token, n, CAST(rank AS INT) AS rank FROM (
        |  SELECT token, n,
        |    row_number() OVER (ORDER BY n DESC, token) AS rank
        |  FROM c) WHERE rank <= 20 ORDER BY rank""".stripMargin)

  /** The streaming runner: per micro-batch, merge the batch's counts
    * into the latest committed snapshot (or the batch-corpus counts on
    * the first batch) and publish as version `batchId`. Exactly-once
    * under replay via commitIfAbsent.
    */
  def streamingTrendingTokens(s: SparkSession, docs: DataFrame, dir: String,
      root: String, checkpoint: String): StreamingQuery =
    SnapshotIngest.toVersioned(docs, root, checkpoint) { (batch, _) =>
      val standing = VersionedTable.latestVersion(s, root) match {
        case Some(v) => VersionedTable.read(s, root, Some(v))
          .select(col("token"), col("n"))
        case None => tokenCounts(
          Tables(s, dir, "documents").select(col("doc_id"), col("text")))
      }
      mergeCounts(standing, tokenCounts(batch))
    }
}
