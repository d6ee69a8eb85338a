package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.engine.{SessionMemo, Tables}
import graft.engine.Pin.PinOps
import graft.plans.TopKPerKey

/** Retrieval operators over the `documents` + `embeddings` tables: Okapi
  * BM25 lexical search and lexical∪semantic hybrid fusion — the index-side
  * half of a RAG / retrieval-eval pipeline, expressed as pure DataFrame
  * plans.
  *
  * Determinism discipline (the x07/x54 rules): no libm `log` — BM25's idf
  * uses the exact rational Robertson form (N-df+0.5)/(df+0.5), which is
  * monotone in df exactly like log-idf, so rankings are the classic ones
  * while every double op is IEEE-exact-or-correctly-rounded and
  * cross-engine reproducible; per-document score sums fold in ascending
  * value order (array_sort ↔ ORDER BY) so they match DuckDB bitwise.
  *
  * Scale shape: one exploded-token pass feeds tf/df/dl; the query-term set
  * and the corpus-level stats are broadcast (queries are small by
  * definition); the candidate set is bounded by the postings of the query
  * terms — the classic impact-ordered-postings bound — and the top-k is
  * one rank window per query (a partial WindowGroupLimit below its
  * shuffle), never a single-partition sort of all candidates.
  */
object Retrieval {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.splitCorpus(s, dir, n)

  private def d(c: Column): Column = c.cast(DoubleType)

  private val PerQuery = Seq(col("query_id"))

  /** The total order of every ranking here: `by` desc, then doc_id. */
  private def byDesc(by: String): Seq[Column] = Seq(col(by).desc, col("doc_id"))

  /** A BM25 inverted index as four mergeable frames — the artifact a
    * daily ingest PERSISTS next to its batch partition: `tf` and `dl`
    * are doc-grain (disjoint batches union trivially), `df` and `stats`
    * are count partials (merge = sum). At 100 TB, today's run tokenizes
    * only today's documents; the serving index is a union of partials,
    * never a re-scan of history.
    */
  final case class Bm25Index(tf: DataFrame, dl: DataFrame,
      df: DataFrame, stats: DataFrame)

  /** Build the index partial for a (doc_id, text) frame. The corpus is
    * tokenized ONCE: `tf` materializes (localCheckpoint — the in-session
    * analog of persisting the index partial to the warehouse) and
    * `dl`/`df`/`stats` derive from it (dl = Σ tf per doc), instead of
    * each branch re-exploding the text — 1 token pass, not 4.
    */
  def bm25Build(docs: DataFrame): Bm25Index =
    indexFromTf(tfPartial(docs).pinned)

  /** The doc-grain term-frequency partial for a (doc_id, text) batch —
    * the ONE artifact an ingest persists; everything else derives.
    */
  def tfPartial(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), explode(TextAnalysis.wsTokens(lower(col("text")))).as("term"))
    .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))

  /** Derive the full index from a (possibly unioned) tf frame:
    * dl = Σ tf per doc, df and corpus stats re-aggregate.
    */
  def indexFromTf(tf: DataFrame): Bm25Index = {
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    Bm25Index(tf, dl, df, stats)
  }

  /** Merge index partials over disjoint document batches: doc-grain
    * frames union; count partials re-aggregate with map-side combine.
    * Associative and commutative — a 1000-partial merge is a tree
    * reduction, and merged-then-scored is bit-identical to
    * built-from-scratch (x128's gate).
    */
  def bm25Merge(parts: Seq[Bm25Index]): Bm25Index = Bm25Index(
    tf = parts.map(_.tf).reduce(_ unionByName _),
    dl = parts.map(_.dl).reduce(_ unionByName _),
    df = parts.map(_.df).reduce(_ unionByName _)
      .groupBy(col("term")).agg(sum(col("df")).as("df")),
    stats = parts.map(_.stats).reduce(_ unionByName _)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("total_len")).as("total_len")))

  /** The BM25-scored candidate frame over a prebuilt index: one row per
    * (query_id, doc_id, term) hit with the per-term Okapi score. The
    * query docs' own rows are excluded.
    */
  /** The per-term Okapi score column — idf: rational Robertson
    * (N - df + 0.5) / (df + 0.5); tf leg: tf*(k1+1) / (tf + k1*(1 - b +
    * b*dl/avgdl)). Spelled exactly as the DuckDB twin spells it — same
    * expression tree, same rounding. Shared by the plain (x123) and
    * weighted (x143 RM3) scorers so the two can never drift.
    */
  private def okapiTsc(k1: Double, b: Double): Column = {
    val idf = (d(col("n_docs")) - d(col("df")) + lit(0.5)) / (d(col("df")) + lit(0.5))
    val avgdl = d(col("total_len")) / d(col("n_docs"))
    val denom = d(col("tf")) + lit(k1) * (lit(1.0 - b) + lit(b) * d(col("dl")) / avgdl)
    idf * (d(col("tf")) * lit(k1 + 1.0)) / denom
  }

  private def bm25ScoreIndex(ix: Bm25Index, qterms: DataFrame,
      k1: Double, b: Double): DataFrame =
    ix.tf.join(broadcast(qterms), Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .join(ix.df, Seq("term"))
      .join(ix.dl, Seq("doc_id"))
      .crossJoin(broadcast(ix.stats))
      .select(col("query_id"), col("doc_id"), okapiTsc(k1, b).as("tsc"))

  /** Full ranking from a prebuilt index: per-(query,doc) pinned-fold
    * score sum, then the per-query top-k — public so the streaming
    * ingest's snapshot-derived index serves through the same path the
    * batch queries gate.
    */
  def bm25TopkFromIndex(ix: Bm25Index, qterms: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val perDoc = bm25ScoreIndex(ix, qterms, k1, b)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_hit_terms"),
        aggregate(array_sort(collect_list(col("tsc"))), lit(0.0), (a, v) => a + v)
          .as("score"))
    TopKPerKey.ranked(perDoc, PerQuery, byDesc("score"), k)
      .select(col("query_id"), col("doc_id"), col("n_hit_terms"), col("score"),
        col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Query-by-example term sets: the distinct vocabulary of each query
    * document (doc_id < numQueries).
    */
  def queryTerms(s: SparkSession, dir: String, numQueries: Int): DataFrame =
    t(s, dir, "documents").filter(col("doc_id") < numQueries)
      .select(col("doc_id").as("query_id"),
        explode(TextAnalysis.wsTokens(lower(col("text")))).as("term"))
      .distinct()

  /** The full-corpus index is consumed by x123 AND x124's lexical leg —
    * built once per (session, dataset), the cosineTopk discipline.
    */
  private val indexCache = SessionMemo[String, Bm25Index]("Retrieval.index")

  private def fullIndex(s: SparkSession, dir: String): Bm25Index =
    indexCache(s, dir)(
      bm25Build(t(s, dir, "documents").select(col("doc_id"), col("text"))))

  private def bm25Scored(s: SparkSession, dir: String, numQueries: Int,
      k1: Double, b: Double): DataFrame =
    bm25ScoreIndex(fullIndex(s, dir), queryTerms(s, dir, numQueries), k1, b)

  /** x123: BM25 top-k — for each query document (doc_id < numQueries),
    * the k corpus documents with the highest summed Okapi BM25 term
    * scores over the query's vocabulary. Score sums fold in ascending
    * order so the doubles hash-compare against DuckDB.
    */
  def bm25Topk(s: SparkSession, dir: String, numQueries: Int = 3,
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25TopkFromIndex(fullIndex(s, dir), queryTerms(s, dir, numQueries), k, k1, b)

  // ---------------------------------------------------------------------
  // MaxScore pruned evaluation (x168/x169)
  // ---------------------------------------------------------------------

  /** Per-term score upper bound ub(t) = max over the term's posting list
    * of the Okapi contribution — the impact metadata a disk-resident
    * index stores next to each posting list (Turtle & Flood 1995; the
    * whole-list bound of Broder et al.'s WAND, CIKM'03). One aggregate
    * pass over `tf` at index-build time, amortized across every query
    * the index ever serves — cached per (session, dataset) exactly like
    * the index itself.
    */
  def termBounds(ix: Bm25Index, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    ix.tf.join(ix.df, Seq("term")).join(ix.dl, Seq("doc_id"))
      .crossJoin(broadcast(ix.stats))
      .groupBy(col("term")).agg(max(okapiTsc(k1, b)).as("ub"))

  private val boundsCache = SessionMemo[String, DataFrame]("Retrieval.bounds")

  private def fullBounds(s: SparkSession, dir: String): DataFrame =
    boundsCache(s, dir)(
      termBounds(fullIndex(s, dir)).pinned)

  /** MaxScore evaluation core (Turtle & Flood 1995): returns the pruned
    * top-k ranking — PROVABLY identical to [[bm25TopkFromIndex]] — plus
    * the per-query pruning audit. The steps, with the exactness argument:
    *
    *  1. Threshold seeding: take the documents hit by each query's
    *     `seedTerms` RAREST terms (smallest df — the cheapest posting
    *     lists) and score them FULLY. The k-th largest of those true
    *     scores θ is a lower bound on the global k-th best (order
    *     statistics over a subset are dominated by those over the whole
    *     set; fewer than k seed hits → θ = 0, no pruning, still exact).
    *     Full-scoring the seed pool costs one candidate pass bounded by
    *     the rare terms' postings — and buys a θ near the true k-th
    *     score, because high-idf terms dominate the winners' scores.
    *  2. Partition: sort the query's terms by (ub asc, term); the
    *     maximal prefix P with Σ ub < θ (strict) is non-essential. Any
    *     document matching ONLY P-terms scores <= Σ_P ub < θ <= k-th
    *     true score, so it can neither enter the top k nor displace a
    *     tie (ties break by doc_id AFTER score, and its score is
    *     STRICTLY below). ub > 0 makes the running sum strictly
    *     increasing, so {cum < θ} is automatically a prefix, and the
    *     last term is always essential (its cum bounds the θ-achieving
    *     document's score from above).
    *  3. Candidates = documents with at least one essential-term
    *     posting; score them FULLY (all query terms) through the exact
    *     x123 pipeline — same expression tree, same pinned ascending
    *     fold — then the per-query top-k.
    *
    * The 100 TB shape: the corpus-sized joins touch only the seed
    * postings (rarest terms — the shortest lists), the essential-term
    * postings, and the candidates' own rows. A stopword in the query no
    * longer drags its billion-entry posting list through the scoring
    * join unless the threshold genuinely requires it — the x169 audit
    * measures exactly how many posting entries the partition excused.
    *
    * Determinism: the prefix's running sums fold over an array sorted
    * by (ub, term) via `aggregate(slice(...))` — the same sequential
    * left fold the DuckDB twin spells with `list_reduce(list_slice)` —
    * and every score sum is the pinned x123 fold.
    */
  def maxscoreFromIndex(ix: Bm25Index, bounds: DataFrame, qterms: DataFrame,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      seedTerms: Int = 3): (DataFrame, DataFrame) = {
    val core = msPartition(ix, bounds, qterms, k, k1, b, seedTerms)
    val cand = ix.tf.join(broadcast(core.essential), Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id")).distinct()
    val (result, scoredPairs) = scoreCandidates(ix, qterms, cand, k, k1, b)
    // audit: how much work the partition excused, per query
    val essAgg = core.essential.join(ix.df, Seq("term"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_essential"), sum(col("df")).as("postings_essential"))
    val candCounts = cand.groupBy(col("query_id")).agg(count(lit(1)).as("n_candidates"))
    val pairCounts = scoredPairs.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_scored_pairs"))
    val stats = msBaseStats(core)
      .join(essAgg, Seq("query_id"))
      .join(candCounts, Seq("query_id"))
      .join(pairCounts, Seq("query_id"))
      .select(col("query_id"), col("n_terms"), col("n_seed"), col("n_seed_docs"),
        col("theta"), col("n_essential"), col("postings_total"),
        col("postings_essential"), col("n_candidates"), col("n_scored_pairs"))
      .orderBy(col("query_id"))
    (result, stats)
  }

  /** The shared threshold/partition intermediates of the MaxScore family. */
  private final case class MsCore(qt: DataFrame, seed: DataFrame,
      seedCand: DataFrame, theta: DataFrame, essential: DataFrame)

  private def msPartition(ix: Bm25Index, bounds: DataFrame, qterms: DataFrame,
      k: Int, k1: Double, b: Double, seedTerms: Int): MsCore = {
    val qt = qterms.join(ix.df, Seq("term")).join(bounds, Seq("term"))
      .select(col("query_id"), col("term"), col("df"), col("ub"))
      .pinned // queries × query-vocab: tiny by definition
    val seed = TopKPerKey.ranked(qt, PerQuery, Seq(col("df").asc, col("term").asc), seedTerms)
      .select(col("query_id"), col("term"))
    val seedCand = ix.tf.join(broadcast(seed), Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id")).distinct()
      .pinned // bounded by the rare terms' postings
    val partial = ix.tf.join(broadcast(qterms), Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .join(seedCand, Seq("query_id", "doc_id"), "left_semi")
      .join(ix.df, Seq("term")).join(ix.dl, Seq("doc_id"))
      .crossJoin(broadcast(ix.stats))
      .select(col("query_id"), col("doc_id"), okapiTsc(k1, b).as("tsc"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(aggregate(array_sort(collect_list(col("tsc"))), lit(0.0), (a, v) => a + v)
        .as("pscore"))
    val thetaRows = TopKPerKey.ranked(partial, PerQuery, byDesc("pscore"), k)
      .filter(col("rank") === k)
      .select(col("query_id"), col("pscore").as("theta"))
    val theta = qt.select(col("query_id")).distinct()
      .join(thetaRows, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("theta"), lit(0.0)).as("theta"))
    // ascending-(ub, term) term array per query; the non-essential count
    // is the length of the strict-< prefix of its running-ub-sum array
    val qarr = qt.groupBy(col("query_id"))
      .agg(array_sort(collect_list(struct(col("ub"), col("term")))).as("terms"))
      .join(broadcast(theta), Seq("query_id"))
      .withColumn("noness", size(filter(
        transform(sequence(lit(1), size(col("terms"))),
          i => aggregate(slice(col("terms"), lit(1), i), lit(0.0),
            (a, v) => a + v.getField("ub"))),
        c => c < col("theta"))))
      .pinned
    val essential = qarr
      .select(col("query_id"),
        explode(slice(col("terms"), col("noness") + 1,
          size(col("terms")) - col("noness"))).as("t"))
      .select(col("query_id"), col("t").getField("term").as("term"))
    MsCore(qt, seed, seedCand, theta, essential)
  }

  /** Full scoring restricted to a (query_id, doc_id) candidate frame —
    * the exact x123 pipeline — returning (ranked top-k, scored pairs).
    */
  private def scoreCandidates(ix: Bm25Index, qterms: DataFrame, cand: DataFrame,
      k: Int, k1: Double, b: Double): (DataFrame, DataFrame) = {
    val scoredPairs = ix.tf.join(broadcast(qterms), Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .join(cand, Seq("query_id", "doc_id"), "left_semi")
      .join(ix.df, Seq("term")).join(ix.dl, Seq("doc_id"))
      .crossJoin(broadcast(ix.stats))
      .select(col("query_id"), col("doc_id"), okapiTsc(k1, b).as("tsc"))
    val perDoc = scoredPairs.groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_hit_terms"),
        aggregate(array_sort(collect_list(col("tsc"))), lit(0.0), (a, v) => a + v)
          .as("score"))
    val result = TopKPerKey.ranked(perDoc, PerQuery, byDesc("score"), k)
      .select(col("query_id"), col("doc_id"), col("n_hit_terms"), col("score"),
        col("rank"))
      .orderBy(col("query_id"), col("rank"))
    (result, scoredPairs)
  }

  private def msBaseStats(core: MsCore): DataFrame = {
    val perQueryTerms = core.qt.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("df")).as("postings_total"))
    val seedCounts = core.seed.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_seed"))
    val seedDocCounts = core.seedCand.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_seed_docs"))
    perQueryTerms
      .join(seedCounts, Seq("query_id"))
      .join(seedDocCounts, Seq("query_id"))
      .join(broadcast(core.theta), Seq("query_id"))
  }

  /** x168/x169 share one evaluation per (session, dataset); both outputs
    * are a handful of rows, materialized once (the ivfpqModelCache
    * discipline).
    */
  private val msCache = SessionMemo[String, (DataFrame, DataFrame)]("Retrieval.ms")

  private def maxscoreCached(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    msCache(s, dir) {
      val (res, st) = maxscoreFromIndex(fullIndex(s, dir), fullBounds(s, dir),
        queryTerms(s, dir, 3), 10)
      (res.pinned, st.pinned)
    }

  /** x168: MaxScore-pruned BM25 top-k. The oracle is x123's full-scoring
    * SQL VERBATIM — the gate proves the pruned evaluation returns the
    * exact full ranking, which is the entire point of a safe-pruning
    * algorithm.
    */
  def maxscoreTopk(s: SparkSession, dir: String): DataFrame = maxscoreCached(s, dir)._1

  /** x169: the MaxScore pruning audit — θ, the essential/non-essential
    * term split, and the posting-entry counts the partition excused,
    * per query. Gated against a DuckDB twin that recomputes the whole
    * partition arithmetic independently.
    */
  def maxscoreStats(s: SparkSession, dir: String): DataFrame = maxscoreCached(s, dir)._2

  // ---------------------------------------------------------------------
  // Block-Max refinement (x176/x177)
  // ---------------------------------------------------------------------

  /** Posting blocks: 64 consecutive doc_ids (a stand-in for the
    * physical posting block of a disk index — at cluster scale the
    * block is the shard/row-group and this metadata is its footer).
    */
  val BlockShift: Int = 6

  /** Per-(term, block) score upper bounds — the Block-Max metadata of
    * Ding & Suel SIGIR'11 (BMW): the same index-build aggregate as
    * [[termBounds]], one level finer.
    */
  def blockBounds(ix: Bm25Index, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    ix.tf.join(ix.df, Seq("term")).join(ix.dl, Seq("doc_id"))
      .crossJoin(broadcast(ix.stats))
      .groupBy(col("term"), shiftright(col("doc_id"), BlockShift).as("blk"))
      .agg(max(okapiTsc(k1, b)).as("bub"))

  private val blockBoundsCache = SessionMemo[String, DataFrame]("Retrieval.blockBounds")

  private def fullBlockBounds(s: SparkSession, dir: String): DataFrame =
    blockBoundsCache(s, dir)(
      blockBounds(fullIndex(s, dir)).pinned)

  /** Block-Max pruned evaluation: the x168 MaxScore partition PLUS a
    * block-grain filter — a block survives only if the sum of its
    * per-term block bounds over the query's vocabulary reaches θ
    * (pinned ascending fold). Any document of a pruned block scores
    * ≤ Σ_t bub(t, block) < θ ≤ the true k-th best, so dropping the
    * block is safe even though it may hold essential-term postings —
    * the refinement that prunes WHERE the essential terms' lists are
    * locally weak, which whole-list bounds cannot see. Candidates =
    * essential-term postings ∩ surviving blocks; scoring is the exact
    * x123 pipeline, so the oracle is again the full ranking verbatim.
    */
  def blockmaxFromIndex(ix: Bm25Index, bounds: DataFrame, blkBounds: DataFrame,
      qterms: DataFrame, k: Int, k1: Double = 1.2, b: Double = 0.75,
      seedTerms: Int = 3): (DataFrame, DataFrame) = {
    val core = msPartition(ix, bounds, qterms, k, k1, b, seedTerms)
    val qtTerms = core.qt.select(col("query_id"), col("term"))
    val bsum = blkBounds.join(broadcast(qtTerms), Seq("term"))
      .groupBy(col("query_id"), col("blk"))
      .agg(aggregate(
        array_sort(collect_list(struct(col("bub"), col("term")))),
        lit(0.0), (a, v) => a + v.getField("bub")).as("bub_sum"))
      .pinned // queries × touched blocks: block-count sized
    val surviving = bsum.join(broadcast(core.theta), Seq("query_id"))
      .filter(col("bub_sum") >= col("theta"))
      .select(col("query_id"), col("blk"))
    val cand = ix.tf.join(broadcast(core.essential), Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("blk", shiftright(col("doc_id"), BlockShift))
      .join(surviving, Seq("query_id", "blk"), "left_semi")
      .select(col("query_id"), col("doc_id")).distinct()
    val (result, scoredPairs) = scoreCandidates(ix, qterms, cand, k, k1, b)
    val blocksTotal = bsum.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_blocks_total"))
    val blocksSurv = surviving.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_blocks_survived"))
    val candCounts = cand.groupBy(col("query_id")).agg(count(lit(1)).as("n_candidates"))
    val pairCounts = scoredPairs.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_scored_pairs"))
    val stats = core.theta
      .join(blocksTotal, Seq("query_id"))
      .join(blocksSurv, Seq("query_id"))
      .join(candCounts, Seq("query_id"))
      .join(pairCounts, Seq("query_id"))
      .select(col("query_id"), col("theta"), col("n_blocks_total"),
        col("n_blocks_survived"), col("n_candidates"), col("n_scored_pairs"))
      .orderBy(col("query_id"))
    (result, stats)
  }

  private val bmCache = SessionMemo[String, (DataFrame, DataFrame)]("Retrieval.bm")

  private def blockmaxCached(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    bmCache(s, dir) {
      val (res, st) = blockmaxFromIndex(fullIndex(s, dir), fullBounds(s, dir),
        fullBlockBounds(s, dir), queryTerms(s, dir, 3), 10)
      (res.pinned, st.pinned)
    }

  /** x176: Block-Max pruned BM25 top-k — oracle: the full ranking SQL
    * verbatim, the same exactness gate as x168.
    */
  def blockmaxTopk(s: SparkSession, dir: String): DataFrame = blockmaxCached(s, dir)._1

  /** x177: the Block-Max audit — blocks touched vs blocks surviving the
    * θ filter, candidates and scored pairs under the combined pruning.
    */
  def blockmaxStats(s: SparkSession, dir: String): DataFrame = blockmaxCached(s, dir)._2

  /** The lexical leg for fusion: BM25 ranking to a candidate pool of
    * `poolK` per query.
    */
  private def lexRanked(s: SparkSession, dir: String, numQueries: Int,
      poolK: Int): DataFrame = {
    val perDoc = bm25Scored(s, dir, numQueries, 1.2, 0.75)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(aggregate(array_sort(collect_list(col("tsc"))), lit(0.0), (a, v) => a + v)
        .as("score"))
    TopKPerKey.ranked(perDoc, PerQuery, byDesc("score"), poolK)
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
  }

  /** The semantic leg: exact-cosine ranking of the embeddings table to
    * `poolK` per query, identifying vec_id with doc_id (the embeddings
    * fixture is the documents' embedding column, same id space).
    */
  private def semRanked(s: SparkSession, dir: String, numQueries: Int,
      poolK: Int): DataFrame = {
    val scored = Similarity.exactScored(Similarity.corpus(s, dir), numQueries)
      .withColumnRenamed("vec_id", "doc_id")
    TopKPerKey.ranked(scored, PerQuery, byDesc("cosine"), poolK)
      .select(col("query_id"), col("doc_id"), col("rank").as("sem_rank"))
  }

  /** x124: hybrid retrieval by reciprocal-rank fusion — the standard
    * RRF(d) = Σ_legs 1/(60 + rank_leg(d)) over a lexical BM25 pool and a
    * semantic exact-cosine pool (poolK each), full-outer joined so a doc
    * surfaced by only one leg still scores (the other leg contributes 0).
    * Rank arithmetic is integer → one double division per leg, fixed
    * lex-then-sem addition order: bit-reproducible. At scale both legs
    * are already tiny top-poolK frames, so the fusion join is a few
    * poolK·numQueries rows regardless of corpus size.
    */
  def hybridRrf(s: SparkSession, dir: String, numQueries: Int = 3,
      poolK: Int = 50, k: Int = 10): DataFrame = {
    val lex = lexRanked(s, dir, numQueries, poolK)
    val sem = semRanked(s, dir, numQueries, poolK)
    val fused = lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"), col("lex_rank"), col("sem_rank"),
        (coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("sem_rank")), lit(0.0))).as("rrf_score"))
    TopKPerKey.ranked(fused, PerQuery, byDesc("rrf_score"), k)
      .select(col("query_id"), col("doc_id"), col("lex_rank"), col("sem_rank"),
        col("rrf_score"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** x128: incremental BM25 — the corpus arrives as disjoint ingest
    * batches (simulated by a doc_id split), each batch builds its index
    * partial independently, partials merge, and the merged index serves
    * the same ranking. The oracle is the FULL-REBUILD SQL (x123's text
    * verbatim): the gate proves merge-equals-rebuild bit for bit, which
    * is exactly the invariant a daily 100 TB index pipeline lives on.
    */
  def incrBm25Topk(s: SparkSession, dir: String, splitAt: Long = 400L,
      numQueries: Int = 3, k: Int = 10): DataFrame = {
    // r20 optimization round (guide §1.2): tokenization is per-document,
    // so a batch partial's tf frame is exactly the full-corpus tf
    // restricted to the batch — derive both partials from the memoized
    // pinned tf that x123/x124/x143 already share instead of running two
    // more full tokenize passes. The partials, the merge, and the
    // merge-equals-rebuild gate are unchanged: indexFromTf re-derives
    // each batch's dl/df/stats from its own tf rows, and bm25Merge still
    // proves merged-then-scored equals built-from-scratch bit for bit.
    val tf = fullIndex(s, dir).tf
    val parts = Seq(
      indexFromTf(tf.filter(col("doc_id") < splitAt)),
      indexFromTf(tf.filter(col("doc_id") >= splitAt)))
    bm25TopkFromIndex(bm25Merge(parts), queryTerms(s, dir, numQueries), k)
  }

  /** x129: maximal-marginal-relevance rerank (Carbonell & Goldstein 1998)
    * — greedy diversified selection from each query's cosine top-`poolN`
    * pool: step 1 takes the most relevant doc, step i takes
    * argmax λ·rel(d) − (1−λ)·max_{s∈chosen} sim(d,s). The workhorse for
    * redundancy-free rerank pools and diversity-aware data selection.
    *
    * Shape: the pool (poolN per query) and its within-pool pairwise
    * similarities (≤ poolN² per query) are checkpointed ONCE; the greedy
    * loop is k−1 joins over those tiny frames — constant-size work per
    * query regardless of corpus size, because diversification happens
    * strictly inside the rerank pool (the scale-correct place). No
    * collect: each step is a DataFrame argmax (window rn=1), and k is a
    * fixed parameter, not data-dependent.
    *
    * Determinism: rel and sim are the x20 pinned-fold cosines; every
    * step orders by the same (score desc, doc_id) key the unrolled
    * DuckDB twin uses; max-over-selected is exact selection, and the
    * λ-arithmetic is one fixed double tree.
    */
  def mmrRerank(s: SparkSession, dir: String, numQueries: Int = 3,
      poolN: Int = 20, k: Int = 5): DataFrame =
    mmrCache(s, (dir, numQueries, poolN, k))(
      mmrRerankPlan(s, dir, numQueries, poolN, k).pinned)
      .orderBy(col("query_id"), col("step"))

  /** Memoized per (session, dataset, params) — x129 and the x223
    * cross-encoder stage both consume this frame (r19 optimization
    * round; the repPairsCached pattern). */
  private val mmrCache = SessionMemo[(String, Int, Int, Int), DataFrame]("Retrieval.mmr")

  private def mmrRerankPlan(s: SparkSession, dir: String, numQueries: Int,
      poolN: Int, k: Int): DataFrame = {
    val c = Similarity.corpus(s, dir)
    val scored = Similarity.exactScored(c, numQueries).withColumnRenamed("vec_id", "doc_id")
    val pool = TopKPerKey.ranked(scored, PerQuery, byDesc("cosine"), poolN)
      .select(col("query_id"), col("doc_id"), col("cosine").as("rel"))
    // r19 optimization round: the greedy selection runs on the DRIVER
    // over the collected pool. The pool is PARAMETER-bounded —
    // ≤ numQueries·poolN rows at any corpus size (the bounded-collect
    // class: the k-centroid and seed collects) — and the previous
    // k-step DataFrame loop cost ~50 stages (a window, two joins and a
    // localCheckpoint per step) for work on ≤ 60 rows. Arithmetic is
    // bit-identical: the same left-fold dotD order (a sequential
    // product-sum loop over the float arrays, float→double per
    // element), IEEE max for the running similarity ceiling (max is
    // order-insensitive), the same 0.7·rel − 0.3·simmax double tree,
    // and the same (desc score, asc doc_id) tie rule the window used.
    val pe = pool.join(c, pool("doc_id") === c("vec_id"))
      .select(col("query_id"), col("doc_id"), col("rel"), col("embedding"),
        col("nrm"))
      .collect()
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    final case class Cand(docId: Long, rel: Double, emb: Array[Float],
      nrm: Double, var simmax: Double)
    val byQuery = pe.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
    val out = new scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.Row]()
    for ((qid, rows) <- byQuery) {
      // simmax starts at −∞: it is the max over CHOSEN sims only, and
      // all-negative cosines must surface as a negative simmax (the
      // original aggregate had no 0.0 floor); the first update after
      // step 1 replaces the sentinel via math.max(−∞, sim) = sim
      var remaining = rows.toSeq.map(r => Cand(r.getLong(1), r.getDouble(2),
        r.getSeq[Float](3).toArray, r.getDouble(4), Double.NegativeInfinity))
      var step = 1
      while (step <= k && remaining.nonEmpty) {
        // step 1 ranks by rel alone (the seeded first row's window);
        // later steps by the mmr score — both with the asc doc_id tie
        val best = remaining.reduceLeft { (a, b) =>
          val sa = if (step == 1) a.rel else 0.7 * a.rel - 0.3 * a.simmax
          val sb = if (step == 1) b.rel else 0.7 * b.rel - 0.3 * b.simmax
          if (sb > sa || (sb == sa && b.docId < a.docId)) b else a
        }
        out += org.apache.spark.sql.Row(qid, step, best.docId, best.rel,
          if (step == 1) 0.0 else best.simmax)
        remaining = remaining.filterNot(_.docId == best.docId)
        remaining.foreach { cnd =>
          cnd.simmax = math.max(cnd.simmax,
            dot(cnd.emb, best.emb) / (cnd.nrm * best.nrm))
        }
        step += 1
      }
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("step", IntegerType, nullable = false),
      StructField("doc_id", LongType, nullable = false),
      StructField("rel", DoubleType, nullable = false),
      StructField("simmax", DoubleType, nullable = false)))
    import scala.jdk.CollectionConverters._
    s.createDataFrame(out.toSeq.asJava, schema)
      .select(col("query_id"), col("step"), col("doc_id"), col("rel"),
        col("simmax"),
        (lit(0.7) * col("rel") - lit(0.3) * col("simmax")).as("mmr_score"))
  }

  /** Deterministic stand-in for a learned cross-encoder — the multimodal
    * stub discipline (the decode arm of x111/x115): the PLUMBING a real
    * model server needs is all here and real — pair construction,
    * iterator-to-iterator `mapPartitions`, fixed-size batch accumulation
    * (the GPU-inference shape), scores rejoined by position — while the
    * model itself is a deterministic fake the DuckDB twin replays
    * exactly: distinct-whitespace-token Jaccard of the pair's lowercased
    * texts. Swapping in a real cross-encoder changes `scoreBatch` alone.
    */
  object CrossEncoder {
    /** Spark `split(trim(lower(text)), "\\s+")` parity, the QualityCounts
      * lesson: Spark's trim strips ASCII SPACES only (never \t\n), and
      * split's default limit -1 keeps leading/trailing empty tokens.
      */
    private def wsTokenSet(text: String): Set[String] = {
      var i = 0
      var j = text.length
      while (i < j && text.charAt(i) == ' ') i += 1
      while (j > i && text.charAt(j - 1) == ' ') j -= 1
      text.substring(i, j).split("\\s+", -1).toSet
    }

    /** (n_common, n_union, score): distinct-token Jaccard — exact integer
      * counts, one IEEE division, cross-engine reproducible.
      */
    def score(q: String, d: String): (Long, Long, Double) = {
      val a = wsTokenSet(q)
      val b = wsTokenSet(d)
      val nc = a.count(b).toLong
      val nu = a.size.toLong + b.size.toLong - nc
      (nc, nu, nc.toDouble / nu.toDouble)
    }

    /** The batched-inference seam a model server would implement. */
    def scoreBatch(pairs: Seq[(String, String)]): Seq[(Long, Long, Double)] =
      pairs.map { case (q, d) => score(q, d) }
  }

  /** x223: cross-encoder-style rerank over the x129 MMR output — the
    * standard retrieval stack's last stage (bi-encoder recall → MMR
    * diversification → cross-encoder precision): every (query, doc)
    * pair surviving MMR is re-scored by a pairwise model over the TEXTS
    * (vec_id ≡ doc_id, the x124 identification) and re-ranked by
    * (score desc, doc_id). Scale shape: the pair frame is
    * numQueries·k rows — rerank cost is independent of corpus size,
    * which is the entire point of running the expensive pairwise model
    * AFTER the cheap recall stages; the batched `mapPartitions` is the
    * x30 media-decode shape, so a real model drops in without touching
    * the plan.
    */
  def crossEncoderRerank(s: SparkSession, dir: String, numQueries: Int = 3,
      poolN: Int = 20, k: Int = 5, batchSize: Int = 32): DataFrame = {
    import s.implicits._
    val pool = mmrRerank(s, dir, numQueries, poolN, k)
      .select(col("query_id"), col("step").as("mmr_step"), col("doc_id"))
    val txt = t(s, dir, "documents")
      .select(col("doc_id"), lower(col("text")).as("lt"))
    val pairs = pool
      .join(txt.select(col("doc_id").as("query_id"), col("lt").as("q_text")),
        "query_id")
      .join(txt.select(col("doc_id"), col("lt").as("d_text")), "doc_id")
      .select(col("query_id"), col("mmr_step"), col("doc_id"),
        col("q_text"), col("d_text"))
      .as[(Long, Int, Long, String, String)]
    val scored = pairs.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val scores = CrossEncoder.scoreBatch(batch.map(p => (p._4, p._5)))
        batch.zip(scores).map { case ((qid, step, did, _, _), (nc, nu, sc)) =>
          (qid, step, did, nc, nu, sc)
        }
      }
    }.toDF("query_id", "mmr_step", "doc_id", "n_common", "n_union", "ce_score")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("ce_score").desc, col("doc_id"))
    scored.withColumn("ce_rank", row_number().over(w))
      .select(col("query_id"), col("ce_rank"), col("doc_id"), col("mmr_step"),
        col("n_common"), col("n_union"), col("ce_score"))
      .orderBy(col("query_id"), col("ce_rank"))
  }

  /** x134: label-grounded evaluation of the LEXICAL lane — precision@k /
    * recall@k of the x123 BM25 ranking against the embeddings labels
    * (vec_id ≡ doc_id, the x124 identification), the counterpart of
    * x105's kNN eval for the semantic lane: a retrieval pipeline reads
    * the two side by side to decide the fusion weights x124 commits to.
    * All counts integer (hits, class sizes); the only doubles are the
    * two closing ratios; `first_hit_rank` stays null when the top-k has
    * no relevant doc — identically in both engines. The top-k frames are
    * numQueries·k rows, class sizes a labels-sized broadcast: eval cost
    * is independent of corpus size.
    */
  def bm25LabelEval(s: SparkSession, dir: String,
      numQueries: Int = 3, k: Int = 10): DataFrame = {
    val lab = t(s, dir, "embeddings").select(col("vec_id"), col("label"))
    val ql = lab.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"))
    val classSizes = lab.groupBy(col("label")).agg(count(lit(1)).as("n_class"))
    val hits = bm25Topk(s, dir, numQueries, k)
      .join(lab.withColumnRenamed("vec_id", "doc_id"), "doc_id")
      .join(broadcast(ql), "query_id")
      .groupBy(col("query_id"), col("qlabel"))
      .agg(sum(when(col("label") === col("qlabel"), 1L).otherwise(0L)).as("n_hits"),
        min(when(col("label") === col("qlabel"), col("rank")))
          .cast("long").as("first_hit_rank"))
    hits.join(broadcast(classSizes), col("qlabel") === col("label"))
      .select(col("query_id"), col("qlabel").as("label"),
        (col("n_class") - 1).as("n_rel_corpus"), col("n_hits"),
        (col("n_hits").cast(DoubleType) / lit(k.toDouble)).as("precision_at_k"),
        (col("n_hits").cast(DoubleType) / (col("n_class") - 1).cast(DoubleType))
          .as("recall_at_k"),
        col("first_hit_rank"))
      .orderBy(col("query_id"))
  }

  /** x143: pseudo-relevance-feedback query expansion (Rocchio 1971 /
    * the RM3 shape, Lavrenko & Croft SIGIR'01): run the base BM25
    * ranking, take each query's top `fbK` feedback documents, estimate
    * expansion-term weights w(t) = Σ_d tf(t,d)/dl(d) over the feedback
    * set (the uniform-prior relevance model; terms already in the query
    * excluded by an anti-join), keep the top `expK` terms per query, and
    * re-score with original terms at weight 1.0 and expansion terms at
    * weight `beta` — score = Σ wt · Okapi(t,d), same expression tree as
    * x123 via [[okapiTsc]].
    *
    * Determinism: tf/dl ratios and the weighted term scores are exact
    * double trees; every per-group sum folds in ascending value order
    * (pinned), ranks tie-break on (value, term|doc_id). Scale shape: the
    * feedback frame is fbK·numQueries rows; candidate expansion terms
    * are bounded by the feedback docs' vocabularies (windowed per query,
    * never corpus-wide); the weighted query set broadcasts back into the
    * postings exactly like the base query — two bounded passes over the
    * index, zero new shuffle classes.
    */
  def rm3Topk(s: SparkSession, dir: String, numQueries: Int = 3, fbK: Int = 5,
      expK: Int = 5, beta: Double = 0.4, k: Int = 10): DataFrame = {
    val ix = fullIndex(s, dir)
    val q = queryTerms(s, dir, numQueries)
    val fb = bm25TopkFromIndex(ix, q, fbK).select(col("query_id"), col("doc_id"))
    val cand = fb.join(ix.tf, Seq("doc_id")).join(ix.dl, Seq("doc_id"))
      .join(q, Seq("query_id", "term"), "left_anti")
      .groupBy(col("query_id"), col("term"))
      .agg(aggregate(array_sort(collect_list(d(col("tf")) / d(col("dl")))),
        lit(0.0), (a, v) => a + v).as("w"))
    val exp = TopKPerKey.ranked(cand, PerQuery, Seq(col("w").desc, col("term")), expK)
      .select(col("query_id"), col("term"), lit(beta).as("wt"))
    val wq = q.withColumn("wt", lit(1.0)).unionByName(exp)
    val scored = ix.tf.join(broadcast(wq), Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .join(ix.df, Seq("term"))
      .join(ix.dl, Seq("doc_id"))
      .crossJoin(broadcast(ix.stats))
      .select(col("query_id"), col("doc_id"),
        (col("wt") * okapiTsc(1.2, 0.75)).as("tsc"))
    val perDoc = scored.groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_hit_terms"),
        aggregate(array_sort(collect_list(col("tsc"))), lit(0.0), (a, v) => a + v)
          .as("score"))
    TopKPerKey.ranked(perDoc, PerQuery, byDesc("score"), k)
      .select(col("query_id"), col("doc_id"), col("n_hit_terms"), col("score"),
        col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x143_rm3_expansion" -> ((s: SparkSession, dir: String) => rm3Topk(s, dir)),
    "x134_bm25_label_eval" -> ((s: SparkSession, dir: String) => bm25LabelEval(s, dir)),
    "x123_bm25_topk" -> ((s: SparkSession, dir: String) => bm25Topk(s, dir)),
    "x124_hybrid_rrf" -> ((s: SparkSession, dir: String) => hybridRrf(s, dir)),
    "x128_incr_bm25" -> ((s: SparkSession, dir: String) => incrBm25Topk(s, dir)),
    "x129_mmr_rerank" -> ((s: SparkSession, dir: String) => mmrRerank(s, dir)),
    "x223_crossencoder_rerank" -> ((s: SparkSession, dir: String) => crossEncoderRerank(s, dir)),
    "x168_maxscore_topk" -> ((s: SparkSession, dir: String) => maxscoreTopk(s, dir)),
    "x169_maxscore_stats" -> ((s: SparkSession, dir: String) => maxscoreStats(s, dir)),
    "x176_blockmax_topk" -> ((s: SparkSession, dir: String) => blockmaxTopk(s, dir)),
    "x177_blockmax_stats" -> ((s: SparkSession, dir: String) => blockmaxStats(s, dir)))

  /** x129's DuckDB twin: greedy MMR UNROLLED — step 1 is the plain
    * relevance argmax, and each later step is a generated CTE computing
    * max-sim-to-chosen over the accumulated chosen set, then the
    * λ-argmax with the identical (score desc, doc_id) tie-break. Same
    * pinned-fold cosines, same double tree — generated SQL, the
    * srpOracle discipline.
    */
  private def mmrOracle(numQueries: Int, poolN: Int, k: Int): String = {
    val dot = (a: String, b: String) =>
      s"""list_reduce(list_transform(generate_series(1, len($a.embedding)),
         |      i -> CAST($a.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE)),
         |      (x, y) -> x + y)""".stripMargin
    val steps = (2 to k).map { i =>
      val ch = (1 until i).map(j => s"SELECT query_id, doc_id FROM s$j")
        .mkString(" UNION ALL ")
      s"""c$i AS ($ch),
         |s$i AS (
         |  SELECT query_id, $i AS step, doc_id, rel, simmax FROM (
         |    SELECT p.query_id, p.doc_id, p.rel, max(m.sim) AS simmax
         |    FROM pool p JOIN sims m ON m.query_id = p.query_id AND m.doc_a = p.doc_id
         |    WHERE m.doc_b IN (SELECT cd.doc_id FROM c$i cd WHERE cd.query_id = p.query_id)
         |      AND p.doc_id NOT IN (SELECT cd2.doc_id FROM c$i cd2 WHERE cd2.query_id = p.query_id)
         |    GROUP BY p.query_id, p.doc_id, p.rel)
         |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY
         |    CAST(0.7 AS DOUBLE) * rel - CAST(0.3 AS DOUBLE) * simmax DESC, doc_id) = 1)""".stripMargin
    }.mkString(",\n")
    val union = (1 to k).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_reduce(list_transform(generate_series(1, len(embedding)),
       |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
       |      (x, y) -> x + y)) AS nrm
       |  FROM embeddings),
       |qv AS (SELECT vec_id AS query_id, embedding, nrm FROM e WHERE vec_id < $numQueries),
       |pool AS (
       |  SELECT query_id, doc_id, rel FROM (
       |    SELECT qv.query_id, e.vec_id AS doc_id,
       |      ${dot("qv", "e")} / (qv.nrm * e.nrm) AS rel,
       |      row_number() OVER (PARTITION BY qv.query_id ORDER BY
       |        ${dot("qv", "e")} / (qv.nrm * e.nrm) DESC, e.vec_id) AS rn
       |    FROM qv JOIN e ON e.vec_id <> qv.query_id)
       |  WHERE rn <= $poolN),
       |sims AS (
       |  SELECT pa.query_id, pa.doc_id AS doc_a, pb.doc_id AS doc_b,
       |    ${dot("ea", "eb")} / (ea.nrm * eb.nrm) AS sim
       |  FROM pool pa JOIN pool pb
       |    ON pa.query_id = pb.query_id AND pa.doc_id <> pb.doc_id
       |  JOIN e ea ON ea.vec_id = pa.doc_id JOIN e eb ON eb.vec_id = pb.doc_id),
       |s1 AS (
       |  SELECT query_id, 1 AS step, doc_id, rel, CAST(0 AS DOUBLE) AS simmax
       |  FROM pool QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY rel DESC, doc_id) = 1),
       |$steps
       |SELECT query_id, step, doc_id, rel, simmax,
       |  CAST(0.7 AS DOUBLE) * rel - CAST(0.3 AS DOUBLE) * simmax AS mmr_score
       |FROM ($union) ORDER BY query_id, step""".stripMargin
  }

  /** x223's DuckDB twin: the x129 oracle spliced verbatim as the pool,
    * then the SAME deterministic stand-in scorer — distinct tokens via
    * list_distinct over the identical split/trim spelling, intersection/
    * union as exact integer counts, one double division — and the same
    * (score desc, doc_id) re-rank.
    */
  private def crossEncoderOracle(numQueries: Int, poolN: Int, k: Int): String =
    s"""WITH mmr AS (
       |  SELECT query_id, step, doc_id FROM (${mmrOracle(numQueries, poolN, k)})),
       |tok AS (
       |  SELECT doc_id,
       |    list_distinct(string_split_regex(trim(lower(text)), '\\s+')) AS tk
       |  FROM documents),
       |j AS (
       |  SELECT m.query_id, m.step AS mmr_step, m.doc_id,
       |    CAST(len(list_intersect(qt.tk, dt.tk)) AS BIGINT) AS n_common,
       |    CAST(len(qt.tk) + len(dt.tk)
       |      - len(list_intersect(qt.tk, dt.tk)) AS BIGINT) AS n_union
       |  FROM mmr m
       |  JOIN tok qt ON qt.doc_id = m.query_id
       |  JOIN tok dt ON dt.doc_id = m.doc_id)
       |SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY
       |    CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE) DESC, doc_id)
       |    AS ce_rank,
       |  doc_id, mmr_step, n_common, n_union,
       |  CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE) AS ce_score
       |FROM j ORDER BY query_id, ce_rank""".stripMargin

  /** Shared lexical CTE block: tf/dl/df/stats + the per-(query,doc,term)
    * BM25 score — the x123 oracle and the x124 lexical leg both splice it.
    */
  private val Bm25Cte: String =
    """toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
      |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
      |stats AS (SELECT count(*) AS n_docs, sum(dl) AS total_len FROM dl),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |qterms AS (
      |  SELECT DISTINCT doc_id AS query_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      |  FROM documents WHERE doc_id < 3),
      |scored AS (
      |  SELECT q.query_id, tf.doc_id,
      |    (CAST(n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
      |      / (CAST(df.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
      |      * (CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
      |      / (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
      |         * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(dl.dl AS DOUBLE)
      |            / (CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS tsc
      |  FROM tf JOIN qterms q USING (term) JOIN df USING (term)
      |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats
      |  WHERE tf.doc_id <> q.query_id),
      |perdoc AS (
      |  SELECT query_id, doc_id, count(*) AS n_hit_terms,
      |    list_reduce(list_prepend(0.0, list(tsc ORDER BY tsc)), (a, v) -> a + v) AS score
      |  FROM scored GROUP BY query_id, doc_id)""".stripMargin

  /** The full-scoring ranked top-k SQL — x123's gate, x128's (the merge
    * must equal the rebuild) and x168's (the pruned evaluation must
    * equal the full one): one text, three invariants.
    */
  private val FullTopkOracle: String =
    s"""WITH $Bm25Cte,
       |ranked AS (
       |  SELECT query_id, doc_id, n_hit_terms, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
       |  FROM perdoc)
       |SELECT query_id, doc_id, n_hit_terms, score, CAST(rank AS INT) AS rank
       |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** The Okapi per-(doc, term) contribution text the x169 twin re-uses
    * for the upper-bound and seed-partial CTEs — identical to the
    * expression inside [[Bm25Cte]]'s `scored`.
    */
  private def okapiSql(tf: String, df: String, dl: String): String =
    s"""(CAST(n_docs AS DOUBLE) - CAST($df AS DOUBLE) + CAST(0.5 AS DOUBLE))
       |      / (CAST($df AS DOUBLE) + CAST(0.5 AS DOUBLE))
       |      * (CAST($tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
       |      / (CAST($tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
       |         * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST($dl AS DOUBLE)
       |            / (CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE))))""".stripMargin

  /** x169's twin: the ENTIRE MaxScore partition recomputed in SQL — ub
    * per term, the rarest-3 seed pool fully scored with the pinned
    * ascending fold, θ as its 10th-best score (0 when absent), the
    * (ub asc, term) running-sum prefix via the same sequential
    * list-fold, and the candidate/pair counts. Every double travels the
    * identical expression tree; counts are integers.
    */
  /** The shared twin CTE chain of the MaxScore family — ub, qt, seed,
    * the fully-scored seed pool, θ, the prefix partition, and the
    * essential set; x169 and x177 both splice it.
    */
  private val MsCtes: String =
    s"""ub AS (
       |  SELECT tf.term, max(${okapiSql("tf.tf", "df.df", "dl.dl")}) AS ub
       |  FROM tf JOIN df USING (term) JOIN dl ON dl.doc_id = tf.doc_id
       |  CROSS JOIN stats GROUP BY tf.term),
       |qt AS (
       |  SELECT q.query_id, q.term, df.df, ub.ub
       |  FROM qterms q JOIN df USING (term) JOIN ub USING (term)),
       |seed AS (
       |  SELECT query_id, term FROM (
       |    SELECT query_id, term,
       |      row_number() OVER (PARTITION BY query_id ORDER BY df ASC, term ASC) AS srn
       |    FROM qt) WHERE srn <= 3),
       |seedcand AS (
       |  SELECT DISTINCT sd.query_id, tf.doc_id
       |  FROM tf JOIN seed sd ON sd.term = tf.term
       |  WHERE tf.doc_id <> sd.query_id),
       |pscored AS (
       |  SELECT q.query_id, tf.doc_id, ${okapiSql("tf.tf", "df.df", "dl.dl")} AS tsc
       |  FROM tf JOIN qterms q ON q.term = tf.term
       |  JOIN seedcand c ON c.query_id = q.query_id AND c.doc_id = tf.doc_id
       |  JOIN df ON df.term = tf.term
       |  JOIN dl ON dl.doc_id = tf.doc_id
       |  CROSS JOIN stats
       |  WHERE tf.doc_id <> q.query_id),
       |partial AS (
       |  SELECT query_id, doc_id,
       |    list_reduce(list_prepend(0.0, list(tsc ORDER BY tsc)), (a, v) -> a + v) AS pscore
       |  FROM pscored GROUP BY query_id, doc_id),
       |th AS (
       |  SELECT query_id, pscore AS theta FROM (
       |    SELECT query_id, pscore,
       |      row_number() OVER (PARTITION BY query_id ORDER BY pscore DESC, doc_id) AS rn
       |    FROM partial) WHERE rn = 10),
       |thq AS (
       |  SELECT q.query_id, coalesce(th.theta, CAST(0 AS DOUBLE)) AS theta
       |  FROM (SELECT DISTINCT query_id FROM qt) q LEFT JOIN th USING (query_id)),
       |qarr AS (
       |  SELECT qt.query_id, thq.theta,
       |    list(struct_pack(ub := qt.ub, term := qt.term) ORDER BY qt.ub, qt.term) AS terms
       |  FROM qt JOIN thq USING (query_id)
       |  GROUP BY qt.query_id, thq.theta),
       |parted AS (
       |  SELECT query_id, theta, terms,
       |    len(list_filter(
       |      list_transform(generate_series(1, len(terms)),
       |        i -> list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |               list_transform(list_slice(terms, 1, i), x -> x.ub)),
       |             (a, v) -> a + v)),
       |      c -> c < theta)) AS noness
       |  FROM qarr),
       |ess AS (
       |  SELECT query_id,
       |    unnest(list_transform(list_slice(terms, noness + 1, len(terms)),
       |      x -> x.term)) AS term
       |  FROM parted)""".stripMargin

  private val MaxscoreStatsOracle: String =
    s"""WITH $Bm25Cte,
       |$MsCtes,
       |cand AS (
       |  SELECT DISTINCT e.query_id, tf.doc_id
       |  FROM tf JOIN ess e ON e.term = tf.term
       |  WHERE tf.doc_id <> e.query_id),
       |spairs AS (
       |  SELECT q.query_id, tf.doc_id, tf.term
       |  FROM tf JOIN qterms q ON q.term = tf.term
       |  JOIN cand c ON c.query_id = q.query_id AND c.doc_id = tf.doc_id
       |  WHERE tf.doc_id <> q.query_id),
       |pq AS (
       |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_terms,
       |    CAST(sum(df) AS BIGINT) AS postings_total
       |  FROM qt GROUP BY query_id),
       |sc AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_seed FROM seed GROUP BY query_id),
       |sdc AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_seed_docs FROM seedcand GROUP BY query_id),
       |ea AS (
       |  SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_essential,
       |    CAST(sum(df.df) AS BIGINT) AS postings_essential
       |  FROM ess e JOIN df ON df.term = e.term GROUP BY e.query_id),
       |cc AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_candidates FROM cand GROUP BY query_id),
       |pc AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_scored_pairs FROM spairs GROUP BY query_id)
       |SELECT pq.query_id, n_terms, n_seed, n_seed_docs, theta, n_essential,
       |  postings_total, postings_essential, n_candidates, n_scored_pairs
       |FROM pq JOIN sc USING (query_id) JOIN sdc USING (query_id)
       |JOIN thq USING (query_id)
       |JOIN ea USING (query_id) JOIN cc USING (query_id) JOIN pc USING (query_id)
       |ORDER BY query_id""".stripMargin

  /** x177's twin: the MsCtes chain plus the block layer — per-(term,
    * block-of-64-doc_ids) bounds, the pinned-fold per-(query, block) ub
    * sum, the θ survival filter, and the combined-pruning candidate and
    * pair counts.
    */
  private val BlockmaxStatsOracle: String =
    s"""WITH $Bm25Cte,
       |$MsCtes,
       |tb AS (
       |  SELECT tf.term, tf.doc_id // 64 AS blk,
       |    max(${okapiSql("tf.tf", "df.df", "dl.dl")}) AS bub
       |  FROM tf JOIN df USING (term) JOIN dl ON dl.doc_id = tf.doc_id
       |  CROSS JOIN stats GROUP BY tf.term, tf.doc_id // 64),
       |qb AS (
       |  SELECT q.query_id, t.blk,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(
       |        list(struct_pack(bub := t.bub, term := t.term) ORDER BY t.bub, t.term),
       |        x -> x.bub)),
       |      (a, v) -> a + v) AS bub_sum
       |  FROM tb t JOIN (SELECT DISTINCT query_id, term FROM qt) q ON q.term = t.term
       |  GROUP BY q.query_id, t.blk),
       |surv AS (
       |  SELECT qb.query_id, qb.blk
       |  FROM qb JOIN thq USING (query_id) WHERE qb.bub_sum >= thq.theta),
       |cand2 AS (
       |  SELECT DISTINCT e.query_id, tf.doc_id
       |  FROM tf JOIN ess e ON e.term = tf.term
       |  JOIN surv s ON s.query_id = e.query_id AND s.blk = tf.doc_id // 64
       |  WHERE tf.doc_id <> e.query_id),
       |spairs2 AS (
       |  SELECT q.query_id, tf.doc_id, tf.term
       |  FROM tf JOIN qterms q ON q.term = tf.term
       |  JOIN cand2 c ON c.query_id = q.query_id AND c.doc_id = tf.doc_id
       |  WHERE tf.doc_id <> q.query_id),
       |bt AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_blocks_total FROM qb GROUP BY query_id),
       |bs AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_blocks_survived FROM surv GROUP BY query_id),
       |cc2 AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_candidates FROM cand2 GROUP BY query_id),
       |pc2 AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_scored_pairs FROM spairs2 GROUP BY query_id)
       |SELECT thq.query_id, theta, n_blocks_total, n_blocks_survived,
       |  n_candidates, n_scored_pairs
       |FROM thq JOIN bt USING (query_id) JOIN bs USING (query_id)
       |JOIN cc2 USING (query_id) JOIN pc2 USING (query_id)
       |ORDER BY thq.query_id""".stripMargin

  val oracles: Map[String, String] = Map(
    // x168: FullTopkOracle — the pruned evaluation must return the full
    // ranking bit for bit; x169: the partition arithmetic itself.
    "x168_maxscore_topk" -> FullTopkOracle,
    "x169_maxscore_stats" -> MaxscoreStatsOracle,
    "x176_blockmax_topk" -> FullTopkOracle,
    "x177_blockmax_stats" -> BlockmaxStatsOracle,
    // x143: the Bm25Cte base ranking feeds the feedback top-5, the
    // anti-joined tf/dl relevance-model weights, the top-5 expansion
    // terms at 0.4, and the weighted re-score (identical Okapi text,
    // wt-wrapped). Same pinned folds, same tie-breaks.
    "x143_rm3_expansion" ->
      s"""WITH $Bm25Cte,
         |fb AS (
         |  SELECT query_id, doc_id FROM (
         |    SELECT query_id, doc_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
         |    FROM perdoc) WHERE rn <= 5),
         |cand AS (
         |  SELECT f.query_id, tf.term,
         |    list_reduce(list_prepend(0.0, list(CAST(tf.tf AS DOUBLE) / CAST(dl.dl AS DOUBLE)
         |      ORDER BY CAST(tf.tf AS DOUBLE) / CAST(dl.dl AS DOUBLE))), (a, v) -> a + v) AS w
         |  FROM fb f JOIN tf ON tf.doc_id = f.doc_id JOIN dl ON dl.doc_id = f.doc_id
         |  WHERE NOT EXISTS (SELECT 1 FROM qterms q
         |                    WHERE q.query_id = f.query_id AND q.term = tf.term)
         |  GROUP BY f.query_id, tf.term),
         |expq AS (
         |  SELECT query_id, term, CAST(0.4 AS DOUBLE) AS wt FROM (
         |    SELECT query_id, term,
         |      row_number() OVER (PARTITION BY query_id ORDER BY w DESC, term) AS rn
         |    FROM cand) WHERE rn <= 5),
         |wq AS (
         |  SELECT query_id, term, CAST(1.0 AS DOUBLE) AS wt FROM qterms
         |  UNION ALL SELECT query_id, term, wt FROM expq),
         |scored2 AS (
         |  SELECT w.query_id, tf.doc_id,
         |    w.wt * ((CAST(n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
         |      / (CAST(df.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
         |      * (CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
         |      / (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
         |         * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(dl.dl AS DOUBLE)
         |            / (CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE))))) AS tsc
         |  FROM tf JOIN wq w USING (term) JOIN df USING (term)
         |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats
         |  WHERE tf.doc_id <> w.query_id),
         |perdoc2 AS (
         |  SELECT query_id, doc_id, count(*) AS n_hit_terms,
         |    list_reduce(list_prepend(0.0, list(tsc ORDER BY tsc)), (a, v) -> a + v) AS score
         |  FROM scored2 GROUP BY query_id, doc_id)
         |SELECT query_id, doc_id, n_hit_terms, score, CAST(rank AS INT) AS rank FROM (
         |  SELECT query_id, doc_id, n_hit_terms, score,
         |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
         |  FROM perdoc2) WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "x134_bm25_label_eval" ->
      s"""WITH $Bm25Cte,
         |ranked AS (
         |  SELECT query_id, doc_id, score,
         |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
         |  FROM perdoc),
         |topk AS (SELECT * FROM ranked WHERE rank <= 10),
         |lab AS (SELECT vec_id, label FROM embeddings),
         |ql AS (SELECT vec_id AS query_id, label AS qlabel FROM lab WHERE vec_id < 3),
         |cs AS (SELECT label, count(*) AS n_class FROM lab GROUP BY label),
         |hits AS (
         |  SELECT t.query_id, ql.qlabel,
         |    CAST(sum(CASE WHEN l.label = ql.qlabel THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |    CAST(min(CASE WHEN l.label = ql.qlabel THEN t.rank END) AS BIGINT) AS first_hit_rank
         |  FROM topk t JOIN lab l ON l.vec_id = t.doc_id
         |  JOIN ql ON ql.query_id = t.query_id
         |  GROUP BY t.query_id, ql.qlabel)
         |SELECT h.query_id, h.qlabel AS label,
         |  CAST(cs.n_class - 1 AS BIGINT) AS n_rel_corpus, h.n_hits,
         |  CAST(h.n_hits AS DOUBLE) / CAST(10 AS DOUBLE) AS precision_at_k,
         |  CAST(h.n_hits AS DOUBLE) / CAST(cs.n_class - 1 AS DOUBLE) AS recall_at_k,
         |  h.first_hit_rank
         |FROM hits h JOIN cs ON cs.label = h.qlabel ORDER BY query_id""".stripMargin,
    "x129_mmr_rerank" -> mmrOracle(3, 20, 5),
    "x223_crossencoder_rerank" -> crossEncoderOracle(3, 20, 5),
    "x123_bm25_topk" -> FullTopkOracle,
    // x128's oracle IS the full rebuild: merge-equals-rebuild is the gate.
    "x128_incr_bm25" -> FullTopkOracle,
    "x124_hybrid_rrf" ->
      s"""WITH $Bm25Cte,
         |lex AS (
         |  SELECT query_id, doc_id,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS INT) AS lex_rank
         |  FROM perdoc QUALIFY lex_rank <= 50),
         |e AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_reduce(list_transform(generate_series(1, len(embedding)),
         |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
         |      (x, y) -> x + y)) AS nrm
         |  FROM embeddings),
         |qv AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn FROM e WHERE vec_id < 3),
         |sem AS (
         |  SELECT query_id, vec_id AS doc_id,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY
         |      list_reduce(list_transform(generate_series(1, len(qe)),
         |        i -> CAST(qe[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
         |        (x, y) -> x + y) / (qn * nrm) DESC, vec_id) AS INT) AS sem_rank
         |  FROM qv JOIN e ON e.vec_id <> qv.query_id QUALIFY sem_rank <= 50),
         |fused AS (
         |  SELECT coalesce(lex.query_id, sem.query_id) AS query_id,
         |    coalesce(lex.doc_id, sem.doc_id) AS doc_id, lex_rank, sem_rank,
         |    coalesce(CAST(1 AS DOUBLE) / (60 + lex_rank), CAST(0 AS DOUBLE))
         |      + coalesce(CAST(1 AS DOUBLE) / (60 + sem_rank), CAST(0 AS DOUBLE)) AS rrf_score
         |  FROM lex FULL OUTER JOIN sem
         |    ON lex.query_id = sem.query_id AND lex.doc_id = sem.doc_id),
         |rr AS (
         |  SELECT query_id, doc_id, lex_rank, sem_rank, rrf_score,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS INT) AS rank
         |  FROM fused)
         |SELECT query_id, doc_id, lex_rank, sem_rank, rrf_score, rank
         |FROM rr WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)
}
