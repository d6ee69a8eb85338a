package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.engine.{SessionMemo, Tables}
import graft.engine.Pin.PinOps
import graft.functions.LongVec
import graft.plans.TopKPerKey

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Two paths, mirroring a production vector pipeline:
  *   - `cosineTopk` — exact brute-force cosine top-k: the correctness
  *     baseline, verified against a DuckDB oracle built from the same
  *     left-fold float->double arithmetic (bitwise-identical doubles);
  *   - `annTopk` — random-hyperplane LSH (SimHash for angles): each
  *     vector gets `numTables` bucket ids from `bitsPerTable` sign bits;
  *     a query only scores candidates sharing a bucket in some table.
  *     Same banding skeleton as the MinHash dedup path.
  *
  * Scale notes (the 100 TB story):
  *   - the query set is broadcast — the corpus is never shuffled to score;
  *   - top-k is two-phase: partition-local row_number prunes to k per
  *     (query, partition) before the per-query shuffle, so the global
  *     rank sees |queries| x partitions x k rows, not |corpus| rows;
  *   - LSH projections are relational (explode + broadcast-join the tiny
  *     hyperplane table + two codegen'd hash-aggregates), not interpreted
  *     array lambdas — the projection cost is one linear map-side pass;
  *   - at 100 TB the bucketed corpus would be written bucketBy(table,
  *     bucket) once and probed per query batch; here both sides derive
  *     from the same scan.
  */
object Similarity {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.splitCorpus(s, dir, n)

  /** Left-fold double dot product of two float-array columns — the exact
    * shape the DuckDB oracle mirrors (`list_reduce(list_transform(...))`)
    * so float->double casts and the summation order agree bitwise.
    * Backed by the native codegen'd [[graft.functions.DotD]] expression
    * since round 9 (bit-identical fold, ~6x less per-pair cost than the
    * interpreted `aggregate(zip_with(...))` HOF chain it replaces —
    * FunctionsSpec pins the bitwise equality against that spelling).
    */
  def dotD(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(graft.functions.DotD(
      org.apache.spark.sql.graft.ColumnBridge.expression(a),
      org.apache.spark.sql.graft.ColumnBridge.expression(b)))

  /** The interpreted HOF spelling dotD replaced — kept as the
    * independent reference FunctionsSpec compares bitwise.
    */
  def dotDHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  /** Euclidean norm of a float-array column (left-fold sum of squares). */
  def normD(a: Column): Column = sqrt(dotD(a, a))

  /** Cosine of the query vector `qv` (norm `qn`) against the corpus
    * vector `v` (norm `nrm`) — the one scoring expression of every exact
    * and candidate-rescoring path; the norms are precomputed per row.
    */
  private[ext] def cosine(v: Column = col("embedding")): Column =
    dotD(col("qv"), v) / (col("qn") * col("nrm"))

  /** The total order of every cosine ranking: score desc, then vec_id. */
  private val ByCosine = Seq(col("cosine").desc, col("vec_id"))

  private val PerQuery = Seq(col("query_id"))

  /** The query vectors (vec_id < numQueries) of a [[corpus]] frame, named
    * for the broadcast side of a scoring join.
    */
  private def queryVecs(c: DataFrame, numQueries: Int): DataFrame =
    c.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("nrm").as("qn"))

  /** embeddings with the precomputed norm (norms are reused per row in
    * every cosine the row participates in).
    */
  private[ext] def corpus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), normD(col("embedding")).as("nrm"))

  /** Exact cosine top-k: for each query vector (vec_id < numQueries),
    * the k nearest corpus vectors by cosine, self excluded.
    * Ties broken by vec_id, so the ranking is a total order.
    */
  /** The exact ranking is consumed four times per session (x20 itself +
    * the three ANN recall gates), so the ~numQueries·k-row result is
    * computed once per (session, dataset, params) and checkpointed —
    * the same materialize-once discipline as Dedup.clusterLabels.
    */
  private val exactTopkCache = SessionMemo[(String, Int, Int), DataFrame]("Similarity.exactTopk")

  def cosineTopk(s: SparkSession, dir: String,
      numQueries: Int = 5, k: Int = 10): DataFrame =
    exactTopkCache(s, (dir, numQueries, k))(
      cosineTopkPlan(s, dir, numQueries, k).pinned)

  private def cosineTopkPlan(s: SparkSession, dir: String,
      numQueries: Int, k: Int): DataFrame =
    TopKPerKey.twoPhase(exactScored(corpus(s, dir), numQueries), PerQuery, ByCosine, k)
      .orderBy(col("query_id"), col("rank"))

  /** (query_id, vec_id, cosine) for every query vector (vec_id <
    * numQueries) of a [[corpus]] frame against every other vector: the
    * queries are broadcast, the corpus never shuffles to score.
    */
  private[ext] def exactScored(c: DataFrame, numQueries: Int): DataFrame =
    c.join(broadcast(queryVecs(c, numQueries)), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), cosine().as("cosine"))

  /** Matryoshka-style truncated retrieval: coarse top-`coarseK` ranking
    * on the first `dims` dimensions (a 4x-cheaper dot product — with
    * MRL-trained embeddings the prefix IS a valid low-dim embedding),
    * then exact full-dimension rerank of the survivors to top-`k`. The
    * at-scale payoff: the coarse pass can run over a `dims`-wide
    * COLUMN-PRUNED projection of the corpus (a fraction of the scan and
    * broadcast bytes), and the full vectors are only touched for
    * coarseK candidates per query. Deterministic two-phase selection —
    * both phases total-order by (score desc, vec_id) — so the result is
    * oracle-checkable, unlike recall-bounded ANN.
    */
  def truncatedRerank(s: SparkSession, dir: String, dims: Int = 16,
      numQueries: Int = 5, coarseK: Int = 40, k: Int = 10): DataFrame = {
    val base = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), slice(col("embedding"), 1, dims).as("emb_t"))
      .select(col("vec_id"), col("embedding"), col("emb_t"),
        normD(col("embedding")).as("nrm"), normD(col("emb_t")).as("nrm_t"))
    val q = base.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("emb_t").as("qv_t"), col("nrm").as("qn"), col("nrm_t").as("qn_t"))
    val coarse = base.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("embedding"), col("nrm"),
        col("qv"), col("qn"),
        (dotD(col("qv_t"), col("emb_t")) / (col("qn_t") * col("nrm_t"))).as("coarse_cosine"))
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("coarse_cosine").desc, col("vec_id"))
    val rer = coarse.withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= coarseK)
      .select(col("query_id"), col("vec_id"), cosine().as("cosine"))
    val wg = Window.partitionBy(col("query_id")).orderBy(ByCosine: _*)
    rer.withColumn("rank", row_number().over(wg))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cosine"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Exact-cosine top-k of candidate (query_id, vec_id) pairs — the
    * shared tail of the LSH and IVF paths: candidates join the corpus,
    * the query vectors ride a broadcast, and only candidates are scored.
    */
  private def candidateTopk(c: DataFrame, candIds: DataFrame,
      numQueries: Int, k: Int): DataFrame = {
    val scored = candIds
      .join(c, "vec_id")
      .join(broadcast(queryVecs(c, numQueries)), "query_id")
      .select(col("query_id"), col("vec_id"), cosine().as("cosine"))
    TopKPerKey.twoPhase(scored, PerQuery, ByCosine, k).orderBy(col("query_id"), col("rank"))
  }

  /** Deterministic Gaussian hyperplanes as a (tbl)(bit)(pos) tensor —
    * the same seed-42 draw order (tbl -> bit -> pos) the original
    * relational plane table used, so parameters mean the same thing.
    */
  private def hyperplaneTensor(dim: Int,
      numTables: Int, bitsPerTable: Int): Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(numTables)(Array.fill(bitsPerTable)(Array.fill(dim)(rnd.nextGaussian())))
  }

  /** (vec_id, tbl, bucket) LSH bucket ids per vector: bucket = the
    * `bitsPerTable` sign bits of the hyperplane projections. Since
    * round 9 this is the native [[graft.functions.LshBuckets]]
    * expression — one generated pass per vector — replacing the
    * posexplode + broadcast-join + two-hash-aggregate pipeline whose
    * |corpus| x dims x planes exploded intermediate dominated the ANN
    * queries at the 10x corpus (and whose double sums were
    * partition-order-dependent; the fold is now strict).
    */
  def lshBuckets(vecs: DataFrame, planes: Array[Array[Array[Double]]]): DataFrame =
    vecs
      .select(col("vec_id"), posexplode(
        org.apache.spark.sql.graft.ColumnBridge.column(graft.functions.LshBuckets(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("embedding")), planes))))
      .select(col("vec_id"), col("pos").cast("int").as("tbl"), col("col").as("bucket"))

  /** ANN cosine top-k via random-hyperplane LSH: candidates = corpus
    * vectors sharing any (table, bucket) with the query, then exact
    * cosine on the candidates only. Parameters tuned for ~0.9+ recall on
    * weakly-clustered corpora (top-10 cosine ~0.3 here): few bits, many
    * tables. No oracle (approximate by design) — SimilaritySpec measures
    * recall against `cosineTopk`.
    */
  def annTopk(s: SparkSession, dir: String,
      numQueries: Int = 5, k: Int = 10,
      numTables: Int = 18, bitsPerTable: Int = 4): DataFrame = {
    val c = corpus(s, dir)
    val planes = hyperplaneTensor(64, numTables, bitsPerTable)
    val buckets = lshBuckets(c, planes)
    val qb = buckets.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("tbl"), col("bucket"))
    val candIds = buckets.join(broadcast(qb), Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .dropDuplicates("query_id", "vec_id")
    candidateTopk(c, candIds, numQueries, k)
  }

  /** Session-catalog name for the persisted ANN index — every
    * content-determining parameter encoded literally plus a path digest
    * (the round-10 literal-naming discipline: a hashCode name, and a
    * name omitting the LSH geometry, could both silently reuse a wrong
    * index).
    */
  def annIndexTable(dir: String, numTables: Int = 18, bitsPerTable: Int = 4,
      numBuckets: Int = 256): String =
    s"graft_ann_idx_t${numTables}_b${bitsPerTable}_nb${numBuckets}" +
      s"_d${graft.engine.Bucketing.pathDigest(dir)}"

  /** Materialize the ANN index ONCE: every corpus vector's LSH bucket
    * ids flattened to a single `tb = tbl * 2^bits + bucket` key and
    * written `bucketBy(tb)` with the embedding and norm alongside. This
    * is the persisted form the `annTopk` docstring promises: the
    * one-time index write amortizes across every probe batch, and
    * because the table is bucketed by `tb`, a probe's `tb IN (...)`
    * filter prunes to matching buckets at the FILE level
    * (SelectedBucketsCount in the scan) — the index is never fully
    * read, let alone shuffled.
    */
  /** Storage bucket count for the persisted ANN index, derived from the
    * corpus (r19 optimization round — guide §2/§6: partitioning must be
    * scale-adaptive, not a constant tuned for one decade). A bucketed
    * scan schedules one task per storage bucket whatever the pruning
    * selects, so a fixed 256 meant 256 near-empty tasks (~1.3 s of pure
    * scheduling at sf0.1's 2,000 vectors). ~64 vectors per storage
    * bucket keeps tasks meaningful at every decade; the cap keeps task
    * counts sane at 10^8+ vectors (buckets are a FILE layout, not the
    * LSH geometry — `tb` values and the probe pruning are unchanged, so
    * the index CONTENT and every query answer are identical; the count
    * rides the table name, so differently-sized corpora never collide).
    * The formula is not a setting: the round-20 A/B against the old fixed
    * 256 (BASELINE.md, "Round-20 adjudication") found it faster on both
    * medians, so it was kept and the override seam removed.
    */
  private val annBucketCache = SessionMemo[String, Integer]("Similarity.annBucket")

  private def annStorageBuckets(s: SparkSession, dir: String): Int =
    annBucketCache(s, dir) {
      val n = corpus(s, dir).count()
      // floor 96: a probe batch carries at most numQueries·numTables
      // (= 90 at the defaults) distinct bucket keys, so any count above
      // that keeps the scan's bucket pruning STRICT (SelectedBucketsCount
      // < total — the SimilaritySpec property); the ~64-vectors-per-
      // bucket term grows the count with the corpus so tasks stay
      // meaningful, and the cap bounds scheduling at 10^8+ vectors.
      Integer.valueOf(math.max(96L, math.min(4096L, n / 64L)).toInt)
    }.intValue()

  def buildAnnIndex(s: SparkSession, dir: String,
      numTables: Int = 18, bitsPerTable: Int = 4, numBuckets: Int = 0): String = {
    val nb = if (numBuckets > 0) numBuckets else annStorageBuckets(s, dir)
    val tbl = annIndexTable(dir, numTables, bitsPerTable, nb)
    if (!s.catalog.tableExists(tbl)) {
      val c = corpus(s, dir)
      val planes = hyperplaneTensor(64, numTables, bitsPerTable)
      val idx = lshBuckets(c, planes)
        .withColumn("tb", col("tbl") * (1 << bitsPerTable) + col("bucket"))
        .join(c, "vec_id")
        .select(col("tb"), col("vec_id"), col("embedding"), col("nrm"))
      graft.engine.Bucketing.writeBucketed(idx, tbl, "tb", nb)
    }
    tbl
  }

  /** Probe budget for `annTopkIndexed`'s two plan tiers. At or below
    * it, the distinct probe bucket keys are collected into an
    * `IN (...)` literal — the only form that lets the bucketed scan
    * prune files (bucket pruning engages on driver-side literals only),
    * and the same bounded driver-scalar tier as IVF's training sample.
    * Past it the key list would ride the plan as an ever-growing
    * literal, so the probe becomes a BROADCAST SEMI-JOIN on `tb`
    * instead: no collect, no literal, the scan streams each bucket once
    * — which is also the right plan there, because a probe set that
    * large touches nearly every bucket and pruning is moot.
    */
  val MaxProbeLiterals = 2048

  /** ANN top-k against the PERSISTED index: the query batch's bucket
    * keys prune the bucketed index scan (literal `IN` below
    * `maxProbeLiterals`, broadcast semi-join above — see
    * [[MaxProbeLiterals]]), candidates join the broadcast probe list,
    * and only candidates are scored exactly. Identical parameters and
    * hyperplanes to `annTopk`, so the results agree exactly —
    * SimilaritySpec asserts it (on BOTH tiers), plus the bucket-pruned
    * scan property on the literal tier.
    */
  def annTopkIndexed(s: SparkSession, dir: String,
      numQueries: Int = 5, k: Int = 10,
      numTables: Int = 18, bitsPerTable: Int = 4,
      maxProbeLiterals: Int = MaxProbeLiterals): DataFrame = {
    val tbl = buildAnnIndex(s, dir, numTables, bitsPerTable)
    val c = corpus(s, dir)
    val planes = hyperplaneTensor(64, numTables, bitsPerTable)
    val q = c.filter(col("vec_id") < numQueries)
    val qb = lshBuckets(q, planes)
      .withColumn("tb", col("tbl") * (1 << bitsPerTable) + col("bucket"))
      .select(col("vec_id").as("query_id"), col("tb"))
    val pruned =
      if (numQueries.toLong * numTables <= maxProbeLiterals) {
        val probeKeys = qb.select(col("tb")).distinct().collect()
          .map(_.getLong(0)).toSeq
        s.table(tbl).filter(col("tb").isin(probeKeys: _*))
      } else s.table(tbl)
        .join(broadcast(qb.select(col("tb")).distinct()), Seq("tb"), "left_semi")
    val qv = q.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"), col("nrm").as("qn"))
    val scored = pruned
      .join(broadcast(qb), "tb")
      .filter(col("vec_id") =!= col("query_id"))
      .dropDuplicates("query_id", "vec_id")
      .join(broadcast(qv), "query_id")
      .select(col("query_id"), col("vec_id"), cosine().as("cosine"))
    TopKPerKey.twoPhase(scored, PerQuery, ByCosine, k).orderBy(col("query_id"), col("rank"))
  }

  /** The driver-gated form of an approximate top-k (the q29/q41
    * bound-flag discipline applied to ANN): the accuracy contract —
    * recall against the exact x20 top-k — is computed INSIDE the query
    * as a per-query boolean. Everything on both sides is deterministic
    * (fixed hyperplane seed, md5-derived hashes, total-order
    * tie-breaks), so the booleans are reproducible and the DuckDB twin
    * pins them TRUE: a recall regression flips a row to FALSE and the
    * driver's hash gate catches it. The raw neighbor lists stay
    * available through the underlying functions; SimilaritySpec keeps
    * measuring the raw recall values.
    */
  private def recallGate(exact: DataFrame, approx: DataFrame,
      minRecallQuery: Double, minRecallPooled: Double): DataFrame = {
    val e = exact.select(col("query_id"), col("vec_id"))
    val hits = e.join(approx.select(col("query_id"), col("vec_id")),
        Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    val perQ = e.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
    val tot = perQ.agg(sum(col("n_hits")).cast(LongType).as("hits_total"),
      sum(col("n_exact")).cast(LongType).as("exact_total"))
    perQ.crossJoin(broadcast(tot))
      .select(col("query_id"), col("n_exact"),
        (col("n_hits").cast(DoubleType)
          >= lit(minRecallQuery) * col("n_exact").cast(DoubleType)).as("recall_ok"),
        (col("hits_total").cast(DoubleType)
          >= lit(minRecallPooled) * col("exact_total").cast(DoubleType)).as("pooled_ok"))
      .orderBy(col("query_id"))
  }

  /** Two-tier floors: per-query 0.8 (a single query may legitimately
    * sit at 8/10 on a weakly-clustered corpus) and pooled 0.9 (the
    * SimilaritySpec bound). Measured at sf0.01 and sf0.1: per-query
    * minima 8/10, pooled 45-49/50 — both floors hold with margin.
    */
  def annTopkGated(s: SparkSession, dir: String,
      numQueries: Int = 5, k: Int = 10): DataFrame =
    recallGate(cosineTopk(s, dir, numQueries, k),
      annTopk(s, dir, numQueries, k), 0.8, 0.9)

  def ivfTopkGated(s: SparkSession, dir: String,
      numQueries: Int = 5, k: Int = 10): DataFrame =
    recallGate(cosineTopk(s, dir, numQueries, k),
      ivfTopk(s, dir, numQueries, k), 0.8, 0.9)

  def annTopkIndexedGated(s: SparkSession, dir: String,
      numQueries: Int = 5, k: Int = 10): DataFrame =
    recallGate(cosineTopk(s, dir, numQueries, k),
      annTopkIndexed(s, dir, numQueries, k), 0.8, 0.9)

  /** Per-label top-3 vectors by norm via the typed TopKAgg aggregator —
    * the UDAF surface (§2.8) with an oracle twin (map-side partial
    * buffers of k entries vs the window's full-group shuffle).
    */
  def labelTopkNorm(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.Encoders
    val topk = udaf(new graft.functions.TopKAgg(k),
      Encoders.product[graft.functions.Scored])
    t(s, dir, "embeddings")
      .select(col("label"), normD(col("embedding")).as("score"), col("vec_id").as("id"))
      .groupBy(col("label"))
      .agg(topk(col("score"), col("id")).as("top"))
      .select(col("label"), posexplode(col("top")))
      .select(col("label"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("vec_id"), col("col.score").as("norm"))
      .orderBy(col("label"), col("rank"))
  }

  /** Symmetric int8 quantization per vector (the storage/compute shape a
    * serving-side vector store wants): scale = max |x|, q = round(x /
    * scale * 127). Pure codegen'd projection — zero shuffle at any
    * scale; zero vectors quantize to zeros. The int8 array rides the
    * graded output as a comma-joined string (the driver's pandas compare
    * cannot sort list-typed columns); `quantizeInt8Vec` keeps the typed
    * array form for library callers.
    */
  def quantizeInt8Vec(s: SparkSession, dir: String): DataFrame = {
    val scale = aggregate(col("embedding"),
      lit(0.0), (acc, v) => greatest(acc, abs(v.cast(DoubleType))))
    t(s, dir, "embeddings")
      .withColumn("scale", scale)
      .select(col("vec_id"), col("scale"),
        transform(col("embedding"), v =>
          when(col("scale") === 0.0, lit(0).cast("tinyint"))
            .otherwise(round(v.cast(DoubleType) / col("scale") * 127.0).cast("tinyint")))
          .as("q8"))
      .orderBy(col("vec_id"))
  }

  def quantizeInt8(s: SparkSession, dir: String): DataFrame =
    quantizeInt8Vec(s, dir)
      .select(col("vec_id"), col("scale"),
        array_join(col("q8").cast("array<string>"), ",").as("q8"))
      .orderBy(col("vec_id"))

  /** x122: int8 retrieval parity — does serving the x23-quantized index
    * return the float index's neighbors? Per query (broadcast, corpus
    * never shuffles — the x20 discipline): exact INTEGER dot products
    * over the int8 codes (every product ≤ 127²·64 ≪ 2⁶³; sums are
    * order-independent, so the ranking is bit-identical across engines
    * and partitionings with the vec_id tie-break — integer ties are
    * COMMON under quantization, which is exactly why the audit must be
    * integer-exact), two-phase top-k, then the per-query overlap with
    * the float exact top-k (the session-cached x20 ranking). The
    * quantized-serving go/no-go a retrieval stack reads: top-1 id +
    * integer score and |int8 top-k ∩ float top-k| per query.
    */
  def int8RetrievalParity(s: SparkSession, dir: String,
      numQueries: Int = 20, k: Int = 10): DataFrame = {
    val q8 = quantizeInt8Vec(s, dir)
      .select(col("vec_id"), transform(col("q8"), v => v.cast(LongType)).as("q8"))
    val queries = q8.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("q8").as("qq"))
    val scored = q8.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        aggregate(zip_with(col("qq"), col("q8"), (x, y) => x * y),
          lit(0L), (acc, v) => acc + v).as("idot"))
    val topk = TopKPerKey.twoPhase(scored, PerQuery, Seq(col("idot").desc, col("vec_id")), k)
    val ref = cosineTopk(s, dir, numQueries, k).select(col("query_id"), col("vec_id"))
    val overlap = topk.join(ref, Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_overlap"))
    topk.filter(col("rank") === 1)
      .select(col("query_id"), col("vec_id").as("top1_vec_id"),
        col("idot").as("top1_idot"))
      .join(overlap, Seq("query_id"), "left")
      .select(col("query_id"), col("top1_vec_id"), col("top1_idot"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        lit(k.toLong).as("k"))
      .orderBy(col("query_id"))
  }

  /** x146: binary (1-bit) quantized retrieval — the third point on the
    * quantized-serving curve after int8 (x122) and PQ/IVF-PQ
    * (x142/x145). Each vector compresses to its per-dimension sign
    * bits packed into ⌈d/64⌉ BIGINT words (64 floats → 8 bytes, a 32×
    * shrink); candidate ranking is Hamming distance = popcount(XOR),
    * evaluated by the codegen'd `bit_count`/`^` builtins — the scan
    * reads 1/32 the bytes of a float index and does no FP work at all.
    * The Hamming pool is deliberately coarse (1 bit/dim), so serving
    * stacks always rescore: the top-`poolR` Hamming candidates per
    * query are reranked by exact float cosine (the x20 arithmetic —
    * dotD's fold matches the twin's `list_reduce` bitwise) down to
    * top-`k`. Deterministic end to end: Hamming ties break by vec_id
    * (integer ties are the NORM at 1 bit), cosine ties likewise, so
    * the result is hash-gated, not recall-gated. At 100 TB the sig
    * pass is map-only (no shuffle until the bounded per-query top-R),
    * the pool is numQueries·poolR rows, and only those rows ever touch
    * float vectors again.
    */
  def binaryRetrieval(s: SparkSession, dir: String,
      numQueries: Int = 20, poolR: Int = 50, k: Int = 10): DataFrame = {
    val c = corpus(s, dir)
    // Width-generic bit packing: word w holds dims [w·64, w·64+63], bit b
    // set iff embedding[w·64+b] > 0 (strict — zeros and -0.0 land on 0 in
    // both engines). Pure builtins, so the whole pass stays in codegen.
    val sig = expr(
      """transform(sequence(0, (size(embedding) + 63) div 64 - 1),
        |  w -> aggregate(sequence(0, 63), 0L,
        |    (acc, b) -> IF(w * 64 + b < size(embedding)
        |        AND element_at(embedding, CAST(w * 64 + b + 1 AS INT)) > CAST(0 AS FLOAT),
        |      acc | shiftleft(1L, b), acc)))""".stripMargin).as("sig")
    val sigs = c.select(col("vec_id"), sig)
    val queries = sigs.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("sig").as("qsig"))
    val ham = sigs.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        aggregate(zip_with(col("qsig"), col("sig"),
            (x, y) => bit_count(x.bitwiseXOR(y)).cast(LongType)),
          lit(0L), (acc, v) => acc + v).as("hamming"))
    val pool = TopKPerKey.twoPhase(ham, PerQuery, Seq(col("hamming"), col("vec_id")), poolR,
        "hrank")
      .select(col("query_id"), col("vec_id"), col("hamming"))
    val rescored = c.join(broadcast(pool), Seq("vec_id"))
      .join(broadcast(queryVecs(c, numQueries)), Seq("query_id"))
      .select(col("query_id"), col("vec_id"), col("hamming"), cosine().as("cosine"))
    val w = Window.partitionBy(col("query_id")).orderBy(ByCosine: _*)
    rescored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("hamming"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** x160: hubness audit of the kNN graph (Radovanović et al., JMLR
    * 2010) — the high-dimensional pathology check every embedding
    * pipeline should run before trusting nearest-neighbor structure:
    * in high-d spaces the k-occurrence distribution (how often each
    * vector appears in OTHERS' top-k) grows heavy-tailed — a few
    * "hubs" appear in thousands of neighbor lists while "antihubs"
    * appear in none — which silently corrupts kNN labeling (x105),
    * dedup verification and retrieval diversity. Reported: the top
    * `topHubs` vectors by exact k-occurrence over a BOUNDED query
    * sample (`numQueries` of them — the standard estimator: hub
    * structure shows in any sizable query sample, and the audit stays
    * m·n-linear instead of the n² full graph, which measured 979 s at
    * the 10x corpus vs 8 s for the full-graph sf0.1 case), with the
    * corpus-level counts alongside (antihub count, max occurrence, n);
    * mean occurrence is k·m/n by construction, so max vs that mean is
    * the skew headline. The sample rides the session-cached x20
    * ranking (one broadcast of the query set, WindowGroupLimit-pruned
    * top-k); at 10⁹ vectors the same aggregate runs over the ANN
    * index's OUTPUT lists (x21/x145) — one keyed count either way.
    */
  def hubnessAudit(s: SparkSession, dir: String, k: Int = 10,
      topHubs: Int = 20, numQueries: Int = 500): DataFrame = {
    val knn = cosineTopk(s, dir, numQueries, k)
    val occ = knn.groupBy(col("vec_id")).agg(count(lit(1)).as("k_occ"))
    val occFull = t(s, dir, "embeddings").select(col("vec_id"))
      .join(occ, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("k_occ"), lit(0L)).as("k_occ"))
    val summary = occFull.agg(
      sum(when(col("k_occ") === 0L, 1L).otherwise(0L)).as("n_antihubs"),
      max(col("k_occ")).as("max_k_occ"),
      count(lit(1)).as("n_vectors"))
    TopKPerKey.twoPhase(occFull, Nil, Seq(col("k_occ").desc, col("vec_id")), topHubs)
      .crossJoin(broadcast(summary))
      .select(col("rank"), col("vec_id"), col("k_occ"),
        col("n_antihubs"), col("max_k_occ"), col("n_vectors"))
      .orderBy(col("rank"))
  }

  /** Left-fold double dot product as a tight JVM loop — the same
    * summation sequence as `dotD`/the oracle's `list_reduce` (0.0 + p1 +
    * p2 ...), so the doubles are bitwise identical.
    */
  private def dotLoop(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  final case class VecRow(vec_id: Long, embedding: Array[Float])
  final case class BlockPair(blk_a: Long, blk_b: Long,
      va: Seq[VecRow], vb: Seq[VecRow])

  /** Embedding-cosine near-duplicate pairs: all pairs at/above the
    * cosine threshold, exact — executed as a DISTRIBUTED block-pair
    * join, never materializing the corpus on the driver:
    *
    *   1. each vector lands in block `vec_id / blockSize` (monotonic, so
    *      blk_a < blk_b implies every a-id < every b-id — the upper
    *      triangle dedups pairs for free);
    *   2. blocks pack to one row each (collect_list bounded by
    *      `blockSize`, ~0.5 MB at 64-dim floats);
    *   3. each block replicates to its partner blocks >= itself
    *      (explode over a block-id sequence) and joins the partner's
    *      packed row — a B-row-by-B-row join, NOT a row-level cross
    *      join;
    *   4. the per-(blockA, blockB) compiled double loop emits the
    *      surviving pairs (the expression-tree spelling of the same
    *      kernel was ~30x slower — interpreted lambda per element).
    *
    * Exact all-pairs is inherently O(n^2) compares; this shape spreads
    * them over B^2/2 independent tasks with two-block memory bounds and
    * O(n x B/2) shuffle volume — the standard distributed
    * block-nested-loop. At 100 TB you precede it with the LSH/MinHash
    * candidate generation (`annTopk`, `Dedup.minhashPairs`) and run this
    * kernel only on candidate buckets; the per-pair arithmetic is
    * identical either way.
    */
  private val nearDupCache = SessionMemo[(String, Double, Int), DataFrame]("Similarity.nearDup")

  /** The O(n²/2) kernel result is consumed by x24 directly and by
    * x100's recall audit — computed once per (session, dataset, params)
    * and checkpointed (the clusterLabels discipline: the expensive
    * pair-finding leg never reruns for a policy layer). TEST-SCALE
    * ONLY: since round 9 no production path consumes it (x57 clusters
    * the banded lane); it exists as the exact ground truth the banded
    * lane is graded against.
    */
  /** The block-pair BUDGET of the exact kernel: when the B·(B+1)/2
    * block-pair grid exceeds this, block pairs are kept by a pinned
    * md5-hash draw at rate budget/total (deterministic, cross-engine —
    * the x40 hashBucket spelling) and the kernel computes an unbiased
    * SAMPLE of the exact pair set. The un-bounded r17 kernel OOM'd a
    * 40 GiB JVM at 200 K vectors: a bound that doesn't scale is not a
    * bound. 4096 pairs × two ~0.5 MB packed blocks keeps the join's
    * shuffle ≲4 GB and the pair compares ≲4·10⁹ at any corpus size.
    * Both graded scales sit far under the budget (sf0.1: 3 block
    * pairs), where the keep-all branch makes the plan — and the x24
    * oracle — byte-identical to the unbounded kernel. The drop is NOT
    * silent: x219 reports the kept/total coverage (the basketDrops
    * convention), and it is the fraction to divide any downstream
    * pair-count estimate by.
    */
  val MaxBlockPairs = 4096L

  /** The md5 keep-draw for block pair (a, b) at rate budget/total —
    * pinned, engine-portable (the twin spells the same md5 prefix).
    * DECIMAL(38,0) products: hash‰ × total outgrows int64 once the
    * grid passes ~10¹² pairs.
    */
  private def blockPairKeep(blkA: Column, blkB: Column, totalPairs: Column,
      budget: Long): Column = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val h = pmod(TextAnalysis.tokenHash(
      concat(lit("x24bp:"), blkA.cast("string"), lit(":"), blkB.cast("string"))),
      lit(1000000L))
    h.cast(dec) * totalPairs.cast(dec) < lit(budget).cast(dec) * lit(1000000L).cast(dec)
  }

  def embeddingNearDup(s: SparkSession, dir: String, threshold: Double = 0.4,
      blockSize: Int = 1024): DataFrame =
    nearDupCache(s, (dir, threshold, blockSize))(
      embeddingNearDupPlan(s, dir, threshold, blockSize).pinned)

  private def embeddingNearDupPlan(s: SparkSession, dir: String, threshold: Double,
      blockSize: Int): DataFrame = {
    import s.implicits._
    val packed = t(s, dir, "embeddings")
      .select((col("vec_id").cast("long") / blockSize).cast("long").as("blk"),
        col("vec_id"), col("embedding"))
      .groupBy(col("blk"))
      .agg(collect_list(struct(col("vec_id"), col("embedding"))).as("vecs"))
      .pinned
    // The grid enumerates NON-EMPTY blocks only, and the budget counts
    // their pairs — never the id-range: sparse/offset id spaces (the
    // 100x corpus clones at +10M key offsets) make a range-derived grid
    // arbitrarily larger than the data (measured: 4.7e11 phantom range
    // pairs vs ~4.5e4 real ones at 100x, collapsing the keep-rate to ~0
    // and the kernel output with it). Block count: a 1-row aggregate
    // (like IVF's bounded sample), not a corpus materialization.
    val nBlocks = packed.count()
    val totalBlockPairs = nBlocks * (nBlocks + 1L) / 2L
    val ids = packed.select(col("blk"))
    val grid = ids.select(col("blk").as("blk_a"))
      .join(ids.select(col("blk").as("blk_b")), col("blk_b") >= col("blk_a"))
    val kept =
      if (totalBlockPairs <= MaxBlockPairs) grid
      else grid.filter(blockPairKeep(col("blk_a"), col("blk_b"),
        lit(totalBlockPairs), MaxBlockPairs))
    // payloads join AFTER the keep filter: only surviving block pairs
    // ever carry the ~0.5 MB packed arrays through a shuffle
    val pairs = kept
      .join(packed.select(col("blk").as("blk_a"), col("vecs").as("va")), "blk_a")
      .join(packed.select(col("blk").as("blk_b"), col("vecs").as("vb")), "blk_b")
      .select(col("blk_a"), col("blk_b"), col("va"), col("vb"))
      .as[BlockPair]
      .flatMap { bp =>
        val a = bp.va.toArray
        val b = bp.vb.toArray
        val na = a.map(r => math.sqrt(dotLoop(r.embedding, r.embedding)))
        val nb = if (bp.blk_a == bp.blk_b) na
                 else b.map(r => math.sqrt(dotLoop(r.embedding, r.embedding)))
        // explicit while loops: the for-comprehension spelling allocates a
        // tuple per INNER iteration (n^2 total), which dominated the kernel
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var i = 0
        while (i < a.length) {
          val ai = a(i); val via = ai.vec_id; val ea = ai.embedding; val ni = na(i)
          var j = 0
          while (j < b.length) {
            val bj = b(j)
            if (via < bj.vec_id) {
              val cos = dotLoop(ea, bj.embedding) / (ni * nb(j))
              if (cos >= threshold) out += ((via, bj.vec_id, cos))
            }
            j += 1
          }
          i += 1
        }
        out
      }
    pairs.toDF("vec_a", "vec_b", "cosine")
      .orderBy(col("cosine").desc, col("vec_a"), col("vec_b"))
  }

  /** x219: the x24 kernel's coverage datasheet (the basketDrops
    * convention — a cap is never silent): one row with the corpus size,
    * the block grid, how many block pairs the budget keeps under the
    * pinned md5 draw, and the kept/total coverage fraction. Downstream
    * consumers of a sampled x24 run divide pair-count estimates by
    * `coverage`; at the graded scales coverage = 1.0 (keep-all branch).
    * The whole query is block-grid-sized arithmetic derived from a
    * 1-row corpus aggregate — no corpus pair work anywhere.
    */
  def embeddingNearDupCoverage(s: SparkSession, dir: String,
      blockSize: Int = 1024, budget: Long = MaxBlockPairs): DataFrame = {
    // NON-EMPTY blocks only, matching the kernel (sparse id spaces make
    // a range-derived grid meaningless — see embeddingNearDupPlan)
    val blks = t(s, dir, "embeddings")
      .select((col("vec_id").cast("long") / blockSize).cast(LongType).as("blk"))
      .distinct()
    val nv = t(s, dir, "embeddings").agg(count(lit(1)).as("n_vecs"))
    val tot = blks.agg(count(lit(1)).as("n_blocks"))
      .select(col("n_blocks"),
        (col("n_blocks") * (col("n_blocks") + 1L) / lit(2L))
          .cast(LongType).as("total_block_pairs"))
    val grid = blks.select(col("blk").as("ba"))
      .join(blks.select(col("blk").as("bb")), col("bb") >= col("ba"))
      .crossJoin(broadcast(tot))
    grid
      .select(col("n_blocks"), col("total_block_pairs"),
        when(col("total_block_pairs") <= budget
            || blockPairKeep(col("ba"), col("bb"), col("total_block_pairs"), budget),
          1L).otherwise(0L).as("keep"))
      .groupBy(col("n_blocks"), col("total_block_pairs"))
      .agg(sum(col("keep")).as("kept_block_pairs"))
      .crossJoin(broadcast(nv))
      .select(col("n_vecs"), col("n_blocks"), col("total_block_pairs"),
        col("kept_block_pairs"),
        (col("kept_block_pairs").cast(DoubleType)
          / col("total_block_pairs").cast(DoubleType)).as("coverage"))
  }

  /** Semantic-dedup cluster resolution: the BANDED cosine near-dup pair
    * set (wide-SRP candidates, exact-verified — `bandedNearDup`)
    * resolved into clusters by the shared pointer-jumping
    * connected-components kernel — per vector: the cluster's canonical
    * (minimum) id and its size. This is embedding-space dedup's
    * keep-one-copy step, the counterpart of x47 on the MinHash side;
    * singletons (no near-dup) are not rows by definition.
    *
    * Since round 9 this consumes the banded lane, not the x24 all-pairs
    * kernel, so the ENTIRE production path is sub-quadratic: sketch
    * (linear) -> bucket join (bounded by bucket sizes) -> exact verify
    * (candidates only) -> CC (logarithmic rounds). x24 stays as the
    * exact ground-truth oracle at test scale, and x100 measures the
    * banded/exact recall curve rather than assuming it.
    */
  def embeddingDupClusters(s: SparkSession, dir: String): DataFrame = {
    val labels = bandedLabels(s, dir)
    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "lbl")
      .select(col("vec_id"), col("lbl").as("cluster_id"), col("cluster_size"))
      .orderBy(col("vec_id"))
  }

  /** x138: SemDeDup-style savings datasheet (Abbas et al. 2023,
    * arXiv:2303.09540 ask "what does semantic dedup buy?" — this answers
    * it in tokens): the x57 cluster table extended to EVERY document
    * (singletons = their own cluster of 1), joined with the documents'
    * token counts (vec_id ≡ doc_id), and rolled up per cluster size —
    * clusters, docs, kept docs (1 canonical per cluster), and the token
    * economics: total vs kept vs dropped tokens and the kept ratio. The
    * table a curation owner reads to decide whether the semantic pass
    * pays for itself at the next scale-up. All counts exact integers;
    * one closing ratio. Shape: rides the cached banded pair set + CC
    * labels (sub-quadratic production lane), one doc-grain join, one
    * sizes-sized aggregate.
    */
  def semdedupReport(s: SparkSession, dir: String): DataFrame = {
    val labels = bandedLabels(s, dir)
    val toks = t(s, dir, "documents")
      .select(col("doc_id").as("vec_id"),
        size(split(trim(col("text")), "\\s+")).cast(LongType).as("n_tokens"))
    // Two-level aggregation instead of a self-join on sizes (r20
    // optimization round, guide §2.4): every output column decomposes
    // over clusters — n_docs = Σ cluster_size, n_clusters = row count of
    // the per-cluster frame, token sums add — so aggregate per cluster
    // first and re-aggregate per size. This removes the r19 pin (the
    // frame now has ONE consumer), the sizes self-join, the doc-grain
    // re-shuffle, and the countDistinct expand; every count is the same
    // exact integer.
    val all = t(s, dir, "embeddings").select(col("vec_id"))
      .join(labels, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("lbl"), col("vec_id")).as("cluster_id"))
      .join(toks, "vec_id")
    all.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        sum(col("n_tokens")).as("tt"),
        sum(when(col("vec_id") === col("cluster_id"), col("n_tokens")).otherwise(0L))
          .as("tk"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_docs"),
        sum(col("tt")).as("tokens_total"),
        sum(col("tk")).as("tokens_kept"))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        col("tokens_total"), col("tokens_kept"),
        (col("tokens_total") - col("tokens_kept")).as("tokens_dropped"),
        (col("tokens_kept").cast(DoubleType) / col("tokens_total").cast(DoubleType))
          .as("kept_token_ratio"))
      .orderBy(col("cluster_size"))
  }

  private def l2normalize(v: Array[Float]): Array[Double] = {
    val n = math.sqrt(dotLoop(v, v))
    if (n == 0.0) v.map(_.toDouble) else v.map(_ / n)
  }

  /** Spherical k-means (Lloyd on the unit sphere): centroids trained on a
    * bounded, deterministic sample collected to the driver — the standard
    * IVF practice (coarse quantizers train on samples at any scale; only
    * ASSIGNMENT must be distributed). Fixed iteration count and
    * first-k init keep the model reproducible.
    */
  private def sphericalKMeans(sample: Array[Array[Double]],
      k: Int, iters: Int): Array[Array[Double]] = {
    val dim = sample.head.length
    var cents = sample.take(k).map(_.clone)
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        var bestC = 0; var bestDot = Double.MinValue
        var c = 0
        while (c < cents.length) {
          var d = 0.0; var i = 0
          while (i < dim) { d += v(i) * cents(c)(i); i += 1 }
          if (d > bestDot) { bestDot = d; bestC = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(bestC)(i) += v(i); i += 1 }
        counts(bestC) += 1
      }
      cents = sums.zipWithIndex.map { case (sv, c) =>
        if (counts(c) == 0) cents(c)
        else {
          val n = math.sqrt(sv.map(x => x * x).sum)
          if (n == 0.0) cents(c) else sv.map(_ / n)
        }
      }
    }
    cents
  }

  /** The `n` centroid indices with the highest dot product against the
    * normalized vector.
    */
  private def nearestCells(cents: Array[Array[Double]],
      v: Array[Float], n: Int): Seq[Int] = {
    val nv = l2normalize(v)
    cents.zipWithIndex.map { case (cv, ci) =>
      var d = 0.0; var i = 0
      while (i < nv.length) { d += nv(i) * cv(i); i += 1 }
      (ci, d)
    }.sortBy(-_._2).take(n).map(_._1).toSeq
  }

  /** IVF ANN cosine top-k: the second scale path next to the hyperplane
    * LSH. Vectors are assigned to their nearest spherical-k-means cell
    * (distributed, compiled loops over the broadcast centroids); a query
    * probes its `nProbe` nearest cells and scores only those candidates
    * with the exact cosine. SimilaritySpec bounds recall vs the exact
    * top-k.
    */
  def ivfTopk(s: SparkSession, dir: String,
      numQueries: Int = 5, k: Int = 10,
      nCells: Int = 16, nProbe: Int = 6, iters: Int = 5): DataFrame = {
    import s.implicits._
    val typed = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
    val sample = typed.orderBy(col("vec_id")).limit(2048).collect()
    val cents = sphericalKMeans(sample.map(p => l2normalize(p._2)), nCells, iters)
    val bc = s.sparkContext.broadcast(cents)
    val assigned = typed.mapPartitions { it =>
      val cs = bc.value
      it.map { case (id, v) => (id, nearestCells(cs, v, 1).head) }
    }.toDF("vec_id", "cell")
    val probes = typed.filter(col("vec_id") < numQueries)
      .mapPartitions { it =>
        val cs = bc.value
        it.flatMap { case (id, v) => nearestCells(cs, v, nProbe).map(c => (id, c)) }
      }.toDF("query_id", "cell")
    val candIds = assigned.join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .dropDuplicates("query_id", "vec_id")
    candidateTopk(corpus(s, dir), candIds, numQueries, k)
  }

  /** Per-label embedding centroids (the preprocessing step an IVF index
    * or a nearest-centroid classifier trains from): mean vector per
    * label, computed per (label, dimension) after posexplode — one
    * codegen'd explode + hash-aggregate, no driver math. The per-group
    * sum folds in vec_id order (array_sort + left fold, the x04
    * pattern) so the doubles are bitwise-reproducible cross-engine
    * rather than summed in arbitrary hash-partition order.
    */
  def labelCentroids(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("label"), col("vec_id"), posexplode(col("embedding")))
      .select(col("label"), col("pos"),
        struct(col("vec_id"), col("col").cast(DoubleType).as("x")).as("vx"))
      .groupBy(col("label"), col("pos"))
      .agg(
        aggregate(
          transform(array_sort(collect_list(col("vx"))), v => v.getField("x")),
          lit(0.0), (acc, v) => acc + v).as("sx"),
        count(lit(1)).as("n"))
      .select(col("label"), col("pos").cast("long").as("pos"),
        (col("sx") / col("n").cast(DoubleType)).as("centroid"))
      .orderBy(col("label"), col("pos"))

  /** Representation-drift monitor — x107's composition drift, on the
    * embedding side: per label, the cosine between the label's centroid
    * in the FIRST half of the corpus (arithmetic vec_id midpoint) and
    * in the SECOND — "did what this label MEANS move?", the check a
    * vector pipeline runs when the upstream encoder or corpus shifts.
    * Exactness discipline: dimension values quantize to integers
    * (floor(v·2^20), the SRP trick), per-(label,half,pos) sums are
    * exact BIGINTs, and the dot/norm reductions run in DECIMAL(38,0)
    * (a BIGINT product overflows at ~3e8-scale sums; a double sum would
    * be partition-order-dependent) — counts cancel in the cosine, so
    * sum vectors stand in for centroids with one double division at the
    * end. Labels missing from a half yield NULL, not Infinity.
    */
  def embeddingDrift(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "embeddings")
    val bounds = base.agg(
      ((min(col("vec_id")) + max(col("vec_id")) + 1L) / 2L).cast(LongType).as("mid"))
    val dims = base.crossJoin(broadcast(bounds))
      .select(col("label"), (col("vec_id") < col("mid")).as("first_half"),
        posexplode(col("embedding")))
      .select(col("label"), col("first_half"), col("pos"),
        LongVec.quantize(col("col")).as("q"))
    val sums = dims.groupBy(col("label"), col("pos"))
      .agg(sum(when(col("first_half"), col("q")).otherwise(0L)).cast(LongType).as("sa"),
        sum(when(!col("first_half"), col("q")).otherwise(0L)).cast(LongType).as("sb"))
    val geo = sums.groupBy(col("label")).agg(
      sum(col("sa").cast("decimal(38,0)") * col("sb").cast("decimal(38,0)")).as("dot"),
      sum(col("sa").cast("decimal(38,0)") * col("sa").cast("decimal(38,0)")).as("na2"),
      sum(col("sb").cast("decimal(38,0)") * col("sb").cast("decimal(38,0)")).as("nb2"))
    val counts = base.crossJoin(broadcast(bounds)).groupBy(col("label"))
      .agg(sum(when(col("vec_id") < col("mid"), 1L).otherwise(0L))
          .cast(LongType).as("n_first"),
        sum(when(col("vec_id") >= col("mid"), 1L).otherwise(0L))
          .cast(LongType).as("n_second"))
    counts.join(geo, "label")
      .select(col("label"), col("n_first"), col("n_second"),
        when(col("na2") === 0 || col("nb2") === 0, lit(null).cast(DoubleType))
          .otherwise(col("dot").cast(DoubleType)
            / (sqrt(col("na2").cast(DoubleType)) * sqrt(col("nb2").cast(DoubleType))))
          .as("centroid_cosine"))
      .orderBy(col("label"))
  }

  /** Class-balance report over the labeled embeddings: per-label counts
    * and shares plus the corpus Gini impurity 1 - Σ pᵢ² — the imbalance
    * screen a training run checks before weighting/resampling decides
    * anything. Entropy needs a logarithm (not cross-engine exact); Gini
    * is a ratio of exact BIGINT sums — Σcᵢ² / N² — so it hash-gates.
    * One tiny aggregate + a broadcast total.
    */
  def labelBalance(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "embeddings")
      .groupBy(col("label")).agg(count(lit(1)).as("n_vectors"))
    val totals = counts.agg(
      sum(col("n_vectors")).cast("long").as("n_total"),
      sum(col("n_vectors") * col("n_vectors")).cast("long").as("sum_sq"))
    counts.crossJoin(broadcast(totals))
      .select(col("label"), col("n_vectors"),
        (col("n_vectors").cast(DoubleType) / col("n_total").cast(DoubleType)).as("share"),
        // n_total is squared in DOUBLE: a BIGINT product wraps silently past
        // ~3.03e9 rows (DuckDB would error, Spark would return a wrong Gini).
        // sum_sq stays an exact BIGINT sum — deterministic across partition
        // orders, which a double sum is not — and is safe while no single
        // label exceeds ~3e9 rows.
        (lit(1.0) - col("sum_sq").cast(DoubleType)
          / (col("n_total").cast(DoubleType) * col("n_total").cast(DoubleType)))
          .as("gini_impurity"))
      .orderBy(col("label"))
  }

  /** SRP sketch width: 4 bands x 8 bits. 32 bits on 64-dim embeddings
    * keeps the sketch selective while the 4-band pigeonhole covers
    * Hamming <= 3 exactly.
    */
  val SrpBits = 32

  /** The per-dimension ±1 hyperplane signs, derived from md5 so BOTH
    * engines materialize the identical "random" matrix: sign(d, b) =
    * (md5("d:b") low bit) * 2 - 1. A 64-row broadcast table with one
    * column per bit — each embedding dimension joins its 32 signs once;
    * the votes then reduce in a single hash-aggregate.
    */
  private def srpSigns(s: SparkSession): DataFrame = {
    val cols = (0 until SrpBits).map { b =>
      (pmod(TextAnalysis.tokenHash(
        concat(col("d").cast("string"), lit(s":$b"))), lit(2L)) * 2L - 1L).as(s"s$b")
    }
    s.range(64).toDF("d").select((col("d") +: cols): _*)
  }

  /** Signed-random-projection (SRP / hyperplane LSH — Charikar, STOC'02)
    * sketch of each embedding: bit b is set iff the dot product with
    * pseudo-random hyperplane b is positive. Dimension values QUANTIZE
    * to exact integers (floor(v * 2^20) — float→double is exact, the
    * scaling is exact, and integer sums are order-independent), so the
    * sketch is bit-identical across engines and partitionings — the
    * embedding-space analog of the x13 token SimHash.
    */
  def srpSketch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val dims = t(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").cast(LongType).as("d"),
        LongVec.quantize(col("col")).as("q"))
    val votes = (0 until SrpBits).map(b => sum(col("q") * col(s"s$b")).as(s"v$b"))
    dims.join(broadcast(srpSigns(s)), "d")
      .groupBy(col("vec_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("vec_id"),
        (0 until SrpBits).map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce((a, b) => a.bitwiseOR(b)).as("srp"))
  }

  /** SRP near-duplicate pairs: sketch Hamming distance <= 3, found via
    * 4x8-bit band buckets — a pair within Hamming 3 differs in at most 3
    * bands, so by pigeonhole it SHARES at least one band: the banded
    * candidate set provably covers every qualifying pair, the exact
    * Hamming filter trims false candidates, and the emitted set EQUALS
    * the brute-force all-pairs answer (which is what the oracle runs).
    * At 100 TB only (vec_id, band, key) rides the LSH shuffle; buckets
    * hold near-identical vectors only, so pair expansion is bounded by
    * duplicate-cluster size, never corpus size.
    */
  def srpNearDup(s: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    import org.apache.spark.sql.types.LongType
    // pinned (r19 optimization round, guide §1.2): the 64-sum projection
    // aggregate behind the sketch is referenced by all four band legs on
    // BOTH join sides — without the checkpoint the plan re-evaluates it
    // up to 8x per run
    val sk = srpSketch(s, dir).pinned
    val bands = (0 until 4).map(bd => sk.select(col("vec_id"), col("srp"),
        lit(bd).as("band"),
        shiftright(col("srp"), bd * 8).bitwiseAND(lit(255L)).as("key")))
      .reduce(_ unionByName _)
    val a = bands.select(col("band"), col("key"),
      col("vec_id").as("vec_a"), col("srp").as("srp_a"))
    val b = bands.select(col("band"), col("key"),
      col("vec_id").as("vec_b"), col("srp").as("srp_b"))
    a.join(b, Seq("band", "key"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        bit_count(col("srp_a").bitwiseXOR(col("srp_b"))).cast(LongType).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Wide-SRP sketch geometry for the banded near-dup lane: 256 bits in
    * 32 bands of 8. Chosen for the dedup operating point, not for the
    * test corpus: at cosine 0.9 (real near-duplicates) per-bit agreement
    * is p = 1 - acos(0.9)/pi = 0.856, an 8-bit band matches with
    * p^8 = 0.29, and 32 bands miss with (1-0.29)^32 ~ 2e-5 — effectively
    * total recall where dedup must not miss. At cosine 0.4 (this
    * corpus's random 3-sigma tail) p = 0.631 and recall is ~0.56 BY
    * DESIGN: the LSH exponent rho = log(1/0.631)/log(1/0.5) = 0.66
    * means NO banding scheme separates cosine 0.4 from random pairs
    * sub-quadratically — x100 measures exactly this curve, and x24
    * remains the exact ground-truth oracle at test scale.
    */
  val WideSrpBits = 256
  val WideBandBits = 8

  /** Sentinel default for `sketchBits`/`bandBits`: derive the geometry
    * from the corpus size (`adaptiveGeometry`). Every production entry
    * point of the banded family defaults to this; explicit widths remain
    * available for specs and the recall audit.
    */
  val AdaptiveBits = 0

  /** Per-bit sign-agreement probability of two vectors at the cosine-0.9
    * dedup operating point: p = 1 - acos(0.9)/pi. All band counts in
    * `BandCountForBits` derive from it.
    */
  val OperatingAgreement = 0.8564337068712937

  /** Pair-miss budget at the operating point: (1 - p^bandBits)^numBands
    * <= 2e-5 — effectively total recall where dedup must not miss.
    */
  val BandMissTarget = 2e-5

  /** bandBits -> numBands lookup, precomputed once from the closed form
    * numBands = ceil(ln(BandMissTarget) / ln(1 - p^bandBits)) with
    * p = OperatingAgreement, and EMBEDDED AS INTEGER LITERALS here and
    * (via the same map) in the DuckDB twins — no runtime float log/pow
    * whose last-ulp could differ across engines and flip a ceil. Row
    * 8 -> 32 is exactly the fixed 256-bit geometry of rounds <= 9, so
    * the clamp floor reproduces the historical sketch bit-for-bit.
    */
  val BandCountForBits: Map[Int, Int] = Map(
    8 -> 32, 9 -> 38, 10 -> 46, 11 -> 54, 12 -> 64, 13 -> 76, 14 -> 90,
    15 -> 106, 16 -> 124, 17 -> 146, 18 -> 171, 19 -> 201, 20 -> 235,
    21 -> 275, 22 -> 322, 23 -> 377, 24 -> 441, 25 -> 516, 26 -> 603,
    27 -> 705, 28 -> 825, 29 -> 964, 30 -> 1126, 31 -> 1316, 32 -> 1537,
    33 -> 1795, 34 -> 2097, 35 -> 2449, 36 -> 2861, 37 -> 3341,
    38 -> 3902, 39 -> 4557, 40 -> 5322)

  /** Integer-exact ceil(log2(m)) — the Scala side of the cross-engine
    * contract (DuckDB: `length(printf('%b', m - 1))`). No doubles.
    */
  def ceilLog2(m: Long): Int =
    if (m <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1L)

  /** Scale-adaptive band width: the smallest bandBits keeping expected
    * bucket occupancy <= 4 vectors per band bucket on a non-duplicated
    * corpus (2^bandBits >= n/4, i.e. bandBits = ceil(log2(ceil(n/4))),
    * floored at the historical 8). Fixed-width bands are the quadratic
    * scale-killer the round-9 verdict named: with 8-bit keys each band
    * hashes the corpus into <= 256 buckets, so candidate pairs grow
    * ~numBands * n^2 / 2^(bandBits+1) — at 100x that is ~1e13 verify dot
    * products. Growing bandBits with log2(n) keeps per-band candidates
    * O(n), and `BandCountForBits` grows numBands to hold the recall
    * contract (miss <= 2e-5 at cosine 0.9) at the wider bands. The
    * sketch cost per vector is numBands*bandBits bits — n=1e9 needs
    * 28-bit bands x 825 bands ~ 2.9 KB/vector, the standard LSH
    * n^rho repetition cost (rho ~ 0.22 at the operating point), linear
    * in corpus size and tiny next to the embeddings themselves.
    */
  def adaptiveBandBits(n: Long): Int =
    math.max(WideBandBits, ceilLog2((n + 3L) / 4L))

  /** (sketchBits, bandBits) for a corpus of n vectors. All bands are
    * full-width: sketchBits = numBands * bandBits.
    */
  def adaptiveGeometry(n: Long): (Int, Int) = {
    val bb = adaptiveBandBits(n)
    val nb = BandCountForBits.getOrElse(bb,
      throw new IllegalArgumentException(
        s"corpus of $n vectors needs $bb-bit bands, beyond the " +
          s"precomputed table (max ${BandCountForBits.keys.max}) — " +
          "extend BandCountForBits (and the DuckDB twin CASE) from the " +
          "closed form in its scaladoc"))
    (nb * bb, bb)
  }

  /** Corpus sizes, counted once per (session, dataset) — one
    * metadata-cheap count action feeding the geometry choice.
    */
  private val countCache = SessionMemo[String, Long]("Similarity.count")

  def embCount(s: SparkSession, dir: String): Long =
    countCache(s, dir)(t(s, dir, "embeddings").count())

  /** Resolve `AdaptiveBits` sentinels against the corpus size; explicit
    * widths pass through untouched (specs, the x100 audit at pinned
    * geometry). Either sentinel switches BOTH values to the adaptive
    * pair — sketch width and band width are one joint choice.
    */
  private def resolveGeometry(s: SparkSession, dir: String,
      sketchBits: Int, bandBits: Int): (Int, Int) =
    if (sketchBits == AdaptiveBits || bandBits == AdaptiveBits)
      adaptiveGeometry(embCount(s, dir))
    else (sketchBits, bandBits)

  /** Long-form (dimension, bit, sign) hyperplane matrix — the same
    * md5-derived +-1 signs as `srpSigns` ("d:b" keys, so the 32-bit
    * sketch is a prefix of this one) but RELATIONAL in the bit axis:
    * arbitrary sketch width with no wide-column codegen blowup, and the
    * DuckDB twin is the same three-line cross join instead of 256
    * generated columns.
    */
  private def srpWideSigns(s: SparkSession, sketchBits: Int): DataFrame =
    s.range(64).toDF("d").crossJoin(s.range(sketchBits).toDF("b"))
      .select(col("d"), col("b"),
        (pmod(TextAnalysis.tokenHash(concat(col("d").cast("string"), lit(":"),
          col("b").cast("string"))), lit(2L)) * 2L - 1L).as("sgn"))

  /** Per-band LSH bucket keys of the wide SRP sketch: (vec_id, band,
    * key) where key packs `bandBits` sign bits. Fully relational — one
    * broadcast join against the 64 x sketchBits sign table and two
    * codegen'd hash aggregates; the quantized-integer votes
    * (floor(v * 2^20), exact) make the keys bit-identical across
    * engines and partitionings. At 100 TB this is one linear pass over
    * the corpus emitting |bands| skinny rows per vector — the only
    * thing that ever rides the dedup shuffle.
    */
  /** The corpus band keys are the shared artifact of the whole banded
    * family (x99's candidates, x103's history+increment split, x104's
    * index build) — computed once per (session, dataset, geometry) and
    * checkpointed, the session-materialized-intermediate discipline.
    * The sketch pipeline's PLAN is still gated relational via
    * `srpBandKeysFor` (the uncached form), which streaming batches use
    * directly.
    */
  private val keysCache = SessionMemo[(String, Int, Int), DataFrame]("Similarity.keys")

  def srpBandKeys(s: SparkSession, dir: String,
      sketchBits: Int = AdaptiveBits, bandBits: Int = AdaptiveBits): DataFrame = {
    val (sb, bb) = resolveGeometry(s, dir, sketchBits, bandBits)
    // Repartition before checkpointing: the sketch inherits the SCAN's
    // split count (a small embeddings file reads as 1-2 partitions), but
    // every consumer fans OUT from here — the probe self-join multiplies
    // rows ~6x on a clone-heavy corpus and its partial aggregate runs
    // wherever these partitions sit. Without this the whole candidate
    // stage ran on 2 of 32 cores at the 10x corpus (candidate count
    // 7.0 -> 1.5 s warm, x103 end-to-end 8.8 -> 2-3 s once spread).
    keysCache(s, (dir, sb, bb))(
      srpBandKeysFor(s, t(s, dir, "embeddings"), sb, bb)
        .repartition(s.sessionState.conf.numShufflePartitions, col("vec_id"))
        .pinned)
  }

  /** Band keys for an arbitrary (vec_id, embedding) frame — the form a
    * streaming micro-batch probes with (`streamingBandProbe`). Since
    * round 10 this is ONE map-side pass: the native codegen'd
    * [[graft.functions.SrpBandKeys]] kernel emits every band key per
    * vector and a posexplode of that numBands-element array replaces
    * the corpus x dims x sketchBits exploded intermediate (broadcast
    * sign join + two hash aggregates) that used to dominate the sketch
    * cost — no shuffle anywhere, at any corpus size. Bit-identical to
    * `srpBandKeysRelational` (SimilaritySpec pins it).
    */
  def srpBandKeysFor(s: SparkSession, emb: DataFrame,
      sketchBits: Int = WideSrpBits, bandBits: Int = WideBandBits): DataFrame =
    emb.select(col("vec_id"), posexplode(
        org.apache.spark.sql.graft.ColumnBridge.column(graft.functions.SrpBandKeys(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("embedding")),
          sketchBits, bandBits))))
      .select(col("vec_id"), col("pos").cast(LongType).as("band"),
        col("col").as("key"))

  /** The relational spelling the native kernel replaced — kept as the
    * independent reference SimilaritySpec compares bitwise (and the
    * shape the DuckDB twins still spell in SQL).
    */
  private[ext] def srpBandKeysRelational(s: SparkSession, emb: DataFrame,
      sketchBits: Int = WideSrpBits, bandBits: Int = WideBandBits): DataFrame = {
    val dims = emb
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").cast(LongType).as("d"),
        LongVec.quantize(col("col")).as("q"))
    dims.join(broadcast(srpWideSigns(s, sketchBits)), "d")
      .groupBy(col("vec_id"), col("b"))
      .agg(sum(col("q") * col("sgn")).as("v"))
      .select(col("vec_id"), floor(col("b") / bandBits).cast(LongType).as("band"),
        when(col("v") > 0, expr(s"shiftleft(1L, cast(b % $bandBits as int))"))
          .otherwise(0L).as("bit"))
      .groupBy(col("vec_id"), col("band"))
      .agg(sum(col("bit")).as("key"))
  }

  /** x99/x100/x57 all consume the banded pair set — computed once per
    * (session, dataset, params) and checkpointed, same discipline as
    * `nearDupCache`.
    */
  private val bandedCache =
    SessionMemo[(String, Double, Int, Int), DataFrame]("Similarity.banded")

  /** Banded embedding near-dup — the 100 TB lane (the x86 discipline
    * applied to embeddings): candidates are pairs sharing at least one
    * wide-SRP band bucket, exact-cosine-verified and thresholded. The
    * semantics are DETERMINISTIC (md5-derived hyperplanes, quantized
    * votes), so the DuckDB twin replicates the candidate set too and
    * the gate never rides on probabilistic recall — recall vs the exact
    * kernel is measured separately (x100), not assumed.
    *
    * Scale shape: no all-pairs anywhere — |bands| rows per vector into
    * the bucket join, pair expansion bounded by bucket sizes (near-dup
    * cluster sizes at the cosine-0.9 operating point), and the exact
    * verify runs on candidates only. Precision is 1.0 by construction
    * (every emitted pair is exact-verified); recall at the dedup
    * operating point (cosine >= 0.9) is ~1 - 2e-5, while at this
    * corpus's threshold 0.4 it is ~0.56 — see `WideSrpBits` for why
    * that is information-theoretically forced, not a tuning miss.
    */
  /** Whole-corpus exact-content clone groups (rep = min vec_id, sorted
    * members) — the collapse domain of the full-corpus banded family
    * (x99/x57/x138/x100), cached per (session, dataset). One linear
    * hash-group over the embedding arrays.
    */
  private val vecGroupCache = SessionMemo[String, DataFrame]("Similarity.vecGroup")

  private def vecGroupsAll(s: SparkSession, dir: String): DataFrame =
    vecGroupCache(s, dir)(
      t(s, dir, "embeddings")
        .groupBy(col("embedding"))
        .agg(min(col("vec_id")).as("rep"),
          sort_array(collect_list(col("vec_id"))).as("members"))
        .select(col("rep"), col("members"))
        .pinned)

  /** Verified REP-grain banded pairs + the qualifying (self-cosine >=
    * threshold) multi-member groups — the engine of the collapsed
    * full-corpus lane, pinned per (session, dataset, threshold,
    * geometry). Identical embeddings have identical band keys,
    * candidacy, and IEEE-identical cosines, so banding + verify runs on
    * one rep per distinct embedding. Zero-norm vectors are outside the
    * lane's domain in BOTH spellings (ANSI divide-by-zero: at doc level
    * a zero vector shares buckets and reaches the verify's division the
    * same way the self-cosine does here — the collapse preserves even
    * the failure mode).
    */
  private val repBandedCache =
    SessionMemo[(String, Double, Int, Int), (DataFrame, DataFrame)]("Similarity.repBanded")

  private def repBandedPairs(s: SparkSession, dir: String, threshold: Double,
      sb: Int, bb: Int): (DataFrame, DataFrame) =
    repBandedCache(s, (dir, threshold, sb, bb)) {
      val groups = vecGroupsAll(s, dir)
      val keys = srpBandKeys(s, dir, sb, bb)
        .join(groups.select(col("rep").as("vec_id")), Seq("vec_id"), "left_semi")
      val cand = keys.select(col("band"), col("key"), col("vec_id").as("vec_a"))
        .join(keys.select(col("band"), col("key"), col("vec_id").as("vec_b")),
          Seq("band", "key"))
        .filter(col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"))
        .distinct()
      val pairs = exactVerify(s, dir, cand, threshold)
      val c = corpus(s, dir)
      val selfPass = groups.filter(size(col("members")) > 1)
        .select(col("rep"), col("members"))
        .join(c.select(col("vec_id").as("rep"), col("embedding"), col("nrm")),
          "rep")
        .select(col("rep"), col("members"),
          (dotD(col("embedding"), col("embedding")) / (col("nrm") * col("nrm")))
            .as("cosine"))
        .filter(col("cosine") >= threshold)
      (pairs.pinned, selfPass.pinned)
    }

  def bandedNearDup(s: SparkSession, dir: String, threshold: Double = 0.4,
      sketchBits: Int = AdaptiveBits, bandBits: Int = AdaptiveBits): DataFrame = {
    val (sb, bb) = resolveGeometry(s, dir, sketchBits, bandBits)
    // rep-grain banding + clone-group expansion (the r19 collapse): the
    // emitted pair set is byte-identical to the doc-level plan (the
    // spec's reference spelling, bandedNearDupPlan) at any clone
    // multiplicity — cross pairs inherit the rep cosine, in-group pairs
    // the group self-cosine — and the bucket join + verify run on
    // distinct content only.
    bandedCache(s, (dir, threshold, sb, bb)) {
      val (repPairs, selfPass) = repBandedPairs(s, dir, threshold, sb, bb)
      val groups = vecGroupsAll(s, dir)
      val memA = groups.select(col("rep").as("vec_a"),
        explode(col("members")).as("m_a"))
      val memB = groups.select(col("rep").as("vec_b"),
        explode(col("members")).as("m_b"))
      val cross = repPairs.join(memA, "vec_a").join(memB, "vec_b")
        .select(least(col("m_a"), col("m_b")).as("vec_a"),
          greatest(col("m_a"), col("m_b")).as("vec_b"), col("cosine"))
      val inGroup = selfPass
        .select(explode(Dedup.pairsOfSorted(col("members"))).as("p"),
          col("cosine"))
        .select(col("p.doc_a").as("vec_a"), col("p.doc_b").as("vec_b"),
          col("cosine"))
      cross.unionByName(inGroup)
        .orderBy(col("cosine").desc, col("vec_a"), col("vec_b"))
        .pinned
    }
  }

  /** (vec_id, lbl) near-dup cluster labels of the banded lane at REP
    * grain — CC runs on the rep pair graph and labels expand through
    * the clone groups (the Dedup.clusterLabels discipline on the
    * embedding side): a group's rep is its MINIMUM id, so the
    * component-min label at rep grain IS the component-min over all
    * members; multi-member groups whose self-cosine passes but whose
    * rep pairs with nothing become their own cliques. Built and pinned
    * once per (session, dataset), like `Dedup.clusterLabels`: the CC
    * rounds are eager, and x57 and x138 both read the labels.
    */
  private val labelCache = SessionMemo[String, DataFrame]("Similarity.bandedLabels")

  private[ext] def bandedLabels(s: SparkSession, dir: String): DataFrame =
    labelCache(s, dir) {
      val (sb, bb) = resolveGeometry(s, dir, AdaptiveBits, AdaptiveBits)
      val (repPairs, selfPass) = repBandedPairs(s, dir, 0.4, sb, bb)
      val groups = vecGroupsAll(s, dir)
      val connected = Dedup.connectedComponents(
        repPairs.select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
        .select(col("id").as("rep"), col("lbl"))
      val cliques = selfPass.select(col("rep"))
      val expandedConnected = connected.join(groups, "rep")
        .join(cliques.withColumn("clq", lit(true)), Seq("rep"), "left")
        .select(explode(
          when(size(col("members")) === 1 || col("clq"), col("members"))
            .otherwise(array(col("rep")))).as("vec_id"), col("lbl"))
      val isolated = selfPass
        .join(connected.select(col("rep")), Seq("rep"), "left_anti")
        .select(explode(col("members")).as("vec_id"), col("rep").as("lbl"))
      expandedConnected.unionByName(isolated).pinned
    }

  /** Exact-cosine verification of a candidate pair frame (vec_a, vec_b)
    * against the corpus — the shared tail of every banded path: two
    * vec_id joins fetch embeddings+norms for candidates ONLY, one
    * codegen'd cosine, threshold filter.
    */
  private def exactVerify(s: SparkSession, dir: String, cand: DataFrame,
      threshold: Double): DataFrame = {
    val c = corpus(s, dir)
    cand
      .join(c.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
        col("nrm").as("na")), "vec_a")
      .join(c.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
        col("nrm").as("nb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        (dotD(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  private[ext] def bandedNearDupPlan(s: SparkSession, dir: String, threshold: Double,
      sketchBits: Int, bandBits: Int): DataFrame = {
    val keys = srpBandKeys(s, dir, sketchBits, bandBits)
    val cand = keys.select(col("band"), col("key"), col("vec_id").as("vec_a"))
      .join(keys.select(col("band"), col("key"), col("vec_id").as("vec_b")),
        Seq("band", "key"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"))
      .distinct() // a pair sharing m bands verifies once, not m times
    exactVerify(s, dir, cand, threshold)
      .orderBy(col("cosine").desc, col("vec_a"), col("vec_b"))
  }

  /** Incremental banded near-dup — the x86 discipline completed on the
    * embedding lane: today's new vectors (vec_id >= histMax) probe the
    * HISTORY's band keys plus each other; history-history pairs are
    * deliberately absent (yesterday's output). Every history id <
    * histMax <= increment id, so the (hist, incr) orientation IS the
    * canonical vec_a < vec_b order. Band and key join as one packed
    * `bk = band * 2^bandBits + key` column (8-bit keys collide across
    * bands constantly — unlike the text lane's 64-bit bucket hashes,
    * the band MUST stay in the join key, and packing it keeps the
    * persisted-index variant bucketable on a single column).
    * `incr_internal` flags pairs wholly inside the increment. At 100 TB
    * the daily cost is |increment| sketching + an id-sized probe — the
    * history's text/embeddings are only touched for verified candidates.
    */
  def incrementalBandedNearDup(s: SparkSession, dir: String, histMax: Int = 400,
      threshold: Double = 0.4, sketchBits: Int = AdaptiveBits,
      bandBits: Int = AdaptiveBits): DataFrame = {
    val (sb, bb) = resolveGeometry(s, dir, sketchBits, bandBits)
    val keys = srpBandKeys(s, dir, sb, bb)
      .select(col("vec_id"),
        (col("band") * (1L << bb) + col("key")).as("bk"))
    val hist = keys.filter(col("vec_id") < histMax)
      .select(col("bk"), col("vec_id").as("vec_a"))
    finishIncrementalCollapsed(s, dir, hist, keys, histMax, threshold)
  }

  /** The doc-level incremental spelling — the reference SimilaritySpec
    * grades [[finishIncrementalCollapsed]] against on a planted-clone
    * corpus, and the engine `incrBandedCandidateCount` diagnoses.
    */
  private[ext] def incrementalBandedNearDupDoc(s: SparkSession, dir: String,
      histMax: Int = 400, threshold: Double = 0.4, sketchBits: Int = AdaptiveBits,
      bandBits: Int = AdaptiveBits): DataFrame = {
    val (sb, bb) = resolveGeometry(s, dir, sketchBits, bandBits)
    val keys = srpBandKeys(s, dir, sb, bb)
      .select(col("vec_id"),
        (col("band") * (1L << bb) + col("key")).as("bk"))
    val hist = keys.filter(col("vec_id") < histMax)
      .select(col("bk"), col("vec_id").as("vec_a"))
    val incr = keys.filter(col("vec_id") >= histMax)
    finishIncremental(s, dir, hist, incr, histMax, threshold)
  }

  /** The distinct candidate pair set of one incremental probe: history
    * hits plus increment-internal pairs — the frame whose size is the
    * cost driver of the verify stage.
    */
  private def incrCandidates(hist: DataFrame, incr: DataFrame): DataFrame = {
    val candHist = incr.select(col("bk"), col("vec_id").as("vec_b"))
      .join(hist, Seq("bk"))
      .select(col("vec_a"), col("vec_b"))
    val candIncr = incr.select(col("bk"), col("vec_id").as("vec_a"))
      .join(incr.select(col("bk"), col("vec_id").as("vec_b")), Seq("bk"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"))
    candHist.unionByName(candIncr).distinct()
  }

  /** Diagnostic: how many DISTINCT candidate pairs the incremental
    * banded probe exact-verifies at a geometry — the quantity the
    * scale-adaptive band width keeps near-linear in corpus size where
    * fixed-width bands grow it quadratically (BASELINE.md records the
    * measured curve). An operations-side index-health probe, not a
    * driver query.
    */
  def incrBandedCandidateCount(s: SparkSession, dir: String, histMax: Int = 400,
      sketchBits: Int = AdaptiveBits, bandBits: Int = AdaptiveBits): Long = {
    val (sb, bb) = resolveGeometry(s, dir, sketchBits, bandBits)
    val keys = srpBandKeys(s, dir, sb, bb)
      .select(col("vec_id"),
        (col("band") * (1L << bb) + col("key")).as("bk"))
    incrCandidates(
      keys.filter(col("vec_id") < histMax).select(col("bk"), col("vec_id").as("vec_a")),
      keys.filter(col("vec_id") >= histMax)).count()
  }

  private def finishIncremental(s: SparkSession, dir: String, hist: DataFrame,
      incr: DataFrame, histMax: Int, threshold: Double): DataFrame = {
    val cand = incrCandidates(hist, incr)
    exactVerify(s, dir, cand, threshold)
      .select(col("vec_a"), col("vec_b"), col("cosine"),
        (col("vec_a") >= histMax).as("incr_internal"))
      .orderBy(col("cosine").desc, col("vec_a"), col("vec_b"))
  }

  /** Exact-content clone groups of the INCREMENT side (vec_id >=
    * histMax): (irep = min member, sorted members), one hash-group over
    * the embedding arrays — linear, memoized per (session, dataset,
    * histMax). The collapse domain of the incremental lanes' r19
    * rework.
    */
  private val incrGroupCache = SessionMemo[(String, Int), DataFrame]("Similarity.incrGroup")

  private def incrVecGroups(s: SparkSession, dir: String,
      histMax: Int): DataFrame =
    incrGroupCache(s, (dir, histMax))(
      t(s, dir, "embeddings").filter(col("vec_id") >= histMax)
        .groupBy(col("embedding"))
        .agg(min(col("vec_id")).as("irep"),
          sort_array(collect_list(col("vec_id"))).as("members"))
        .select(col("irep"), col("members"))
        .pinned)

  /** The incremental tail at REP grain — the r15 x86/x98 clone-collapse
    * medicine on the embedding lane (the r19 remedy for x103/x104's
    * 100x constant): identical embeddings have identical band keys,
    * identical candidacy, and IEEE-identical cosines, so the increment
    * is collapsed to one representative per distinct embedding, only
    * reps ride the bucket joins and the exact verify, and verified rep
    * pairs expand through the clone groups afterwards —
    *   - (hist, irep) pairs expand irep to every clone (cosine
    *     inherited: same arrays, same double);
    *   - (irep, irep) pairs expand both sides, (least, greatest)
    *     orientation (every member of either group >= histMax);
    *   - in-group clone pairs take the group's SELF-cosine, computed
    *     once per rep with the very expression the doc-level verify
    *     uses (dot/(nrm*nrm) — NOT a lit(1.0): sqrt then multiply is
    *     not IEEE-exactly 1, and the twin hashes the double).
    * Identity on a clone-free corpus (all groups singletons — the
    * graded scales plan near-identically); linear in distinct content
    * + output size where the doc-level spelling paid candidate
    * expansion and embedding fetches quadratic in clone multiplicity.
    * History stays DOC-level: x104's standing index (and the streaming
    * probe sharing it) keeps real ids, and the history side of a daily
    * increment is the small, already-indexed one.
    */
  private def finishIncrementalCollapsed(s: SparkSession, dir: String,
      hist: DataFrame, allKeys: DataFrame, histMax: Int,
      threshold: Double): DataFrame = {
    val groups = incrVecGroups(s, dir, histMax)
    val irepKeys = allKeys.filter(col("vec_id") >= histMax)
      .join(groups.select(col("irep").as("vec_id")), Seq("vec_id"), "left_semi")
    val candHist = irepKeys.select(col("bk"), col("vec_id").as("vec_b"))
      .join(hist, Seq("bk"))
      .select(col("vec_a"), col("vec_b")).distinct()
    val candIncr = irepKeys.select(col("bk"), col("vec_id").as("vec_a"))
      .join(irepKeys.select(col("bk"), col("vec_id").as("vec_b")), Seq("bk"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b")).distinct()
    val memA = groups.select(col("irep").as("vec_a"), explode(col("members")).as("m_a"))
    val memB = groups.select(col("irep").as("vec_b"), explode(col("members")).as("m_b"))
    val exHist = exactVerify(s, dir, candHist, threshold)
      .join(memB, "vec_b")
      .select(col("vec_a"), col("m_b").as("vec_b"), col("cosine"))
    val exIncr = exactVerify(s, dir, candIncr, threshold)
      .join(memA, "vec_a").join(memB, "vec_b")
      .select(least(col("m_a"), col("m_b")).as("vec_a"),
        greatest(col("m_a"), col("m_b")).as("vec_b"), col("cosine"))
    val c = corpus(s, dir)
    val selfCos = groups.filter(size(col("members")) > 1)
      .select(col("irep"))
      .join(c.select(col("vec_id").as("irep"), col("embedding"), col("nrm")),
        "irep")
      .select(col("irep"),
        (dotD(col("embedding"), col("embedding")) / (col("nrm") * col("nrm")))
          .as("cosine"))
    val inGroup = groups.filter(size(col("members")) > 1)
      .select(col("irep"), explode(Dedup.pairsOfSorted(col("members"))).as("p"))
      .join(selfCos, "irep")
      .filter(col("cosine") >= threshold)
      .select(col("p.doc_a").as("vec_a"), col("p.doc_b").as("vec_b"),
        col("cosine"))
    exHist.unionByName(exIncr).unionByName(inGroup)
      .select(col("vec_a"), col("vec_b"), col("cosine"),
        (col("vec_a") >= histMax).as("incr_internal"))
      .orderBy(col("cosine").desc, col("vec_a"), col("vec_b"))
  }

  /** Session-catalog name for the persisted embedding band index —
    * every content-determining parameter is encoded LITERALLY (the
    * round-10 discipline: a tuple hashCode could collide between two
    * parameter sets and silently reuse a wrong index; literal encoding
    * makes stale reuse structurally impossible), plus an md5 digest of
    * the dataset path. Geometry must be pre-resolved — an index name
    * cannot be adaptive without knowing the corpus.
    */
  def embBandIndexTable(dir: String, histMax: Int, sketchBits: Int = WideSrpBits,
      bandBits: Int = WideBandBits, numBuckets: Int = 8): String =
    s"graft_emb_band_idx_h${histMax}_sb${sketchBits}_bb${bandBits}" +
      s"_nb${numBuckets}_d${graft.engine.Bucketing.pathDigest(dir)}"

  /** Materialize the history's (bk, vec_id) band keys ONCE,
    * `bucketBy(bk)` — the embedding analog of `Dedup.buildBandIndex`.
    */
  def buildEmbBandIndex(s: SparkSession, dir: String, histMax: Int = 400,
      sketchBits: Int = AdaptiveBits, bandBits: Int = AdaptiveBits,
      numBuckets: Int = 8): String = {
    val (sb, bb) = resolveGeometry(s, dir, sketchBits, bandBits)
    val tbl = embBandIndexTable(dir, histMax, sb, bb, numBuckets)
    if (!s.catalog.tableExists(tbl)) {
      val idx = srpBandKeys(s, dir, sb, bb)
        .filter(col("vec_id") < histMax)
        .select((col("band") * (1L << bb) + col("key")).as("bk"), col("vec_id"))
      graft.engine.Bucketing.writeBucketed(idx, tbl, "bk", numBuckets)
    }
    tbl
  }

  /** x103 against the PERSISTED history index: identical output (shares
    * x103's oracle), but the big (history) side scans the bucketed
    * table with NO Exchange — only the increment's skinny band keys
    * shuffle to meet it (plan-gated in SimilaritySpec). The daily-probe
    * deployment shape: sketch the delta, probe the standing index,
    * exact-verify candidates.
    */
  def incrementalBandedNearDupIndexed(s: SparkSession, dir: String,
      histMax: Int = 400, threshold: Double = 0.4, sketchBits: Int = AdaptiveBits,
      bandBits: Int = AdaptiveBits): DataFrame = {
    val (sb, bb) = resolveGeometry(s, dir, sketchBits, bandBits)
    val tbl = buildEmbBandIndex(s, dir, histMax, sb, bb)
    val hist = s.table(tbl).select(col("bk"), col("vec_id").as("vec_a"))
    val keys = srpBandKeys(s, dir, sb, bb)
      .select(col("vec_id"),
        (col("band") * (1L << bb) + col("key")).as("bk"))
    finishIncrementalCollapsed(s, dir, hist, keys, histMax, threshold)
  }

  /** One micro-batch of the STREAMING near-dup probe: the batch's
    * vectors are sketched, probe the persisted history band index, and
    * pair among themselves; candidates exact-verify against history
    * embeddings ∪ the batch (history text/embeddings are touched for
    * candidate ids only). Pairs BETWEEN different micro-batches are
    * deliberately absent — the history index is a standing artifact, so
    * cross-batch pairs surface at the next index refresh, exactly the
    * text lane's daily-append contract (x86) run continuously.
    */
  def probeBatch(s: SparkSession, batch: DataFrame, dir: String,
      histMax: Int = 400, threshold: Double = 0.4,
      sketchBits: Int = AdaptiveBits, bandBits: Int = AdaptiveBits): DataFrame = {
    val (sb, bb) = resolveGeometry(s, dir, sketchBits, bandBits)
    val tbl = buildEmbBandIndex(s, dir, histMax, sb, bb)
    val hist = s.table(tbl).select(col("bk"), col("vec_id").as("vec_a"))
    val bKeys = srpBandKeysFor(s, batch, sb, bb)
      .select(col("vec_id"),
        (col("band") * (1L << bb) + col("key")).as("bk"))
    val candHist = bKeys.select(col("bk"), col("vec_id").as("vec_b"))
      .join(hist, Seq("bk"))
      .select(col("vec_a"), col("vec_b"))
    val candIncr = bKeys.select(col("bk"), col("vec_id").as("vec_a"))
      .join(bKeys.select(col("bk"), col("vec_id").as("vec_b")), Seq("bk"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"))
    val cand = candHist.unionByName(candIncr).distinct()
    val pool = t(s, dir, "embeddings")
      .filter(col("vec_id") < histMax)
      .select(col("vec_id"), col("embedding"))
      .unionByName(batch.select(col("vec_id"), col("embedding")))
      .select(col("vec_id"), col("embedding"), normD(col("embedding")).as("nrm"))
    cand
      .join(pool.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
        col("nrm").as("na")), "vec_a")
      .join(pool.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
        col("nrm").as("nb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        (dotD(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cosine"),
        (col("vec_a") >= histMax).as("incr_internal"))
  }

  /** Continuous vector-dedup ingestion: a stream of (vec_id, embedding)
    * rows, each micro-batch probed against the standing band index and
    * its verified pairs published as one [[graft.engine.VersionedTable]]
    * snapshot keyed by batchId — `commitIfAbsent` turns an
    * at-least-once replay into a skipped commit (the
    * streamingSnapshotLoad discipline), so the pair log is exactly-once
    * per batch and time-travelable. This is the x103/x104 daily shape
    * run as a stream: sketch the delta, probe the index, verify
    * candidates, commit.
    */
  def streamingBandProbe(s: SparkSession, vectors: DataFrame, dir: String,
      root: String, checkpoint: String, histMax: Int = 400,
      threshold: Double = 0.4): org.apache.spark.sql.streaming.StreamingQuery = {
    // Pin the adaptive geometry at stream start: the standing index was
    // built under it, and every batch must probe with the SAME band
    // width or silently read the wrong buckets. Each batch re-derives
    // the corpus geometry from a fresh count and FAILS FAST on drift —
    // a grown corpus means a wider-band index (a different literal
    // table name) must be rebuilt before probing resumes.
    val (sb, bb) = adaptiveGeometry(embCount(s, dir))
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        val now = adaptiveGeometry(t(s, dir, "embeddings").count())
        require(now == ((sb, bb)),
          s"corpus geometry drifted: index built at (sketchBits=$sb, " +
            s"bandBits=$bb) but the corpus now needs $now — rebuild " +
            s"${embBandIndexTable(dir, histMax, now._1, now._2)} and restart")
        graft.engine.VersionedTable.commitIfAbsent(
          probeBatch(s, batch.toDF(), dir, histMax, threshold, sb, bb),
          root, batchId): Unit
      }
      .start()
  }

  /** kNN label-consistency evaluation — the standard embedding-quality
    * audit (does neighborhood structure agree with labels?): for each
    * query vector, the majority label among its k exact-cosine nearest
    * neighbors (ties broken toward the smaller label, rank ties toward
    * the smaller vec_id — total orders, so the frame hash-gates),
    * scored against the query's own label and reduced per label to
    * (n_queries, n_correct, accuracy). The per-query leg is the x20
    * broadcast shape: queries broadcast, the corpus is never shuffled
    * to score, partition-local row_number pre-prunes to k per
    * (query, partition) before the per-query rank.
    */
  /** The k-nearest labeled neighbors of every query, ranked — shared by
    * x105's majority vote and x110's MRR. Two-phase top-k (the x20
    * discipline): partition-local row_number prunes to k per (query,
    * partition) BEFORE the per-query shuffle — the global window sees
    * |queries| x partitions x k rows, never the scored corpus (a
    * 50-partition window over the full corpus is the q77 straggler
    * shape).
    */
  private def knnRanked(s: SparkSession, dir: String,
      numQueries: Int, k: Int): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"),
        normD(col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("label").as("query_label"),
        col("embedding").as("qv"), col("nrm").as("qn"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("query_label"), col("vec_id"), col("label"),
        cosine().as("cosine"))
    TopKPerKey.twoPhase(scored, PerQuery, ByCosine, k)
  }

  def knnLabelEval(s: SparkSession, dir: String,
      numQueries: Int = 50, k: Int = 10): DataFrame = {
    val votes = knnRanked(s, dir, numQueries, k)
      .groupBy(col("query_id"), col("query_label"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
    val maj = Window.partitionBy(col("query_id"))
      .orderBy(col("n_votes").desc, col("label"))
    votes
      .withColumn("mr", row_number().over(maj))
      .filter(col("mr") === 1)
      .groupBy(col("query_label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("label") === col("query_label"), 1L).otherwise(0L))
          .cast(LongType).as("n_correct"))
      .select(col("query_label"), col("n_queries"), col("n_correct"),
        (col("n_correct").cast(DoubleType) / col("n_queries").cast(DoubleType))
          .as("accuracy"))
      .orderBy(col("query_label"))
  }

  /** Mean reciprocal rank of the first same-label neighbor — the
    * retrieval-quality companion to x105's classification view: per
    * label, how high the first relevant (same-label) result ranks.
    * EXACT-RATIONAL MRR: 1/r summed as the integer 2520/r (2520 =
    * lcm(1..10), so every reciprocal is a whole number), reduced as a
    * BIGINT sum with ONE double division at the end — a sum of 1/3-like
    * doubles would be partition-order-dependent and could not
    * hash-gate. Queries with no same-label neighbor in the top k
    * contribute 0 (counted separately as n_hit vs n_queries).
    */
  def knnMrr(s: SparkSession, dir: String,
      numQueries: Int = 50, k: Int = 10): DataFrame = {
    require(k <= 10, s"exact-rational MRR scales by lcm(1..10); got k=$k")
    knnRanked(s, dir, numQueries, k)
      .groupBy(col("query_id"), col("query_label"))
      .agg(min(when(col("label") === col("query_label"), col("rank")))
        .as("first_rank"))
      .groupBy(col("query_label"))
      .agg(count(lit(1)).as("n_queries"),
        count(col("first_rank")).as("n_hit"),
        sum(expr("2520 DIV first_rank")).cast(LongType).as("rr_num"))
      .select(col("query_label"), col("n_queries"), col("n_hit"),
        (coalesce(col("rr_num"), lit(0L)).cast(DoubleType)
          / (lit(2520.0) * col("n_queries").cast(DoubleType))).as("mrr"))
      .orderBy(col("query_label"))
  }

  /** Hard-negative mining — the contrastive-training companion to
    * x105/x110: for each query, the k highest-cosine corpus vectors
    * whose label DIFFERS from the query's (the "confusable" examples a
    * retrieval/embedding trainer wants as negatives; easy random
    * negatives teach nothing). Same broadcast-query shape and two-phase
    * top-k as `knnRanked` — the corpus never shuffles, a partition-local
    * row_number prefilter bounds what reaches the per-query window —
    * and the same bitwise-cosine discipline (native `dotD` strict fold),
    * so the float ranking hash-gates cross-engine. Ties break by vec_id:
    * a total order.
    */
  def hardNegatives(s: SparkSession, dir: String,
      numQueries: Int = 20, k: Int = 10): DataFrame = {
    val q = t(s, dir, "embeddings")
      .filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("label").as("query_label"),
        col("embedding").as("qv"), normD(col("embedding")).as("qn"))
    hardNegativesForQueries(s, dir, q, k)
  }

  /** The mining core behind x112, shared with the streaming form: the
    * prepared query frame `q` (query_id, query_label, qv, qn) is
    * broadcast against the standing labeled corpus — queries need not
    * be corpus members, which is exactly what lets a micro-batch of
    * fresh vectors ride the same plan.
    */
  private def hardNegativesForQueries(s: SparkSession, dir: String,
      q: DataFrame, k: Int): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"),
        normD(col("embedding")).as("nrm"))
    val scored = e.join(broadcast(q), col("label") =!= col("query_label"))
      .select(col("query_id"), col("query_label"), col("vec_id"),
        col("label").as("neg_label"), cosine().as("cosine"))
    TopKPerKey.twoPhase(scored, PerQuery, ByCosine, k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Continuous hard-negative mining: a stream of labeled query vectors
    * (vec_id, label, embedding) — the shape of an embedding trainer's
    * in-flight batch — each micro-batch mined against the standing
    * labeled corpus by the exact x112 plan (`hardNegativesForQueries`:
    * queries broadcast, corpus never shuffles, two-phase top-k) and
    * published as one [[graft.engine.VersionedTable]] snapshot keyed by
    * batchId. `commitIfAbsent` turns an at-least-once replay into a
    * skipped commit (the streamingBandProbe discipline), so the
    * negatives log is exactly-once per batch and time-travelable — a
    * trainer can reproduce any step's negative set. Unlike the band
    * probe there is no standing-index geometry to drift: the corpus is
    * rescored exactly per batch, so no fail-fast gate is needed.
    */
  def streamingHardNegatives(s: SparkSession, queries: DataFrame,
      dir: String, root: String, checkpoint: String,
      k: Int = 10): org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        val q = batch.toDF().select(col("vec_id").as("query_id"),
          col("label").as("query_label"), col("embedding").as("qv"),
          normD(col("embedding")).as("qn"))
        graft.engine.VersionedTable.commitIfAbsent(
          hardNegativesForQueries(s, dir, q, k), root, batchId): Unit
      }
      .start()

  /** Matryoshka dimension-ablation eval: recall@k of the exact cosine
    * top-k computed over only the FIRST d dimensions, against the
    * full-width exact top-k (the session-cached x20 ranking) — the
    * measurement behind "can we serve truncated embeddings?" (MRL-style
    * nested representations). One corpus pass per probed width (widths
    * ≪ dims, each leg the same broadcast-query no-shuffle shape), exact
    * integer hit counts, one final double division; the d = full-width
    * leg recovers the reference ranking bit-for-bit, so its recall is
    * exactly 1.0 — a built-in self-check the spec pins.
    */
  def dimAblationRecall(s: SparkSession, dir: String,
      numQueries: Int = 20, k: Int = 10,
      widths: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    val full = cosineTopk(s, dir, numQueries, k)
      .select(col("query_id"), col("vec_id"))
    val legs = widths.map { d =>
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), slice(col("embedding"), 1, d).as("emb"))
        .select(col("vec_id"), col("emb"), normD(col("emb")).as("nrm"))
      val q = e.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("query_id"), col("emb").as("qv"),
          col("nrm").as("qn"))
      val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"), cosine(col("emb")).as("cosine"))
      val topd = TopKPerKey.twoPhase(scored, PerQuery, ByCosine, k)
        .select(col("query_id"), col("vec_id"))
      val hits = topd.join(full, Seq("query_id", "vec_id"), "left_semi")
      full.agg(count(lit(1)).cast(LongType).as("n_exact"))
        .crossJoin(hits.agg(count(lit(1)).cast(LongType).as("n_hits")))
        .select(lit(d).cast(LongType).as("d"), col("n_exact"), col("n_hits"),
          (col("n_hits").cast(DoubleType) / col("n_exact").cast(DoubleType))
            .as("recall"))
    }
    legs.reduce(_.unionByName(_)).orderBy(col("d"))
  }

  /** Leave-one-out label-centroid outlier screen — the mislabel /
    * contamination audit over the labeled embeddings: each vector's
    * cosine to its OWN label's centroid computed WITHOUT itself
    * (S − v, exact by linearity of the quantized integer sums; an
    * in-centroid self-term flatters exactly the outliers this screen
    * hunts), bottom `m` per label reported. The x108 discipline end to
    * end: quantized integer dimension sums, DECIMAL(38,0) products, one
    * final double expression — a float-fragile statistic that
    * hash-gates. Shuffle shape: one posexplode aggregate to
    * (label, dim) grain (tiny), broadcast back onto the per-vector
    * dimension rows, one aggregate back to vector grain — the corpus
    * rides exactly two map-side-combinable aggregates, no join of the
    * corpus against itself anywhere.
    */
  def centroidOutliers(s: SparkSession, dir: String, m: Int = 5): DataFrame = {
    val dims = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), posexplode(col("embedding")))
      .select(col("vec_id"), col("label"), col("pos"),
        LongVec.quantize(col("col")).as("q"))
    val sums = dims.groupBy(col("label"), col("pos"))
      .agg(sum(col("q")).cast(LongType).as("sl"))
    val geo = dims.join(broadcast(sums), Seq("label", "pos"))
      .select(col("vec_id"), col("label"), col("q"),
        (col("sl") - col("q")).as("r"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("q").cast("decimal(38,0)") * col("r").cast("decimal(38,0)")).as("dot"),
        sum(col("q").cast("decimal(38,0)") * col("q").cast("decimal(38,0)")).as("n2v"),
        sum(col("r").cast("decimal(38,0)") * col("r").cast("decimal(38,0)")).as("n2c"))
    val scored = geo.select(col("vec_id"), col("label"),
      when(col("n2v") === 0 || col("n2c") === 0, lit(null).cast(DoubleType))
        .otherwise(col("dot").cast(DoubleType)
          / (sqrt(col("n2v").cast(DoubleType)) * sqrt(col("n2c").cast(DoubleType))))
        .as("loo_cosine"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("loo_cosine").asc_nulls_first, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= m)
      .select(col("label"), col("rank"), col("vec_id"), col("loo_cosine"))
      .orderBy(col("label"), col("rank"))
  }

  /** Recall audit of the banded lane against the exact kernel: per
    * cosine vigintile (floor(cosine*20)), how many exact pairs exist
    * and how many the banded path recovered. Test-scale only — the
    * exact leg is the x24 all-pairs kernel, which is precisely what the
    * banded lane exists to avoid at 100 TB; this query is the measured
    * evidence that the banded semantics hit ~1.0 recall at the top of
    * the curve and degrade exactly as LSH theory predicts below it.
    */
  def bandedRecallAudit(s: SparkSession, dir: String): DataFrame = {
    val exact = embeddingNearDup(s, dir)
    val banded = bandedNearDup(s, dir)
      .select(col("vec_a").as("ba"), col("vec_b").as("bb"))
    exact.join(banded,
        col("vec_a") === col("ba") && col("vec_b") === col("bb"), "left")
      .groupBy(floor(col("cosine") * 20).cast(LongType).as("bucket"))
      .agg(count(lit(1)).as("n_exact"), count(col("ba")).as("n_banded"))
      .select(col("bucket"), col("n_exact"), col("n_banded"),
        (col("n_banded").cast(DoubleType) / col("n_exact").cast(DoubleType))
          .as("recall"))
      .orderBy(col("bucket"))
  }

  /** x127: per-dimension moment statistics of the embedding column — the
    * whitening/standardization pass every embedding pipeline runs before
    * quantization or PCA. Determinism trick: values snap to the 2^-20
    * fixed-point grid FIRST (multiplying a float by 2^20 is an exponent
    * shift — exact — and `floor` is exact, the x77 sign-matrix grid), so
    * every sum is an ORDER-FREE integer sum: fully map-side-combinable,
    * mergeable across partitions/days, and bit-identical on any engine —
    * no float-fold pinning, no collect_list. The closing mean/variance
    * arithmetic is a fixed tree of correctly-rounded double ops.
    * BIGINT Σq² stays exact to ~9.2e18 (= 2^53-safe doubles long before
    * that); at ≥1e9 rows switch the two sums to DECIMAL(38,0).
    */
  def embeddingDimStats(s: SparkSession, dir: String): DataFrame = {
    val g = t(s, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .select((col("pos") + lit(1)).as("dim"),
        LongVec.quantize(col("v")).as("q"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("q")).as("sq"), sum(col("q") * col("q")).as("sq2"),
        min(col("q")).as("minq"), max(col("q")).as("maxq"))
    val n = col("n").cast(DoubleType)
    val sq = col("sq").cast(DoubleType)
    g.select(col("dim"), col("n"),
        (sq / n / LongVec.Scale).as("mean"),
        (sqrt((col("sq2").cast(DoubleType) - sq * sq / n) / n) / LongVec.Scale)
          .as("std"),
        (col("minq").cast(DoubleType) / LongVec.Scale).as("min_v"),
        (col("maxq").cast(DoubleType) / LongVec.Scale).as("max_v"))
      .orderBy(col("dim"))
  }

  /** x130: exact pairwise covariance/correlation of embedding dimensions
    * — the Gram pass PCA/whitening starts from. Same 2^-20 grid snap as
    * x127, so Σq_i·q_j is an ORDER-FREE integer sum; the outer product
    * is computed MAP-SIDE per row (a flattened nested transform, then
    * posexplode feeding a partial aggregate — the wordcount shape), so
    * the shuffle carries only ≤ d²/2 keyed partials per partition, never
    * a row-amplified self-join of the corpus. The closing cov/corr
    * arithmetic is one fixed double tree; corr is formed on the grid
    * scale so no scale factor touches it. Emits the top `topPairs`
    * off-diagonal pairs by |corr| (ties by dim_i, dim_j).
    */
  def embeddingGramTopk(s: SparkSession, dir: String, topPairs: Int = 20): DataFrame = {
    val dims = t(s, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .select((col("pos") + lit(1)).as("dim"),
        LongVec.quantize(col("v")).as("q"))
    val perDim = dims.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"),
        sum(col("q") * col("q")).as("sq2"))
    val d = t(s, dir, "embeddings")
      .select(transform(col("embedding"), LongVec.quantize(_)).as("qa"))
      .select(size(col("qa")).as("w"),
        posexplode(flatten(transform(col("qa"),
          x => transform(col("qa"), y => x * y)))).as(Seq("idx", "qq")))
      // idx < w² ≤ 2^53: the double division is exact under floor
      .select(floor(col("idx") / col("w")).as("i0"),
        pmod(col("idx"), col("w")).cast(LongType).as("j0"), col("qq"))
      .filter(col("i0") < col("j0"))
      .select((col("i0") + lit(1L)).cast("int").as("dim_i"),
        (col("j0") + lit(1L)).cast("int").as("dim_j"), col("qq"))
    val pairs = d.groupBy(col("dim_i"), col("dim_j"))
      .agg(count(lit(1)).as("n"), sum(col("qq")).as("sqq"))
    def stdg(sq: Column, sq2: Column, n: Column) =
      sqrt((sq2.cast(DoubleType) - sq.cast(DoubleType) * sq.cast(DoubleType)
        / n.cast(DoubleType)) / n.cast(DoubleType))
    val ai = perDim.select(col("dim").as("dim_i"), col("sq").as("sq_i"),
      col("sq2").as("sq2_i"))
    val aj = perDim.select(col("dim").as("dim_j"), col("sq").as("sq_j"),
      col("sq2").as("sq2_j"))
    val covg = (col("sqq").cast(DoubleType) -
      col("sq_i").cast(DoubleType) * col("sq_j").cast(DoubleType)
        / col("n").cast(DoubleType)) / col("n").cast(DoubleType)
    val scored = pairs.join(broadcast(ai), Seq("dim_i")).join(broadcast(aj), Seq("dim_j"))
      .select(col("dim_i"), col("dim_j"), col("n"),
        (covg / lit(1099511627776.0)).as("cov"),
        (covg / (stdg(col("sq_i"), col("sq2_i"), col("n"))
          * stdg(col("sq_j"), col("sq2_j"), col("n")))).as("corr"))
    val w = Window.orderBy(abs(col("corr")).desc, col("dim_i"), col("dim_j"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topPairs)
      .select(col("rank"), col("dim_i"), col("dim_j"), col("n"), col("cov"), col("corr"))
      .orderBy(col("rank"))
  }

  /** x185: top principal direction by POWER ITERATION over the exact
    * integer Gram — the first concrete step of the PCA/whitening
    * pipeline x130's Gram pass exists for. The Gram (all d² cells,
    * diagonal included) is the same one map-side outer-product pass on
    * the 2^-20 grid, so every cell is an ORDER-FREE integer sum both
    * engines agree on bitwise; the d²-cell matrix (64×64 here — a
    * SKETCH, not data) collects to the driver (the q41 CMS discipline)
    * and `iters` fixed iterations run with PINNED arithmetic: each
    * w_i folds G_ij·v_j in ascending j, the norm folds w_i² in
    * ascending i, sqrt is IEEE-correctly-rounded — the DuckDB twin
    * unrolls the identical folds per iteration, so loadings and the
    * eigenvalue estimate hash-compare exactly. λ is reported on the
    * grid scale (÷2^40) per x130's cov convention.
    *
    * At 100 TB: the Gram pass is the only corpus-touching stage (one
    * shuffle of ≤d² keyed partials per partition); iteration cost is
    * d²·iters driver flops, independent of n. Integer cells hold to
    * ~2^63/q² rows (~10^15 here); past that the x108 DECIMAL(38,0)
    * spelling drops in.
    */
  def powerIteration(s: SparkSession, dir: String, iters: Int = 60): DataFrame = {
    import s.implicits._
    val (v, lambda, _) = pcCore(s, dir, iters)
    val nvec = t(s, dir, "embeddings").count()
    v.zipWithIndex
      .map { case (x, i) => (i + 1, x, lambda / 1099511627776.0, nvec) }
      .toSeq.toDF("dim", "loading", "lambda_grid", "n_vectors")
      .orderBy(col("dim"))
  }

  /** The shared grid-Gram build + pinned power loop: (unit loadings,
    * grid-scale λ, grid-scale trace). Cached per (session, dataset,
    * iters) — x185 and x186 read one computation.
    */
  private val pcCache = SessionMemo[(String, Int), (Array[Double], Double, Long)]("Similarity.pc")

  private def pcCore(s: SparkSession, dir: String,
      iters: Int): (Array[Double], Double, Long) =
    pcCache(s, (dir, iters)) {
      val cells = t(s, dir, "embeddings")
        .select(transform(col("embedding"), LongVec.quantize(_)).as("qa"))
        .select(size(col("qa")).as("w"),
          posexplode(flatten(transform(col("qa"),
            x => transform(col("qa"), y => x * y)))).as(Seq("idx", "qq")))
        .select(floor(col("idx") / col("w")).cast(LongType).as("i0"),
          pmod(col("idx"), col("w")).cast(LongType).as("j0"), col("qq"))
        .groupBy(col("i0"), col("j0")).agg(sum(col("qq")).as("g"))
        .collect().map(r => ((r.getLong(0).toInt, r.getLong(1).toInt), r.getLong(2)))
        .toMap
      val d = math.sqrt(cells.size.toDouble).round.toInt
      val gd = Array.tabulate(d, d)((i, j) => cells((i, j)).toDouble)
      val trace = (0 until d).map(i => cells((i, i))).sum
      var v = Array.tabulate(d)(i => if (i == 0) 1.0 else 0.0)
      var lambda = 0.0
      var it = 0
      while (it < iters) {
        val w = new Array[Double](d)
        var i = 0
        while (i < d) {
          var acc = 0.0
          var j = 0
          while (j < d) { acc += gd(i)(j) * v(j); j += 1 } // ascending-j fold
          w(i) = acc
          i += 1
        }
        var n2 = 0.0
        i = 0
        while (i < d) { n2 += w(i) * w(i); i += 1 } // ascending-i fold
        val nrm = math.sqrt(n2)
        i = 0
        while (i < d) { w(i) = w(i) / nrm; i += 1 }
        v = w
        lambda = nrm
        it += 1
      }
      (v, lambda, trace)
    }

  /** x186: the projection the component exists FOR — every vector's
    * coordinate along the top principal direction (the 1-D embedding a
    * curation pipeline bins or ablates on), plus λ and the variance-
    * explained ratio λ/trace(G), both exact functions of the grid Gram.
    * Per-vector work is one exploded join against the broadcast
    * 64-value loading table and a pinned ascending-dim fold — linear,
    * one shuffle. The twin re-derives the same loadings through its own
    * 60 unrolled rounds and folds the same products, so every
    * projection hash-compares bitwise.
    */
  def pcProjection(s: SparkSession, dir: String, iters: Int = 60): DataFrame = {
    import s.implicits._
    val (v, lambda, trace) = pcCore(s, dir, iters)
    val loadings = v.zipWithIndex.map { case (x, i) => (i.toLong, x) }
      .toSeq.toDF("dim", "x")
    val varExplained = lambda / trace.toDouble
    t(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "e")))
      .select(col("vec_id"), col("dim").cast(LongType).as("dim"),
        LongVec.quantize(col("e")).as("q"))
      .join(broadcast(loadings), Seq("dim"))
      .select(col("vec_id"), col("dim"),
        (col("q").cast(DoubleType) * col("x")).as("p"))
      .groupBy(col("vec_id"))
      .agg((aggregate(
        transform(array_sort(collect_list(struct(col("dim"), col("p")))),
          e => e.getField("p")),
        lit(0.0), (a, b) => a + b) / LongVec.Scale).as("proj"))
      .select(col("vec_id"), col("proj"),
        lit(lambda / 1099511627776.0).as("lambda_grid"),
        lit(varExplained).as("var_explained"))
      .orderBy(col("vec_id"))
  }

  /** The per-label drift of an arriving vector batch against the STANDING
    * reference corpus: cosine between the batch's label centroid and the
    * reference's, on the 2^-20 fixed-point grid (sums order-free integer,
    * products exact DECIMAL(38,0), one closing double tree — the x108
    * arithmetic). Factored so the batch query (x135) and the streaming
    * monitor hash-gate the SAME core, the x120 ingest-twin discipline.
    */
  def driftAgainstReference(s: SparkSession, dir: String, batch: DataFrame): DataFrame = {
    def gridSums(df: DataFrame, out: String) = df
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos"),
        LongVec.quantize(col("col")).as("q"))
      .groupBy(col("label"), col("pos")).agg(sum(col("q")).cast(LongType).as(out))
    val geo = gridSums(batch, "sb")
      .join(gridSums(t(s, dir, "embeddings"), "sr"), Seq("label", "pos"))
      .groupBy(col("label")).agg(
        sum(col("sb").cast("decimal(38,0)") * col("sr").cast("decimal(38,0)")).as("dot"),
        sum(col("sb").cast("decimal(38,0)") * col("sb").cast("decimal(38,0)")).as("nb2"),
        sum(col("sr").cast("decimal(38,0)") * col("sr").cast("decimal(38,0)")).as("nr2"))
    batch.groupBy(col("label")).agg(count(lit(1)).as("n_batch"))
      .join(geo, "label")
      .select(col("label"), col("n_batch"),
        when(col("nb2") === 0 || col("nr2") === 0, lit(null).cast(DoubleType))
          .otherwise(col("dot").cast(DoubleType)
            / (sqrt(col("nb2").cast(DoubleType)) * sqrt(col("nr2").cast(DoubleType))))
          .as("centroid_cosine"))
      .orderBy(col("label"))
  }

  /** x135: the monitoring lane's batch twin — the LAST QUARTER of the id
    * range plays one arriving ingest batch, scored against the full
    * standing reference by [[driftAgainstReference]]; the streaming
    * monitor below commits exactly this frame per micro-batch, so the
    * hash gate covers the streaming core relationally (x120's pattern).
    */
  def driftProbe(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "embeddings")
    val bounds = base.agg(min(col("vec_id")).as("min_id"), max(col("vec_id")).as("max_id"))
      .select((col("max_id") + 1L - expr("(max_id - min_id + 1) div 4"))
        .cast(LongType).as("cut"))
    val batch = base.crossJoin(broadcast(bounds)).filter(col("vec_id") >= col("cut"))
      .select(col("vec_id"), col("label"), col("embedding"))
    driftAgainstReference(s, dir, batch)
  }

  /** Streaming embedding-drift monitor — x108/x135's continuous form: each
    * micro-batch of (vec_id, label, embedding) rows scores against the
    * standing reference corpus via [[driftAgainstReference]] and commits
    * as one `VersionedTable` snapshot per batchId (`commitIfAbsent` ⇒
    * at-least-once replay is exactly-once), giving ops a reproducible
    * drift report per ingest step. The reference-side grid sums are a
    * labels×dims frame — at cluster scale a daily job materializes them
    * once and the per-batch cost is the batch's own aggregate.
    */
  def streamingEmbeddingDrift(s: SparkSession, vecs: DataFrame, dir: String,
      root: String, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        graft.engine.VersionedTable.commitIfAbsent(
          driftAgainstReference(s, dir, batch.toDF()), root, batchId): Unit
      }
      .start()

  /** x137: Johnson–Lindenstrauss distortion audit of the ±1 projection —
    * the go/no-go for serving REDUCED vectors (x113 asks it for nested
    * prefixes; this asks it for the random-projection alternative):
    * project each embedding to k ∈ widths dims through the SAME
    * md5-derived sign matrix the SRP lane uses (Achlioptas 2003:
    * ±1 entries satisfy JL), and measure, over the deterministic
    * consecutive-id pair set, the ratio (‖y_a−y_b‖²/k) / ‖x_a−x_b‖².
    * Everything before the ratio is EXACT: grid-integer coordinates,
    * BIGINT projections (≤64·2^20 ≈ 2^26 per coord, diff² ≤ 2^54 — safe),
    * integer squared distances; per width one ratio division and a
    * pinned-fold mean. Identical-on-the-grid pairs (d²=0) are excluded in
    * both engines. Shape: one projection aggregate (the srpSketch vote
    * plan, sans sign), one id+1 self-join on narrow frames — corpus-
    * linear; the audit-pair set never goes quadratic.
    */
  def jlDistortion(s: SparkSession, dir: String,
      widths: Seq[Int] = Seq(8, 16, 32)): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val dims = t(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").cast(LongType).as("d"),
        LongVec.quantize(col("col")).as("q"))
    val maxW = widths.max
    val proj = dims.join(broadcast(srpSigns(s)), "d")
      .groupBy(col("vec_id"))
      .agg(sum(col("q") * col("s0")).as("y0"),
        (1 until maxW).map(b => sum(col("q") * col(s"s$b")).as(s"y$b")): _*)
    val d2o = dims.select(col("vec_id").as("ia"), col("d"), col("q").as("qa"))
      .join(dims.select((col("vec_id") - 1L).as("ia"), col("d"), col("q").as("qb")),
        Seq("ia", "d"))
      .groupBy(col("ia"))
      .agg(sum((col("qa") - col("qb")) * (col("qa") - col("qb"))).as("d2o"))
    // r19 optimization round (guide §1.2: don't compute things twice):
    // the previous shape referenced `proj` twice (pa/pb) and `joined`
    // once per width leg, so the 32-sum projection aggregate subtree was
    // re-evaluated up to 6× and d2o 3× — ~4.7 s at sf0.1 for a
    // 2,000-row table. Pinning the (tiny, one-row-per-vector) projection
    // frame makes the self-join read materialized rows, and emitting all
    // widths from ONE scan via an inline-table unpivot replaces the
    // 3-leg union. Every ratio value is computed by the identical
    // expression, so the result is bit-identical.
    val projP = proj.pinned
    val pa = projP.select((col("vec_id").as("ia") +:
      (0 until maxW).map(b => col(s"y$b").as(s"ya$b"))): _*)
    val pb = projP.select(((col("vec_id") - 1L).as("ia") +:
      (0 until maxW).map(b => col(s"y$b").as(s"yb$b"))): _*)
    val joined = pa.join(pb, "ia").join(d2o, "ia").filter(col("d2o") > 0)
    val ratios = widths.map { k =>
      val d2p = (0 until k)
        .map(b => (col(s"ya$b") - col(s"yb$b")) * (col(s"ya$b") - col(s"yb$b")))
        .reduce(_ + _)
      struct(lit(k.toLong).as("k"),
        ((d2p.cast(DoubleType) / lit(k.toDouble)) / col("d2o").cast(DoubleType))
          .as("ratio"))
    }
    joined.select(explode(array(ratios: _*)).as("kr"))
      .select(col("kr.k").as("k"), col("kr.ratio").as("ratio"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_pairs"),
        (aggregate(array_sort(collect_list(col("ratio"))), lit(0.0), (a, b) => a + b)
          / count(lit(1)).cast(DoubleType)).as("mean_ratio"),
        min(col("ratio")).as("min_ratio"), max(col("ratio")).as("max_ratio"))
      .orderBy(col("k"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x138_semdedup_report" -> (semdedupReport _),
    "x137_jl_distortion" -> ((s: SparkSession, dir: String) => jlDistortion(s, dir)),
    "x135_drift_probe" -> (driftProbe _),
    "x130_embedding_gram" -> ((s: SparkSession, dir: String) => embeddingGramTopk(s, dir)),
    "x185_power_iteration" -> ((s: SparkSession, dir: String) => powerIteration(s, dir)),
    "x186_pc_projection" -> ((s: SparkSession, dir: String) => pcProjection(s, dir)),
    "x127_embedding_dim_stats" -> (embeddingDimStats _),
    "x112_hard_negatives" -> ((s: SparkSession, dir: String) => hardNegatives(s, dir)),
    "x113_dim_ablation" -> ((s: SparkSession, dir: String) => dimAblationRecall(s, dir)),
    "x114_centroid_outliers" -> ((s: SparkSession, dir: String) => centroidOutliers(s, dir)),
    "x99_banded_neardup" -> ((s: SparkSession, dir: String) => bandedNearDup(s, dir)),
    "x100_banded_recall" -> (bandedRecallAudit _),
    "x105_knn_label_eval" -> ((s: SparkSession, dir: String) => knnLabelEval(s, dir)),
    "x108_embedding_drift" -> (embeddingDrift _),
    "x110_knn_mrr" -> ((s: SparkSession, dir: String) => knnMrr(s, dir)),
    "x103_incr_banded_neardup" ->
      ((s: SparkSession, dir: String) => incrementalBandedNearDup(s, dir)),
    "x104_incr_banded_neardup_indexed" ->
      ((s: SparkSession, dir: String) => incrementalBandedNearDupIndexed(s, dir)),
    "x77_srp_neardup" -> ((s: SparkSession, dir: String) => srpNearDup(s, dir)),
    "x69_label_balance" -> (labelBalance _),
    "x42_label_centroids" -> (labelCentroids _),
    "x25_ivf_topk" -> ((s: SparkSession, dir: String) => ivfTopkGated(s, dir)),
    "x24_embedding_neardup" -> ((s: SparkSession, dir: String) => embeddingNearDup(s, dir)),
    "x219_neardup_block_coverage" ->
      ((s: SparkSession, dir: String) => embeddingNearDupCoverage(s, dir)),
    "x20_cosine_topk" -> ((s: SparkSession, dir: String) => cosineTopk(s, dir)),
    "x21_ann_topk" -> ((s: SparkSession, dir: String) => annTopkGated(s, dir)),
    "x48_ann_topk_indexed" -> ((s: SparkSession, dir: String) => annTopkIndexedGated(s, dir)),
    "x22_label_topk_norm" -> ((s: SparkSession, dir: String) => labelTopkNorm(s, dir)),
    "x23_quantize_int8" -> (quantizeInt8 _),
    "x122_int8_retrieval" -> ((s: SparkSession, dir: String) => int8RetrievalParity(s, dir)),
    "x146_binary_retrieval" -> ((s: SparkSession, dir: String) => binaryRetrieval(s, dir)),
    "x160_hubness" -> ((s: SparkSession, dir: String) => hubnessAudit(s, dir)),
    "x57_embedding_dup_clusters" -> (embeddingDupClusters _),
    "x60_truncated_rerank" -> ((s: SparkSession, dir: String) => truncatedRerank(s, dir)))

  /** DuckDB twin of the exact path. `list_reduce` folds left from the
    * first element and Spark's `aggregate` folds left from 0.0 — the sum
    * sequences are identical (0.0 + p1 == p1 exactly), so the doubles
    * compare equal bitwise. x21 is approximate: rows-only check.
    */
  /** x77's DuckDB twin: the identical md5-derived sign matrix and
    * quantized votes, but pairs via brute force — the banded Spark plan
    * must emit exactly this set (pigeonhole coverage + exact filter).
    */
  private def srpOracle: String = {
    val signCols = (0 until SrpBits).map(b =>
      s"((('0x' || substr(md5(CAST(d AS VARCHAR) || ':$b'), 1, 15))::BIGINT % 2) * 2 - 1) AS s$b")
      .mkString(",\n        |    ")
    val voteCols = (0 until SrpBits).map(b => s"sum(q * s$b) AS v$b")
      .mkString(",\n        |    ")
    val orBits = (0 until SrpBits)
      .map(b => s"CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" | ")
    s"""WITH dims AS (
       |  SELECT vec_id, i - 1 AS d,
       |    CAST(floor(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT) AS q
       |  FROM embeddings,
       |       LATERAL (SELECT unnest(embedding) AS v,
       |                       unnest(generate_series(1, len(embedding))) AS i)),
       |signs AS (
       |  SELECT d,
       |    $signCols
       |  FROM (SELECT unnest(generate_series(0, 63)) AS d)),
       |votes AS (
       |  SELECT vec_id,
       |    $voteCols
       |  FROM dims JOIN signs USING (d) GROUP BY vec_id),
       |sk AS (SELECT vec_id, CAST($orBits AS BIGINT) AS srp FROM votes)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  CAST(bit_count(xor(a.srp, b.srp)) AS BIGINT) AS hamming
       |FROM sk a JOIN sk b ON a.vec_id < b.vec_id
       |WHERE bit_count(xor(a.srp, b.srp)) <= 3
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  /** Shared DuckDB twin for the three gated ANN queries (x21/x25/x48):
    * the exact per-query top-k (x20's identical CTE chain) reduced to
    * its per-query count, with the deterministic recall contract pinned
    * TRUE — if Spark's approximate path ever dips below the recall
    * floor, its boolean flips and the driver's hash gate goes red.
    */
  private def annGatedOracle: String =
    """WITH e AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_reduce(list_transform(generate_series(1, len(embedding)),
      |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
      |      (x, y) -> x + y)) AS nrm
      |  FROM embeddings),
      |q AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn FROM e WHERE vec_id < 5),
      |scored AS (
      |  SELECT q.query_id, e.vec_id,
      |    list_reduce(list_transform(generate_series(1, len(q.qv)),
      |      i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
      |      (x, y) -> x + y) / (q.qn * e.nrm) AS cosine
      |  FROM q JOIN e ON e.vec_id <> q.query_id),
      |ranked AS (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
      |  FROM scored)
      |SELECT query_id, count(*) AS n_exact,
      |  TRUE AS recall_ok, TRUE AS pooled_ok
      |FROM ranked WHERE rank <= 10
      |GROUP BY query_id ORDER BY query_id""".stripMargin

  /** Shared CTE chain for the banded-lane twins (x99/x100/x57): the
    * identical md5-derived wide sign matrix in LONG FORM (a cross-join,
    * not 256 generated columns), quantized votes, per-band keys, the
    * bucket-join candidate set, and the exact-cosine verification —
    * DuckDB recomputes the same deterministic candidates, so the hash
    * gate holds by construction with no probabilistic-recall rider.
    */
  /** Sketch + norms CTEs shared by every banded twin (x99/x100/x57 and
    * the incremental x103/x104): quantized votes, per-band keys, corpus
    * norms.
    */
  /** The adaptive-geometry CTE every banded twin starts with: corpus
    * count -> integer-exact ceil-log2 band width (clamped at the
    * historical 8) -> the literal band-count lookup — the SAME
    * `BandCountForBits` map rendered as a CASE, so the two engines
    * cannot disagree. `length(printf('%b', m-1))` is DuckDB's
    * integer-exact ceil(log2(m)) (the Scala side uses
    * numberOfLeadingZeros) — no float log/pow whose last ulp could flip
    * a ceil between engines.
    */
  private def geometryCte: String = {
    val cases = BandCountForBits.toSeq.sorted
      .map { case (b, l) => s"WHEN $b THEN $l" }.mkString(" ")
    s"""ggeo AS (
       |  SELECT bb, CASE bb $cases END AS nb FROM (
       |    SELECT CASE WHEN (n + 3) // 4 <= 256 THEN 8
       |           ELSE length(printf('%b', (n + 3) // 4 - 1)) END AS bb
       |    FROM (SELECT count(*) AS n FROM embeddings)))""".stripMargin
  }

  private def bandedSketchCtes: String =
    s"""$geometryCte,
       |wdims AS (
       |  SELECT vec_id, i - 1 AS d,
       |    CAST(floor(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT) AS q
       |  FROM embeddings,
       |       LATERAL (SELECT unnest(embedding) AS v,
       |                       unnest(generate_series(1, len(embedding))) AS i)),
       |wsigns AS (
       |  SELECT d, b,
       |    ((('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 15))::BIGINT % 2) * 2 - 1) AS sgn
       |  FROM (SELECT unnest(generate_series(0, 63)) AS d),
       |       (SELECT unnest(generate_series(0, (SELECT bb * nb - 1 FROM ggeo))) AS b)),
       |wvotes AS (
       |  SELECT vec_id, b, sum(q * sgn) AS v
       |  FROM wdims JOIN wsigns USING (d) GROUP BY vec_id, b),
       |wkeys AS (
       |  SELECT vec_id, b // bb AS band,
       |    CAST(sum(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << CAST(b % bb AS INT) ELSE 0 END) AS BIGINT) AS key
       |  FROM wvotes, ggeo GROUP BY vec_id, b // bb),
       |we AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_reduce(list_transform(generate_series(1, len(embedding)),
       |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
       |      (x, y) -> x + y)) AS nrm
       |  FROM embeddings)""".stripMargin

  private def bandedCtes: String =
    s"""$bandedSketchCtes,
       |wcand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b
       |  FROM wkeys a JOIN wkeys b2
       |    ON a.band = b2.band AND a.key = b2.key AND a.vec_id < b2.vec_id),
       |wpairs AS (
       |  SELECT c.vec_a, c.vec_b,
       |    list_reduce(list_transform(generate_series(1, len(a.embedding)),
       |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
       |      (x, y) -> x + y) / (a.nrm * b.nrm) AS cosine
       |  FROM wcand c JOIN we a ON a.vec_id = c.vec_a JOIN we b ON b.vec_id = c.vec_b
       |  WHERE list_reduce(list_transform(generate_series(1, len(a.embedding)),
       |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
       |      (x, y) -> x + y) / (a.nrm * b.nrm) >= 0.4)""".stripMargin

  /** x103/x104 shared twin (identical outputs — the indexed path only
    * changes WHERE the history keys are read from): packed band keys,
    * history-probe + increment-internal candidates, exact verification,
    * the incr_internal flag.
    */
  private def incrementalBandedOracle(histMax: Int): String =
    s"""WITH $bandedSketchCtes,
       |wbk AS (SELECT vec_id,
       |  band * (CAST(1 AS BIGINT) << CAST(bb AS INT)) + key AS bk
       |  FROM wkeys, ggeo),
       |whist AS (SELECT bk, vec_id AS vec_a FROM wbk WHERE vec_id < $histMax),
       |wincr AS (SELECT bk, vec_id FROM wbk WHERE vec_id >= $histMax),
       |wcand2 AS (
       |  SELECT DISTINCT vec_a, vec_b FROM (
       |    SELECT h.vec_a, i.vec_id AS vec_b FROM wincr i JOIN whist h USING (bk)
       |    UNION ALL
       |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       |    FROM wincr a JOIN wincr b ON a.bk = b.bk AND a.vec_id < b.vec_id))
       |SELECT c.vec_a, c.vec_b,
       |  list_reduce(list_transform(generate_series(1, len(a.embedding)),
       |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
       |    (x, y) -> x + y) / (a.nrm * b.nrm) AS cosine,
       |  c.vec_a >= $histMax AS incr_internal
       |FROM wcand2 c JOIN we a ON a.vec_id = c.vec_a JOIN we b ON b.vec_id = c.vec_b
       |WHERE list_reduce(list_transform(generate_series(1, len(a.embedding)),
       |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
       |    (x, y) -> x + y) / (a.nrm * b.nrm) >= 0.4
       |ORDER BY cosine DESC, vec_a, vec_b""".stripMargin

  /** One x113 truncated-top-k leg at width `d` — generated per probed
    * width so the twin mirrors the Spark legs exactly (same slicing,
    * same fold order, same tie-breaks).
    */
  private def dimAblationLeg(d: Int): String =
    s"""e$d AS (
       |  SELECT vec_id,
       |    list_transform(generate_series(1, $d), i -> embedding[i]) AS emb,
       |    sqrt(list_reduce(list_transform(generate_series(1, $d),
       |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
       |      (x, y) -> x + y)) AS nrm
       |  FROM embeddings),
       |q$d AS (SELECT vec_id AS query_id, emb AS qv, nrm AS qn
       |        FROM e$d WHERE vec_id < 20),
       |s$d AS (
       |  SELECT q.query_id, e.vec_id,
       |    list_reduce(list_transform(generate_series(1, $d),
       |      i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.emb[i] AS DOUBLE)),
       |      (x, y) -> x + y) / (q.qn * e.nrm) AS cosine
       |  FROM q$d q JOIN e$d e ON e.vec_id <> q.query_id),
       |t$d AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, vec_id) AS rank
       |    FROM s$d) WHERE rank <= 10),
       |g$d AS (
       |  SELECT CAST($d AS BIGINT) AS d,
       |    (SELECT CAST(count(*) AS BIGINT) FROM fr) AS n_exact,
       |    CAST(count(*) AS BIGINT) AS n_hits
       |  FROM t$d JOIN fr USING (query_id, vec_id))""".stripMargin

  private val dimAblationOracle: String = {
    val widths = Seq(8, 16, 32, 64)
    s"""WITH fe AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_reduce(list_transform(generate_series(1, len(embedding)),
       |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
       |      (x, y) -> x + y)) AS nrm
       |  FROM embeddings),
       |fq AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn
       |       FROM fe WHERE vec_id < 20),
       |fs AS (
       |  SELECT q.query_id, e.vec_id,
       |    list_reduce(list_transform(generate_series(1, len(q.qv)),
       |      i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
       |      (x, y) -> x + y) / (q.qn * e.nrm) AS cosine
       |  FROM fq q JOIN fe e ON e.vec_id <> q.query_id),
       |fr AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, vec_id) AS rank
       |    FROM fs) WHERE rank <= 10),
       |${widths.map(dimAblationLeg).mkString(",\n")}
       |SELECT d, n_exact, n_hits,
       |  CAST(n_hits AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall
       |FROM (${widths.map(d => s"SELECT * FROM g$d").mkString(" UNION ALL ")})
       |ORDER BY d""".stripMargin
  }

  /** x137's DuckDB twin: the identical md5 sign matrix (the srpOracle
    * columns), exact integer projections and squared distances, the same
    * per-width ratio tree and pinned-fold means.
    */
  private def jlOracle(widths: Seq[Int]): String = {
    val maxW = widths.max
    val signCols = (0 until maxW).map(b =>
      s"((('0x' || substr(md5(CAST(d AS VARCHAR) || ':$b'), 1, 15))::BIGINT % 2) * 2 - 1) AS s$b")
      .mkString(",\n       |    ")
    val yCols = (0 until maxW).map(b => s"CAST(sum(q * s$b) AS BIGINT) AS y$b")
      .mkString(",\n       |    ")
    val legs = widths.map { k =>
      val d2p = (0 until k).map(b => s"(a.y$b - b.y$b) * (a.y$b - b.y$b)").mkString(" + ")
      s"""SELECT CAST($k AS BIGINT) AS k,
         |    (CAST($d2p AS DOUBLE) / CAST($k AS DOUBLE)) / CAST(o.d2o AS DOUBLE) AS ratio
         |  FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1
         |  JOIN d2o o ON o.ia = a.vec_id WHERE o.d2o > 0""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH dims AS (
       |  SELECT vec_id, i - 1 AS d,
       |    CAST(floor(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT) AS q
       |  FROM embeddings,
       |       LATERAL (SELECT unnest(embedding) AS v,
       |                       unnest(generate_series(1, len(embedding))) AS i)),
       |signs AS (
       |  SELECT d,
       |    $signCols
       |  FROM (SELECT unnest(generate_series(0, 63)) AS d)),
       |proj AS (
       |  SELECT vec_id,
       |    $yCols
       |  FROM dims JOIN signs USING (d) GROUP BY vec_id),
       |d2o AS (
       |  SELECT a.vec_id AS ia, CAST(sum((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS d2o
       |  FROM dims a JOIN dims b ON b.vec_id = a.vec_id + 1 AND b.d = a.d
       |  GROUP BY a.vec_id),
       |r AS (
       |  $legs)
       |SELECT k, count(*) AS n_pairs,
       |  list_reduce(list_prepend(0.0, list(ratio ORDER BY ratio)), (x, y) -> x + y)
       |    / CAST(count(*) AS DOUBLE) AS mean_ratio,
       |  min(ratio) AS min_ratio, max(ratio) AS max_ratio
       |FROM r GROUP BY k ORDER BY k""".stripMargin
  }

  /** x185's twin: the full integer Gram by vec_id self-join, then the
    * iterations UNROLLED — per round one pinned ascending-j matrix-
    * vector fold, one pinned ascending-i norm fold, one normalize.
    */
  private def powerCtes(iters: Int): String = {
    val steps = (1 to iters).map { r =>
      val prev = if (r == 1) "v0" else s"v${r - 1}"
      s"""w$r AS MATERIALIZED (
         |  SELECT g.i AS dim,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list(CAST(g.gij AS DOUBLE) * v.x ORDER BY g.j)), (a, b) -> a + b) AS wx
         |  FROM g JOIN $prev v ON v.dim = g.j GROUP BY g.i),
         |n$r AS MATERIALIZED (
         |  SELECT sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list(wx * wx ORDER BY dim)), (a, b) -> a + b)) AS nrm FROM w$r),
         |v$r AS MATERIALIZED (SELECT w$r.dim, w$r.wx / n$r.nrm AS x FROM w$r, n$r)""".stripMargin
    }.mkString(",\n")
    s"""qd AS MATERIALIZED (
       |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
       |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT) AS q
       |  FROM embeddings,
       |       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)),
       |g AS MATERIALIZED (
       |  SELECT a.dim AS i, b.dim AS j, CAST(sum(a.q * b.q) AS BIGINT) AS gij
       |  FROM qd a JOIN qd b ON a.vec_id = b.vec_id GROUP BY a.dim, b.dim),
       |v0 AS (
       |  SELECT i AS dim,
       |    CASE WHEN i = 0 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS x
       |  FROM (SELECT DISTINCT i FROM g)),
       |$steps""".stripMargin
  }

  private def powerOracle(iters: Int): String =
    s"""WITH ${powerCtes(iters)}
       |SELECT CAST(v$iters.dim + 1 AS INT) AS dim, v$iters.x AS loading,
       |  n$iters.nrm / 1099511627776.0 AS lambda_grid,
       |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_vectors
       |FROM v$iters, n$iters ORDER BY dim""".stripMargin

  /** x186's twin: the same 60 rounds, then each vector's pinned
    * ascending-dim product fold against the final loadings, λ and the
    * λ/trace ratio from the same frames.
    */
  private def pcProjOracle(iters: Int): String =
    s"""WITH ${powerCtes(iters)},
       |tr AS (SELECT CAST(sum(gij) AS BIGINT) AS trace FROM g WHERE i = j),
       |proj AS (
       |  SELECT q.vec_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(CAST(q.q AS DOUBLE) * p.x ORDER BY q.dim)), (a, b) -> a + b)
       |      / 1048576.0 AS proj
       |  FROM qd q JOIN v$iters p ON p.dim = q.dim GROUP BY q.vec_id)
       |SELECT proj.vec_id, proj.proj,
       |  n$iters.nrm / 1099511627776.0 AS lambda_grid,
       |  n$iters.nrm / CAST(tr.trace AS DOUBLE) AS var_explained
       |FROM proj, n$iters, tr ORDER BY proj.vec_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "x185_power_iteration" -> powerOracle(60),
    "x186_pc_projection" -> pcProjOracle(60),
    "x137_jl_distortion" -> jlOracle(Seq(8, 16, 32)),
    // x130: same grid snap; the twin forms Σq_i·q_j by self-joining the
    // exploded grid on vec_id (the brute-force spelling of the map-side
    // outer product), then the identical cov/corr double tree.
    "x130_embedding_gram" ->
      """WITH grid AS (
        |  SELECT vec_id, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * CAST(1048576 AS DOUBLE)) AS BIGINT) AS q
        |  FROM embeddings,
        |       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)),
        |perdim AS (
        |  SELECT i AS dim, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(q) AS BIGINT) AS sq, CAST(sum(q * q) AS BIGINT) AS sq2
        |  FROM grid GROUP BY i),
        |pairs AS (
        |  SELECT a.i AS dim_i, b.i AS dim_j, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(a.q * b.q) AS BIGINT) AS sqq
        |  FROM grid a JOIN grid b ON a.vec_id = b.vec_id AND a.i < b.i
        |  GROUP BY a.i, b.i),
        |scored AS (
        |  SELECT CAST(p.dim_i AS INT) AS dim_i, CAST(p.dim_j AS INT) AS dim_j, p.n,
        |    ((CAST(sqq AS DOUBLE) - CAST(ai.sq AS DOUBLE) * CAST(aj.sq AS DOUBLE)
        |       / CAST(p.n AS DOUBLE)) / CAST(p.n AS DOUBLE))
        |      / CAST(1099511627776 AS DOUBLE) AS cov,
        |    ((CAST(sqq AS DOUBLE) - CAST(ai.sq AS DOUBLE) * CAST(aj.sq AS DOUBLE)
        |       / CAST(p.n AS DOUBLE)) / CAST(p.n AS DOUBLE))
        |      / (sqrt((CAST(ai.sq2 AS DOUBLE) - CAST(ai.sq AS DOUBLE) * CAST(ai.sq AS DOUBLE)
        |           / CAST(p.n AS DOUBLE)) / CAST(p.n AS DOUBLE))
        |         * sqrt((CAST(aj.sq2 AS DOUBLE) - CAST(aj.sq AS DOUBLE) * CAST(aj.sq AS DOUBLE)
        |           / CAST(p.n AS DOUBLE)) / CAST(p.n AS DOUBLE))) AS corr
        |  FROM pairs p JOIN perdim ai ON ai.dim = p.dim_i
        |  JOIN perdim aj ON aj.dim = p.dim_j)
        |SELECT CAST(rank AS INT) AS rank, dim_i, dim_j, n, cov, corr FROM (
        |  SELECT *, row_number() OVER (ORDER BY abs(corr) DESC, dim_i, dim_j) AS rank
        |  FROM scored)
        |WHERE rank <= 20 ORDER BY rank""".stripMargin,
    // x127: the identical 2^-20 grid snap (exact ops), integer sums,
    // and the same fixed double tree for mean/std.
    "x127_embedding_dim_stats" ->
      """WITH d AS (
        |  SELECT CAST(i AS INT) AS dim,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * CAST(1048576 AS DOUBLE)) AS BIGINT) AS q
        |  FROM embeddings,
        |       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)),
        |g AS (
        |  SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(q) AS BIGINT) AS sq, CAST(sum(q * q) AS BIGINT) AS sq2,
        |    min(q) AS minq, max(q) AS maxq
        |  FROM d GROUP BY dim)
        |SELECT dim, n,
        |  CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) / CAST(1048576 AS DOUBLE) AS mean,
        |  sqrt((CAST(sq2 AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)
        |        / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) / CAST(1048576 AS DOUBLE) AS std,
        |  CAST(minq AS DOUBLE) / CAST(1048576 AS DOUBLE) AS min_v,
        |  CAST(maxq AS DOUBLE) / CAST(1048576 AS DOUBLE) AS max_v
        |FROM g ORDER BY dim""".stripMargin,
    "x112_hard_negatives" ->
      """WITH e AS (
        |  SELECT vec_id, label, embedding,
        |    sqrt(list_reduce(list_transform(generate_series(1, len(embedding)),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
        |      (x, y) -> x + y)) AS nrm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, label AS query_label,
        |             embedding AS qv, nrm AS qn
        |      FROM e WHERE vec_id < 20),
        |scored AS (
        |  SELECT q.query_id, q.query_label, e.vec_id, e.label AS neg_label,
        |    list_reduce(list_transform(generate_series(1, len(q.qv)),
        |      i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
        |      (x, y) -> x + y) / (q.qn * e.nrm) AS cosine
        |  FROM q JOIN e ON e.label <> q.query_label),
        |ranked AS (
        |  SELECT query_id, query_label, vec_id, neg_label, cosine,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, query_label, vec_id, neg_label, cosine,
        |  CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "x113_dim_ablation" -> dimAblationOracle,
    "x114_centroid_outliers" ->
      """WITH dims AS (
        |  SELECT vec_id, label, i - 1 AS pos,
        |    CAST(floor(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT) AS q
        |  FROM embeddings,
        |       LATERAL (SELECT unnest(embedding) AS v,
        |                       unnest(generate_series(1, len(embedding))) AS i)),
        |sums AS (
        |  SELECT label, pos, CAST(sum(q) AS BIGINT) AS sl
        |  FROM dims GROUP BY label, pos),
        |geo AS (
        |  SELECT d.vec_id, d.label,
        |    sum(CAST(d.q AS HUGEINT) * CAST(s.sl - d.q AS HUGEINT)) AS dot,
        |    sum(CAST(d.q AS HUGEINT) * CAST(d.q AS HUGEINT)) AS n2v,
        |    sum(CAST(s.sl - d.q AS HUGEINT) * CAST(s.sl - d.q AS HUGEINT)) AS n2c
        |  FROM dims d JOIN sums s ON d.label = s.label AND d.pos = s.pos
        |  GROUP BY d.vec_id, d.label),
        |scored AS (
        |  SELECT vec_id, label,
        |    CASE WHEN n2v = 0 OR n2c = 0 THEN NULL
        |         ELSE CAST(dot AS DOUBLE)
        |           / (sqrt(CAST(n2v AS DOUBLE)) * sqrt(CAST(n2c AS DOUBLE))) END
        |      AS loo_cosine
        |  FROM geo),
        |ranked AS (
        |  SELECT label, vec_id, loo_cosine,
        |    row_number() OVER (PARTITION BY label
        |      ORDER BY loo_cosine ASC NULLS FIRST, vec_id) AS rank
        |  FROM scored)
        |SELECT label, CAST(rank AS INT) AS rank, vec_id, loo_cosine
        |FROM ranked WHERE rank <= 5 ORDER BY label, rank""".stripMargin,
    "x135_drift_probe" ->
      """WITH b AS (
        |  SELECT CAST(max(vec_id) + 1 - (max(vec_id) - min(vec_id) + 1) // 4 AS BIGINT) AS cut
        |  FROM embeddings),
        |dims AS (
        |  SELECT label, vec_id >= b.cut AS in_batch, i - 1 AS pos,
        |    CAST(floor(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT) AS q
        |  FROM embeddings, b,
        |       LATERAL (SELECT unnest(embedding) AS v,
        |                       unnest(generate_series(1, len(embedding))) AS i)),
        |sums AS (
        |  SELECT label, pos,
        |    CAST(sum(CASE WHEN in_batch THEN q ELSE 0 END) AS BIGINT) AS sb,
        |    CAST(sum(q) AS BIGINT) AS sr
        |  FROM dims GROUP BY label, pos),
        |geo AS (
        |  SELECT label,
        |    sum(CAST(sb AS HUGEINT) * CAST(sr AS HUGEINT)) AS dot,
        |    sum(CAST(sb AS HUGEINT) * CAST(sb AS HUGEINT)) AS nb2,
        |    sum(CAST(sr AS HUGEINT) * CAST(sr AS HUGEINT)) AS nr2
        |  FROM sums GROUP BY label),
        |c AS (
        |  SELECT label, count(*) AS n_batch
        |  FROM embeddings, b WHERE vec_id >= b.cut GROUP BY label)
        |SELECT c.label, c.n_batch,
        |  CASE WHEN geo.nb2 = 0 OR geo.nr2 = 0 THEN NULL
        |       ELSE CAST(geo.dot AS DOUBLE)
        |         / (sqrt(CAST(geo.nb2 AS DOUBLE)) * sqrt(CAST(geo.nr2 AS DOUBLE))) END
        |    AS centroid_cosine
        |FROM c JOIN geo ON geo.label = c.label ORDER BY c.label""".stripMargin,
    "x108_embedding_drift" ->
      """WITH b AS (
        |  SELECT CAST((min(vec_id) + max(vec_id) + 1) // 2 AS BIGINT) AS mid
        |  FROM embeddings),
        |dims AS (
        |  SELECT label, vec_id < b.mid AS first_half, i - 1 AS pos,
        |    CAST(floor(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT) AS q
        |  FROM embeddings, b,
        |       LATERAL (SELECT unnest(embedding) AS v,
        |                       unnest(generate_series(1, len(embedding))) AS i)),
        |sums AS (
        |  SELECT label, pos,
        |    CAST(sum(CASE WHEN first_half THEN q ELSE 0 END) AS BIGINT) AS sa,
        |    CAST(sum(CASE WHEN first_half THEN 0 ELSE q END) AS BIGINT) AS sb
        |  FROM dims GROUP BY label, pos),
        |geo AS (
        |  SELECT label,
        |    sum(CAST(sa AS HUGEINT) * CAST(sb AS HUGEINT)) AS dot,
        |    sum(CAST(sa AS HUGEINT) * CAST(sa AS HUGEINT)) AS na2,
        |    sum(CAST(sb AS HUGEINT) * CAST(sb AS HUGEINT)) AS nb2
        |  FROM sums GROUP BY label),
        |c AS (
        |  SELECT label,
        |    CAST(sum(CASE WHEN vec_id < b.mid THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
        |    CAST(sum(CASE WHEN vec_id >= b.mid THEN 1 ELSE 0 END) AS BIGINT) AS n_second
        |  FROM embeddings, b GROUP BY label)
        |SELECT c.label, c.n_first, c.n_second,
        |  CASE WHEN geo.na2 = 0 OR geo.nb2 = 0 THEN NULL
        |       ELSE CAST(geo.dot AS DOUBLE)
        |         / (sqrt(CAST(geo.na2 AS DOUBLE)) * sqrt(CAST(geo.nb2 AS DOUBLE))) END
        |    AS centroid_cosine
        |FROM c JOIN geo ON geo.label = c.label ORDER BY c.label""".stripMargin,
    "x110_knn_mrr" ->
      """WITH e AS (
        |  SELECT vec_id, label, embedding,
        |    sqrt(list_reduce(list_transform(generate_series(1, len(embedding)),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
        |      (x, y) -> x + y)) AS nrm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, label AS query_label, embedding AS qv, nrm AS qn
        |      FROM e WHERE vec_id < 50),
        |scored AS (
        |  SELECT q.query_id, q.query_label, e.vec_id, e.label,
        |    list_reduce(list_transform(generate_series(1, len(q.qv)),
        |      i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
        |      (x, y) -> x + y) / (q.qn * e.nrm) AS cosine
        |  FROM q JOIN e ON e.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, query_label, label,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        |  FROM scored),
        |fh AS (
        |  SELECT query_id, query_label,
        |    min(CASE WHEN label = query_label THEN rank END) AS first_rank
        |  FROM ranked WHERE rank <= 10 GROUP BY 1, 2)
        |SELECT query_label, CAST(count(*) AS BIGINT) AS n_queries,
        |  CAST(count(first_rank) AS BIGINT) AS n_hit,
        |  CAST(coalesce(sum(2520 // first_rank), 0) AS DOUBLE)
        |    / (2520.0 * CAST(count(*) AS DOUBLE)) AS mrr
        |FROM fh GROUP BY query_label ORDER BY query_label""".stripMargin,
    "x105_knn_label_eval" ->
      """WITH e AS (
        |  SELECT vec_id, label, embedding,
        |    sqrt(list_reduce(list_transform(generate_series(1, len(embedding)),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
        |      (x, y) -> x + y)) AS nrm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, label AS query_label, embedding AS qv, nrm AS qn
        |      FROM e WHERE vec_id < 50),
        |scored AS (
        |  SELECT q.query_id, q.query_label, e.vec_id, e.label,
        |    list_reduce(list_transform(generate_series(1, len(q.qv)),
        |      i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
        |      (x, y) -> x + y) / (q.qn * e.nrm) AS cosine
        |  FROM q JOIN e ON e.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, query_label, label,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        |  FROM scored),
        |votes AS (
        |  SELECT query_id, query_label, label, count(*) AS n_votes
        |  FROM ranked WHERE rank <= 10 GROUP BY 1, 2, 3),
        |maj AS (
        |  SELECT query_id, query_label, label,
        |    row_number() OVER (PARTITION BY query_id ORDER BY n_votes DESC, label) AS mr
        |  FROM votes)
        |SELECT query_label, CAST(count(*) AS BIGINT) AS n_queries,
        |  CAST(sum(CASE WHEN label = query_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        |  CAST(sum(CASE WHEN label = query_label THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS accuracy
        |FROM maj WHERE mr = 1
        |GROUP BY query_label ORDER BY query_label""".stripMargin,
    "x103_incr_banded_neardup" -> incrementalBandedOracle(400),
    "x104_incr_banded_neardup_indexed" -> incrementalBandedOracle(400),
    "x99_banded_neardup" ->
      s"""WITH $bandedCtes
         |SELECT vec_a, vec_b, cosine FROM wpairs
         |ORDER BY cosine DESC, vec_a, vec_b""".stripMargin,
    "x100_banded_recall" ->
      s"""WITH $bandedCtes,
         |exact AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    list_reduce(list_transform(generate_series(1, len(a.embedding)),
         |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
         |      (x, y) -> x + y) / (a.nrm * b.nrm) AS cosine
         |  FROM we a JOIN we b ON a.vec_id < b.vec_id
         |  WHERE list_reduce(list_transform(generate_series(1, len(a.embedding)),
         |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
         |      (x, y) -> x + y) / (a.nrm * b.nrm) >= 0.4)
         |SELECT CAST(floor(e.cosine * 20) AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(count(w.vec_a) AS BIGINT) AS n_banded,
         |  CAST(count(w.vec_a) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
         |FROM exact e LEFT JOIN wpairs w ON e.vec_a = w.vec_a AND e.vec_b = w.vec_b
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "x21_ann_topk" -> annGatedOracle,
    "x25_ivf_topk" -> annGatedOracle,
    "x48_ann_topk_indexed" -> annGatedOracle,
    "x77_srp_neardup" -> srpOracle,
    "x69_label_balance" ->
      """WITH c AS (SELECT label, count(*) AS n_vectors FROM embeddings GROUP BY label),
        |t AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS n_total,
        |             CAST(sum(n_vectors * n_vectors) AS BIGINT) AS sum_sq FROM c)
        |SELECT label, n_vectors,
        |  CAST(n_vectors AS DOUBLE) / CAST(n_total AS DOUBLE) AS share,
        |  1.0 - CAST(sum_sq AS DOUBLE) / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)) AS gini_impurity
        |FROM c, t ORDER BY label""".stripMargin,
    "x42_label_centroids" ->
      """WITH e AS (
        |  SELECT label, vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
        |  FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i))
        |SELECT label, CAST(pos AS BIGINT) AS pos,
        |  list_reduce(list_prepend(0.0, list(x ORDER BY vec_id)), (a, b) -> a + b)
        |    / CAST(count(*) AS DOUBLE) AS centroid
        |FROM e GROUP BY label, pos ORDER BY label, pos""".stripMargin,
    "x20_cosine_topk" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(generate_series(1, len(embedding)),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
        |      (x, y) -> x + y)) AS nrm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn FROM e WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_reduce(list_transform(generate_series(1, len(q.qv)),
        |      i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
        |      (x, y) -> x + y) / (q.qn * e.nrm) AS cosine
        |  FROM q JOIN e ON e.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, vec_id, cosine,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "x24_embedding_neardup" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(generate_series(1, len(embedding)),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
        |      (x, y) -> x + y)) AS nrm
        |  FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  list_reduce(list_transform(generate_series(1, len(a.embedding)),
        |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
        |    (x, y) -> x + y) / (a.nrm * b.nrm) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_reduce(list_transform(generate_series(1, len(a.embedding)),
        |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
        |    (x, y) -> x + y) / (a.nrm * b.nrm) >= 0.4
        |ORDER BY cosine DESC, vec_a, vec_b""".stripMargin,
    // x219: the x24 block-pair coverage datasheet — same block grid,
    // same md5 keep-draw ('x24bp:<a>:<b>' prefix hash ‰ scaled by the
    // grid size against the 4096-pair budget), keep-all under budget.
    "x219_neardup_block_coverage" ->
      """WITH s AS (
        |  SELECT count(*) AS n_vecs FROM embeddings),
        |b AS (
        |  SELECT DISTINCT vec_id // 1024 AS blk FROM embeddings),
        |c AS (
        |  SELECT count(*) AS n_blocks,
        |    count(*) * (count(*) + 1) // 2 AS total_block_pairs
        |  FROM b),
        |g AS (
        |  SELECT s.n_vecs, c.n_blocks, c.total_block_pairs,
        |    a.blk AS ba, bb.blk AS bb
        |  FROM b a JOIN b bb ON bb.blk >= a.blk, s, c)
        |SELECT first(n_vecs) AS n_vecs,
        |  first(n_blocks) AS n_blocks,
        |  first(total_block_pairs) AS total_block_pairs,
        |  CAST(sum(CASE WHEN total_block_pairs <= 4096
        |        OR (('0x' || substr(md5('x24bp:' || CAST(ba AS VARCHAR)
        |             || ':' || CAST(bb AS VARCHAR)), 1, 15))::BIGINT % 1000000)
        |           * total_block_pairs < 4096 * 1000000
        |      THEN 1 ELSE 0 END) AS BIGINT) AS kept_block_pairs,
        |  CAST(sum(CASE WHEN total_block_pairs <= 4096
        |        OR (('0x' || substr(md5('x24bp:' || CAST(ba AS VARCHAR)
        |             || ':' || CAST(bb AS VARCHAR)), 1, 15))::BIGINT % 1000000)
        |           * total_block_pairs < 4096 * 1000000
        |      THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(first(total_block_pairs) AS DOUBLE) AS coverage
        |FROM g""".stripMargin,
    // x122: the x23 quantization inlined per row, integer dot products
    // (exact under BIGINT), vec_id tie-break, overlap vs the x20-shape
    // float exact top-k.
    "x122_int8_retrieval" ->
      """WITH s8 AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x ->
        |      CASE WHEN list_reduce(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))),
        |             (a, b) -> greatest(a, b)) = 0 THEN CAST(0 AS BIGINT)
        |           ELSE CAST(CAST(round(CAST(x AS DOUBLE)
        |             / list_reduce(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))),
        |                 (a, b) -> greatest(a, b)) * 127.0) AS TINYINT) AS BIGINT) END) AS q8
        |  FROM embeddings),
        |qq AS (SELECT vec_id AS query_id, q8 AS qv FROM s8 WHERE vec_id < 20),
        |iscored AS (
        |  SELECT qq.query_id, s8.vec_id,
        |    CAST(list_reduce(list_transform(generate_series(1, len(qq.qv)),
        |      i -> qq.qv[i] * s8.q8[i]), (x, y) -> x + y) AS BIGINT) AS idot
        |  FROM qq JOIN s8 ON s8.vec_id <> qq.query_id),
        |itop AS (
        |  SELECT query_id, vec_id, idot,
        |    row_number() OVER (PARTITION BY query_id ORDER BY idot DESC, vec_id) AS rank
        |  FROM iscored QUALIFY rank <= 10),
        |e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(generate_series(1, len(embedding)),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
        |      (x, y) -> x + y)) AS nrm
        |  FROM embeddings),
        |fq AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn FROM e WHERE vec_id < 20),
        |fscored AS (
        |  SELECT fq.query_id, e.vec_id,
        |    list_reduce(list_transform(generate_series(1, len(fq.qv)),
        |      i -> CAST(fq.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
        |      (x, y) -> x + y) / (fq.qn * e.nrm) AS cosine
        |  FROM fq JOIN e ON e.vec_id <> fq.query_id),
        |ftop AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        |  FROM fscored QUALIFY rank <= 10),
        |ov AS (
        |  SELECT i.query_id, CAST(count(*) AS BIGINT) AS n_overlap
        |  FROM itop i JOIN ftop f ON f.query_id = i.query_id AND f.vec_id = i.vec_id
        |  GROUP BY i.query_id)
        |SELECT t.query_id, t.vec_id AS top1_vec_id, t.idot AS top1_idot,
        |  COALESCE(ov.n_overlap, 0) AS n_overlap, CAST(10 AS BIGINT) AS k
        |FROM itop t LEFT JOIN ov ON ov.query_id = t.query_id
        |WHERE t.rank = 1 ORDER BY t.query_id""".stripMargin,
    // x160: the sampled kNN graph relationally (vec_id < 500 as
    // queries — the whole corpus at sf0.01 — the x20 cosine
    // arithmetic, rank <= 10), k-occurrence counts with the
    // zero-coalesce for antihubs, top-20 by (k_occ desc, vec_id).
    "x160_hubness" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(generate_series(1, len(embedding)),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
        |      (x, y) -> x + y)) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, e.vec_id,
        |    list_reduce(list_transform(generate_series(1, len(q.embedding)),
        |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
        |      (x, y) -> x + y) / (q.nrm * e.nrm) AS cosine
        |  FROM e q JOIN e ON e.vec_id <> q.vec_id
        |  WHERE q.vec_id < 500),
        |knn AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY cosine DESC, vec_id) AS rn
        |    FROM scored) WHERE rn <= 10),
        |occ AS (
        |  SELECT a.vec_id, CAST(coalesce(c.n, 0) AS BIGINT) AS k_occ
        |  FROM (SELECT vec_id FROM embeddings) a
        |  LEFT JOIN (SELECT vec_id, count(*) AS n FROM knn GROUP BY vec_id) c
        |    USING (vec_id)),
        |summ AS (
        |  SELECT CAST(sum(CASE WHEN k_occ = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_antihubs,
        |    CAST(max(k_occ) AS BIGINT) AS max_k_occ,
        |    CAST(count(*) AS BIGINT) AS n_vectors
        |  FROM occ)
        |SELECT CAST(rank AS INT) AS rank, vec_id, k_occ,
        |  n_antihubs, max_k_occ, n_vectors
        |FROM (
        |  SELECT vec_id, k_occ,
        |    row_number() OVER (ORDER BY k_occ DESC, vec_id) AS rank
        |  FROM occ) CROSS JOIN summ
        |WHERE rank <= 20 ORDER BY rank""".stripMargin,
    // x146: the sign bits spelled UNPACKED (hamming = count of dims
    // whose strict `> 0` signs differ — exactly popcount(xor) of the
    // packed words), the same (hamming, vec_id)-ordered top-50 pool,
    // and the x20-arithmetic float rescore to top-10.
    "x146_binary_retrieval" ->
      """WITH sb AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x ->
        |      CASE WHEN CAST(x AS DOUBLE) > 0 THEN 1 ELSE 0 END) AS bits
        |  FROM embeddings),
        |qb AS (SELECT vec_id AS query_id, bits AS qbits FROM sb WHERE vec_id < 20),
        |ham AS (
        |  SELECT qb.query_id, sb.vec_id,
        |    CAST(list_reduce(list_transform(generate_series(1, len(sb.bits)),
        |      i -> CASE WHEN qbits[i] <> bits[i] THEN 1 ELSE 0 END),
        |      (x, y) -> x + y) AS BIGINT) AS hamming
        |  FROM qb JOIN sb ON sb.vec_id <> qb.query_id),
        |pool AS (
        |  SELECT query_id, vec_id, hamming,
        |    row_number() OVER (PARTITION BY query_id ORDER BY hamming, vec_id) AS hrank
        |  FROM ham QUALIFY hrank <= 50),
        |e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(generate_series(1, len(embedding)),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
        |      (x, y) -> x + y)) AS nrm
        |  FROM embeddings),
        |qe AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn FROM e WHERE vec_id < 20),
        |resc AS (
        |  SELECT p.query_id, p.vec_id, p.hamming,
        |    list_reduce(list_transform(generate_series(1, len(qe.qv)),
        |      i -> CAST(qe.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
        |      (x, y) -> x + y) / (qe.qn * e.nrm) AS cosine
        |  FROM pool p JOIN qe ON qe.query_id = p.query_id
        |              JOIN e ON e.vec_id = p.vec_id)
        |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, hamming, cosine
        |FROM (
        |  SELECT query_id, vec_id, hamming, cosine,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        |  FROM resc) WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "x23_quantize_int8" ->
      """SELECT vec_id,
        |  list_reduce(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
        |    (a, b) -> greatest(a, b)) AS scale,
        |  array_to_string(list_transform(embedding, x ->
        |    CASE WHEN list_reduce(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))),
        |           (a, b) -> greatest(a, b)) = 0 THEN CAST(0 AS TINYINT)
        |         ELSE CAST(round(CAST(x AS DOUBLE)
        |           / list_reduce(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))),
        |               (a, b) -> greatest(a, b)) * 127.0) AS TINYINT) END), ',') AS q8
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "x60_truncated_rerank" ->
      """WITH e AS (
        |  SELECT vec_id, embedding, embedding[1:16] AS emb_t,
        |    sqrt(list_reduce(list_transform(generate_series(1, len(embedding)),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
        |      (x, y) -> x + y)) AS nrm,
        |    sqrt(list_reduce(list_transform(generate_series(1, 16),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
        |      (x, y) -> x + y)) AS nrm_t
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, embedding AS qv, emb_t AS qv_t,
        |        nrm AS qn, nrm_t AS qn_t FROM e WHERE vec_id < 5),
        |coarse AS (
        |  SELECT q.query_id, e.vec_id, e.embedding, e.nrm, q.qv, q.qn,
        |    list_reduce(list_transform(generate_series(1, 16),
        |      i -> CAST(q.qv_t[i] AS DOUBLE) * CAST(e.emb_t[i] AS DOUBLE)),
        |      (x, y) -> x + y) / (q.qn_t * e.nrm_t) AS coarse_cosine
        |  FROM q JOIN e ON e.vec_id <> q.query_id),
        |cand AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY coarse_cosine DESC, vec_id) AS crank
        |  FROM coarse),
        |rer AS (
        |  SELECT query_id, vec_id,
        |    list_reduce(list_transform(generate_series(1, len(qv)),
        |      i -> CAST(qv[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
        |      (x, y) -> x + y) / (qn * nrm) AS cosine
        |  FROM cand WHERE crank <= 40),
        |ranked AS (
        |  SELECT query_id, vec_id, cosine,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        |  FROM rer)
        |SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // x138: the x57 recursive-CC chain extended to singletons and joined
    // with token counts — the same cluster derivation, same integer cells.
    "x138_semdedup_report" ->
      s"""WITH RECURSIVE $bandedCtes,
        |p AS (SELECT vec_a AS doc_a, vec_b AS doc_b FROM wpairs),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
        |          UNION SELECT doc_b, doc_a FROM p),
        |reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
        |lbl AS (
        |  SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
        |  FROM reach GROUP BY src),
        |toks AS (
        |  SELECT doc_id AS vec_id,
        |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |allv AS (
        |  SELECT e.vec_id, coalesce(l.cluster_id, e.vec_id) AS cluster_id, t.n_tokens
        |  FROM embeddings e LEFT JOIN lbl l ON l.vec_id = e.vec_id
        |  JOIN toks t ON t.vec_id = e.vec_id),
        |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM allv GROUP BY cluster_id)
        |SELECT s.cluster_size,
        |  CAST(count(DISTINCT a.cluster_id) AS BIGINT) AS n_clusters,
        |  count(*) AS n_docs,
        |  CAST(sum(a.n_tokens) AS BIGINT) AS tokens_total,
        |  CAST(sum(CASE WHEN a.vec_id = a.cluster_id THEN a.n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept,
        |  CAST(sum(a.n_tokens) - sum(CASE WHEN a.vec_id = a.cluster_id THEN a.n_tokens ELSE 0 END) AS BIGINT) AS tokens_dropped,
        |  CAST(sum(CASE WHEN a.vec_id = a.cluster_id THEN a.n_tokens ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(a.n_tokens) AS DOUBLE) AS kept_token_ratio
        |FROM allv a JOIN sz s ON s.cluster_id = a.cluster_id
        |GROUP BY s.cluster_size ORDER BY s.cluster_size""".stripMargin,
    "x57_embedding_dup_clusters" ->
      s"""WITH RECURSIVE $bandedCtes,
        |p AS (SELECT vec_a AS doc_a, vec_b AS doc_b FROM wpairs),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
        |          UNION SELECT doc_b, doc_a FROM p),
        |reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
        |lbl AS (
        |  SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
        |  FROM reach GROUP BY src)
        |SELECT vec_id, cluster_id,
        |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
        |FROM lbl ORDER BY vec_id""".stripMargin,
    "x22_label_topk_norm" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |    sqrt(list_reduce(list_transform(generate_series(1, len(embedding)),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
        |      (x, y) -> x + y)) AS nrm
        |  FROM embeddings),
        |r AS (SELECT label, vec_id, nrm,
        |  row_number() OVER (PARTITION BY label ORDER BY nrm DESC, vec_id) AS rank FROM e)
        |SELECT label, CAST(rank AS INT) AS rank, vec_id, nrm AS norm
        |FROM r WHERE rank <= 3 ORDER BY label, rank""".stripMargin)
}
