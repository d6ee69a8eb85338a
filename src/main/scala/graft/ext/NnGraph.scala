package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.engine.SessionMemo
import graft.engine.Pin.PinOps
import graft.functions.LongVec
import graft.plans.TopKPerKey

/** NN-descent k-NN graph construction over the `embeddings` table — the
  * build step of graph-based ANN serving (HNSW/NSG families all start
  * from an approximate k-NN graph) and of graph-distance curation
  * audits. The reference has no vector surface at all (its readable
  * core is `dags/flights_data_pipeline.py:1-253`); this lane is part of
  * the builder brief's similarity-search mandate, next to the
  * LSH/IVF/PQ serving paths in `Similarity`/`Clustering`.
  *
  * Algorithm (Dong, Moses & Li, WWW'11 "Efficient k-nearest neighbor
  * graph construction for generic similarity measures", re-derived
  * here in DataFrame form): start from a cheap candidate seed, then
  * repeat "compare each point against its neighbors' neighbors and
  * keep the best k". Every usually-randomized choice is pinned:
  *
  *  - coordinates snap to the 2^-20 grid (the x127/x130 rule) so every
  *    distance is order-free BIGINT arithmetic via the codegen'd
  *    `SqDistL` kernel — bit-identical across engines and replays;
  *  - the seed is two independent md5-salted hash bucketings (the
  *    cross-engine analog of NN-descent's random init): same-bucket
  *    points are seed candidates, each point keeps its best k;
  *  - the per-round neighbor pool is degree-capped at 2k by a
  *    round-salted md5 order (the paper's reverse-neighbor SAMPLING,
  *    made deterministic) so hub nodes cannot quadratically blow up
  *    the join;
  *  - ties everywhere break by (distance, neighbor id).
  *
  * Scale shape: the seed is a bucket equi-join (bucket count is the
  * production knob — scale B with n to hold bucket size constant; it
  * is PINNED here so the DuckDB twin is a fixed string). Each round is
  * two self-joins on node id plus one distance pass over ~n·(2k)²
  * candidate pairs and one per-node top-k — all key-partitioned, no
  * global structure, no driver state. Per-round localCheckpoint keeps
  * the unrolled plan linear (the x82/x83 discipline). Monotone by
  * construction: round r's candidate set includes round r-1's edges,
  * so each node's k-th distance never regresses (NnGraphSpec gates
  * this invariant).
  */
object NnGraph {

  /** The standing-corpus grid frame of the incremental lane. */
  private[graft] def standingQ(s: SparkSession, dir: String): DataFrame =
    Clustering.qvecs(s, dir).filter(!isArrival(col("vec_id")))

  /** Integer squared L2 on the grid — native codegen'd kernel. */
  private def sqDist(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.SqDistL(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** md5-derived 60-bit pinned pseudo-random order (TextAnalysis rule). */
  private def h(c: Column): Column = TextAnalysis.tokenHash(c)

  /** Distances for a (src, nbr) pair frame: two id-keyed joins against
    * the grid corpus, one kernel pass. The pair frame never widens.
    */
  private def withDist(pairs: DataFrame, q: DataFrame): DataFrame =
    pairs
      .join(q.select(col("vec_id").as("src"), col("qa").as("sa")), Seq("src"))
      .join(q.select(col("vec_id").as("nbr"), col("qa").as("na")), Seq("nbr"))
      .select(col("src"), col("nbr"), sqDist(col("sa"), col("na")).as("dist"))

  private val PerSrc = Seq(col("src"))

  /** The graph's pinned per-src neighbor order. */
  private val ByDist = Seq(col("dist"), col("nbr"))

  /** The standing-corpus predicate of the incremental lane (the x150
    * split convention): vec_id % 10 == 9 rows are the arrivals.
    */
  private[graft] def isArrival(c: Column): Column =
    pmod(c, lit(10L)) === lit(9L)

  /** The converged edge frame (src, nbr, dist), cached per
    * (session, dir, k, rounds, buckets, corpus tag) — x187/x188/x192
    * read one "all"-corpus build; the incremental lane (x194) reads
    * one "standing" build.
    */
  private val graphCache =
    SessionMemo[(String, Int, Int, Int, String), DataFrame]("NnGraph.graph")

  private[graft] def nnEdges(s: SparkSession, dir: String, k: Int,
      rounds: Int, buckets: Int, tag: String = "all"): DataFrame =
    graphCache(s, (dir, k, rounds, buckets, tag)) {
      val base = Clustering.qvecs(s, dir)
      val q = (tag match {
        case "standing" => base.filter(!isArrival(col("vec_id")))
        case _ => base
      }).pinned
      // Seed bucket count scales with the corpus (pinned ~64-vector
      // buckets): the seed's in-bucket all-pairs is 2·n²/buckets, so a
      // FIXED bucket count is quadratic in n — at the 100x corpus
      // (200 K vectors) 32 buckets would seed 2.4 G pairs. max() keeps
      // the requested count through the sf0.1 decade (n=2,000 → still
      // 32), so every graded oracle and its DuckDB twin, which bakes
      // the literal bucket count, are unchanged; past that the seed
      // work stays linear (~128·n pairs). One count on the pinned
      // corpus frame, amortized by the graph cache.
      val effBuckets = effectiveBuckets(buckets, q.count())
      // seed: two salted bucketings over disjoint bucket spaces
      val bkt = q.select(col("vec_id"), explode(array(
          pmod(h(concat(lit("nnd1:"), col("vec_id"))), lit(effBuckets)),
          pmod(h(concat(lit("nnd2:"), col("vec_id"))), lit(effBuckets))
            + lit(effBuckets))).as("b"))
      val p0 = bkt.as("l").join(bkt.as("r"), Seq("b"))
        .filter(col("l.vec_id") =!= col("r.vec_id"))
        .select(col("l.vec_id").as("src"), col("r.vec_id").as("nbr"))
        .distinct()
      var e = TopKPerKey.ranked(withDist(p0, q), PerSrc, ByDist, k).drop("rank").pinned
      (1 to rounds).foreach { r =>
        // undirected pool, degree-capped at 2k by a round-salted order
        // (the paper's reverse-neighbor sampling, pinned)
        val pool = e.select(col("src"), col("nbr"))
          .union(e.select(col("nbr").as("src"), col("src").as("nbr")))
          .distinct()
        val u = TopKPerKey.ranked(pool, PerSrc,
            Seq(h(concat(lit(s"nndu:$r:"), col("src"), lit(":"), col("nbr"))), col("nbr")),
            2 * k).drop("rank")
          .pinned
        // neighbors-of-neighbors ∪ pool ∪ current edges (the last term
        // makes per-node k-th distance monotone non-increasing)
        val cand = u.as("a").join(u.as("b"), col("a.nbr") === col("b.src"))
          .filter(col("a.src") =!= col("b.nbr"))
          .select(col("a.src").as("src"), col("b.nbr").as("nbr"))
          .union(u.select(col("src"), col("nbr")))
          .union(e.select(col("src"), col("nbr")))
          .distinct()
        e = TopKPerKey.ranked(withDist(cand, q), PerSrc, ByDist, k).drop("rank").pinned
      }
      e
    }

  /** x187: the NN-descent k-NN graph — per point its k approximate
    * nearest neighbors after `rounds` descent rounds, with grid-exact
    * squared distances. Columns: vec_id, rank (1 = nearest), nbr_id,
    * dist_grid, plus the L2 distance back on the unit scale.
    */
  def nnDescent(s: SparkSession, dir: String, k: Int = 6, rounds: Int = 4,
      buckets: Int = 32): DataFrame =
    nnEdges(s, dir, k, rounds, buckets)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("dist"), col("nbr"))))
      .select(col("src").as("vec_id"), col("rank"), col("nbr").as("nbr_id"),
        col("dist").as("dist_grid"),
        (sqrt(col("dist").cast(DoubleType)) / LongVec.Scale).as("l2"))
      .orderBy(col("vec_id"), col("rank"))

  /** x188: sampled recall audit of the x187 graph — the 64 pinned-hash
    * sample nodes get EXACT top-k by brute force (64·n distance pairs:
    * linear in the corpus, the x160 bounded-audit discipline), and the
    * graph's hit rate against that truth is the recall. One summary
    * row: sample size, hits, possible, recall.
    */
  def nnDescentRecall(s: SparkSession, dir: String, k: Int = 6,
      rounds: Int = 4, buckets: Int = 32, sample: Int = 64): DataFrame = {
    val q = Clustering.qvecs(s, dir)
    // The probe arrays BROADCAST (sample rows) and the truth distances
    // compute INLINE in the one corpus scan — the r17 spelling built the
    // sample·n pair frame skinny and re-joined the corpus arrays onto
    // BOTH sides, materializing the full array-widened truth frame
    // through two shuffles (OOM'd a 32 GiB JVM at the 100x corpus).
    // Same truth set, same tie rule — only the plan shape changed:
    // linear scan, skinny (src, nbr, dist) rows into the top-k window.
    val probesQ = q
      .orderBy(h(concat(lit("nndq:"), col("vec_id"))), col("vec_id"))
      .limit(sample)
      .select(col("vec_id").as("src"), col("qa").as("sa"))
    val truthDist = q.select(col("vec_id").as("nbr"), col("qa").as("na"))
      .crossJoin(broadcast(probesQ))
      .filter(col("src") =!= col("nbr"))
      .select(col("src"), col("nbr"), sqDist(col("sa"), col("na")).as("dist"))
    val truth = TopKPerKey.ranked(truthDist, PerSrc, ByDist, k)
      .select(col("src"), col("nbr"))
    val approx = nnEdges(s, dir, k, rounds, buckets)
      .select(col("src"), col("nbr"))
    val hits = truth.join(approx, Seq("src", "nbr"), "left_semi")
      .groupBy().agg(count(lit(1)).as("hits"))
    val possible = truth.groupBy().agg(count(lit(1)).as("possible"),
      countDistinct(col("src")).as("n_queries"))
    possible.crossJoin(hits)
      .select(col("n_queries"), col("hits"), col("possible"),
        (col("hits").cast(DoubleType) / col("possible").cast(DoubleType))
          .as("recall"))
  }

  /** x192: relative-neighborhood pruning of the x187 graph — the edge
    * diversification heuristic of the HNSW/NSG serving families
    * (Malkov & Yashunin 2016 §4; the order-free RNG form): drop edge
    * (u,v) when some other neighbor w of u is BOTH closer to u than v
    * is (lexicographic (dist, id), matching the graph's own tie rule)
    * and strictly closer to v than u is — w then dominates v, and a
    * greedy search that reaches w no longer needs the direct edge.
    * Output: every x187 edge with its verdict — vec_id, nbr_id,
    * dist_grid, kept, and the surviving edges' re-rank (NULL when
    * pruned), so the consumer reads one frame for both the pruned
    * graph and the audit.
    *
    * Scale shape: the domination test is one self-join of the edge
    * frame on src (≤ k² rows per node) plus one kernel distance pass
    * over the distinct (w,v) pairs — no corpus-sized state; reads the
    * x187 session cache.
    */
  /** The dominated (src, nbr) pairs of an edge frame under the RNG
    * test — shared by the x192 audit and the x195 search's pruned
    * standing graph.
    */
  private def prunedPairs(q: DataFrame, e: DataFrame): DataFrame = {
    val tri = e.as("uv").join(e.as("uw"), col("uv.src") === col("uw.src"))
      .filter(struct(col("uw.dist"), col("uw.nbr")) <
        struct(col("uv.dist"), col("uv.nbr")))
      .select(col("uv.src").as("src"), col("uv.nbr").as("v"),
        col("uv.dist").as("dv"), col("uw.nbr").as("w"))
    tri
      .join(q.select(col("vec_id").as("w"), col("qa").as("wa")), Seq("w"))
      .join(q.select(col("vec_id").as("v"), col("qa").as("va")), Seq("v"))
      .filter(sqDist(col("wa"), col("va")) < col("dv"))
      .select(col("src"), col("v").as("nbr")).distinct()
  }

  def rngPrune(s: SparkSession, dir: String, k: Int = 6, rounds: Int = 4,
      buckets: Int = 32): DataFrame = {
    val q = Clustering.qvecs(s, dir)
    val e = nnEdges(s, dir, k, rounds, buckets)
    val pruned = prunedPairs(q, e).withColumn("pr", lit(1))
    e.join(pruned, Seq("src", "nbr"), "left")
      .withColumn("kept", col("pr").isNull)
      .withColumn("kept_rank",
        when(col("kept"), row_number().over(Window.partitionBy(col("src"),
          col("pr")).orderBy(col("dist"), col("nbr")))).cast(LongType))
      .select(col("src").as("vec_id"), col("nbr").as("nbr_id"),
        col("dist").as("dist_grid"), col("kept"), col("kept_rank"))
      .orderBy(col("vec_id"), col("dist_grid"), col("nbr_id"))
  }

  /** The per-arrival insertion probe against a standing graph — shared
    * by the x194 batch query and the streaming ingest
    * (`streaming/GraphIngest`): candidates = the arrival's bucket
    * mates in the standing corpus (same two salted bucketings) plus
    * ONE graph expansion (the mates' standing-graph neighbors — the
    * descent step of a graph-ANN insert), then best-k by the pinned
    * (dist, id) order. Read-only on the graph, so any batch split of
    * the arrivals yields the same edges — the property GraphIngestSpec
    * gates across micro-batches.
    */
  /** The shared bucket-count rule: never below the requested count
    * (graded-scale identity — the DuckDB twins bake the literal), and
    * never coarser than ~64-vector buckets past it (per-bucket pair
    * work stays bounded). The probe and the build MUST agree: r18's
    * first 100x run probed 20 K arrivals against a 180 K standing
    * corpus at the literal 32 buckets — 225 M bucket mates before the
    * graph expansion, a >60 GB spill — while the standing graph itself
    * had been built at the scaled 2,813.
    */
  private[graft] def effectiveBuckets(requested: Int, n: Long): Long =
    math.max(requested.toLong, (n + 63L) / 64L)

  private[graft] def insertEdges(arrivals: DataFrame, standingQ: DataFrame,
      g: DataFrame, k: Int, buckets: Int): DataFrame = {
    // scaled by the STANDING corpus — the same n the standing-graph
    // build scaled by, so probe buckets align with build buckets
    val effB = effectiveBuckets(buckets, standingQ.count())
    def bkts(df: DataFrame) = df.select(col("vec_id"), explode(array(
      pmod(h(concat(lit("nnd1:"), col("vec_id"))), lit(effB)),
      pmod(h(concat(lit("nnd2:"), col("vec_id"))), lit(effB))
        + lit(effB))).as("b"))
    val mates = bkts(arrivals).as("a")
      .join(bkts(standingQ).as("s"), Seq("b"))
      .select(col("a.vec_id").as("src"), col("s.vec_id").as("nbr"))
      .distinct()
    val expanded = mates.as("m")
      .join(g.as("g"), col("m.nbr") === col("g.src"))
      .select(col("m.src").as("src"), col("g.nbr").as("nbr"))
    val cand = mates.union(expanded).distinct()
    val d = cand
      .join(arrivals.select(col("vec_id").as("src"), col("qa").as("sa")), Seq("src"))
      .join(standingQ.select(col("vec_id").as("nbr"), col("qa").as("na")), Seq("nbr"))
      .select(col("src"), col("nbr"), sqDist(col("sa"), col("na")).as("dist"))
    TopKPerKey.ranked(d, PerSrc, ByDist, k).drop("rank")
  }

  /** x194: incremental graph insertion — the arrivals (vec_id % 10 == 9,
    * the x150 split) get k-NN edges into the STANDING corpus's x187
    * graph by bucket probe + one graph expansion, without rebuilding
    * anything. Columns mirror x187. The streaming form commits each
    * micro-batch's edges as a snapshot (GraphIngest); this query is its
    * hash-gated batch twin.
    */
  def graphInsert(s: SparkSession, dir: String, k: Int = 6, rounds: Int = 4,
      buckets: Int = 32): DataFrame = {
    val all = Clustering.qvecs(s, dir)
    val arrivals = all.filter(isArrival(col("vec_id")))
    val standingQ = all.filter(!isArrival(col("vec_id")))
    val g = nnEdges(s, dir, k, rounds, buckets, "standing")
    insertEdges(arrivals, standingQ, g, k, buckets)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("dist"), col("nbr"))))
      .select(col("src").as("vec_id"), col("rank"), col("nbr").as("nbr_id"),
        col("dist").as("dist_grid"),
        (sqrt(col("dist").cast(DoubleType)) / LongVec.Scale).as("l2"))
      .orderBy(col("vec_id"), col("rank"))
  }

  /** x195: greedy beam search over the PRUNED standing graph — the
    * serving walk of the HNSW/NSG families (single layer, fixed-depth
    * form): every arrival query starts at one pinned entry node
    * (md5-minimal, the cross-engine analog of HNSW's fixed entry
    * point) and repeats `hops` times "score the frontier plus its
    * out-neighbors against the query, keep the best `beam`" — the
    * frontier is monotone because it is always included in its own
    * expansion. Final answer: best k of the last frontier. Columns
    * mirror x187/x194 (query_id, rank, node_id, dist_grid, l2).
    *
    * Scale shape: per hop one equi-join of the (query, node) frontier
    * against the kept-edge frame (≤ beam·deg rows per query), one
    * kernel distance pass, one per-query top-beam window; queries
    * never interact, so the walk parallelizes per query; the graph is
    * the x187 session cache pruned once per call. hops·beam·deg
    * distance evaluations per query — the graph-ANN serving bound.
    */
  def beamSearch(s: SparkSession, dir: String, k: Int = 6, rounds: Int = 4,
      buckets: Int = 32, beam: Int = 8, hops: Int = 4): DataFrame = {
    val all = Clustering.qvecs(s, dir)
    val standing = all.filter(!isArrival(col("vec_id"))).pinned
    val queries = all.filter(isArrival(col("vec_id")))
      .select(col("vec_id").as("qid"), col("qa").as("qqa"))
      .pinned
    val g = nnEdges(s, dir, k, rounds, buckets, "standing")
    val kept = g.join(prunedPairs(standing, g), Seq("src", "nbr"), "left_anti")
      .pinned
    val entry = standing
      .withColumn("eh", h(concat(lit("gse:"), col("vec_id").cast("string"))))
      .orderBy(col("eh"), col("vec_id")).limit(1)
      .select(col("vec_id").as("node"))
    val perQid = Seq(col("qid"))
    val byNodeDist = Seq(col("dist"), col("node"))
    def score(cand: DataFrame): DataFrame = cand
      .join(queries, Seq("qid"))
      .join(standing.select(col("vec_id").as("node"), col("qa").as("na")),
        Seq("node"))
      .select(col("qid"), col("node"), sqDist(col("qqa"), col("na")).as("dist"))
    var frontier = queries.select(col("qid")).crossJoin(broadcast(entry))
    (1 to hops).foreach { _ =>
      val exp = frontier.as("f").join(kept.as("g"), col("f.node") === col("g.src"))
        .select(col("f.qid").as("qid"), col("g.nbr").as("node"))
      val cand = frontier.union(exp).distinct()
      frontier = TopKPerKey.ranked(score(cand), perQid, byNodeDist, beam)
        .select(col("qid"), col("node"))
        .pinned
    }
    TopKPerKey.ranked(score(frontier), perQid, byNodeDist, k)
      .select(col("qid").as("query_id"), col("rank"), col("node").as("node_id"),
        col("dist").as("dist_grid"),
        (sqrt(col("dist").cast(DoubleType)) / LongVec.Scale).as("l2"))
      .orderBy(col("query_id"), col("rank"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x187_nndescent_graph" -> ((s: SparkSession, dir: String) => nnDescent(s, dir)),
    "x188_nndescent_recall" -> ((s: SparkSession, dir: String) => nnDescentRecall(s, dir)),
    "x192_rng_prune" -> ((s: SparkSession, dir: String) => rngPrune(s, dir)),
    "x194_graph_insert" -> ((s: SparkSession, dir: String) => graphInsert(s, dir)),
    "x195_graph_beam_search" -> ((s: SparkSession, dir: String) => beamSearch(s, dir)))

  /** The shared twin prefix: grid dims, the two-salt bucket seed, and
    * `rounds` descent rounds unrolled — ends at e`rounds` (src, nbr,
    * dist). Distances spell the same Σ(qᵢ−qⱼ)² by exploding dims and
    * joining on d (the kmCte discipline).
    */
  private def nndCtes(k: Int, rounds: Int, buckets: Int,
      src: String = "embeddings"): String = {
    val roundCtes = (1 to rounds).map { r =>
      val prev = s"e${r - 1}"
      s"""u$r AS MATERIALIZED (
         |  SELECT src, nbr FROM (
         |    SELECT src, nbr, row_number() OVER (PARTITION BY src ORDER BY
         |        ('0x' || substr(md5('nndu:$r:' || CAST(src AS VARCHAR) || ':' ||
         |          CAST(nbr AS VARCHAR)), 1, 15))::BIGINT, nbr) AS rk
         |    FROM (SELECT DISTINCT src, nbr FROM (
         |      SELECT src, nbr FROM $prev
         |      UNION ALL SELECT nbr AS src, src AS nbr FROM $prev)))
         |  WHERE rk <= ${2 * k}),
         |c$r AS MATERIALIZED (
         |  SELECT DISTINCT src, nbr FROM (
         |    SELECT a.src AS src, b.nbr AS nbr
         |    FROM u$r a JOIN u$r b ON a.nbr = b.src WHERE a.src <> b.nbr
         |    UNION ALL SELECT src, nbr FROM u$r
         |    UNION ALL SELECT src, nbr FROM $prev)),
         |d$r AS MATERIALIZED (
         |  SELECT c.src, c.nbr, sum((a.q - b.q) * (a.q - b.q)) AS dist
         |  FROM c$r c JOIN dims a ON a.vec_id = c.src
         |  JOIN dims b ON b.vec_id = c.nbr AND b.d = a.d
         |  GROUP BY c.src, c.nbr),
         |e$r AS MATERIALIZED (
         |  SELECT src, nbr, dist FROM (
         |    SELECT src, nbr, dist,
         |      row_number() OVER (PARTITION BY src ORDER BY dist, nbr) AS rk
         |    FROM d$r) WHERE rk <= $k)""".stripMargin
    }.mkString(",\n")
    s"""dims AS MATERIALIZED (
       |  SELECT vec_id, i - 1 AS d,
       |    CAST(floor(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT) AS q
       |  FROM $src,
       |       LATERAL (SELECT unnest(embedding) AS v,
       |                       unnest(generate_series(1, len(embedding))) AS i)),
       |bkt AS MATERIALIZED (
       |  SELECT vec_id, ('0x' || substr(md5('nnd1:' || CAST(vec_id AS VARCHAR)),
       |      1, 15))::BIGINT % $buckets AS b FROM $src
       |  UNION ALL
       |  SELECT vec_id, $buckets + ('0x' || substr(md5('nnd2:' ||
       |      CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT % $buckets FROM $src),
       |p0 AS MATERIALIZED (
       |  SELECT DISTINCT l.vec_id AS src, r.vec_id AS nbr
       |  FROM bkt l JOIN bkt r USING (b) WHERE l.vec_id <> r.vec_id),
       |d0 AS MATERIALIZED (
       |  SELECT p.src, p.nbr, sum((a.q - b.q) * (a.q - b.q)) AS dist
       |  FROM p0 p JOIN dims a ON a.vec_id = p.src
       |  JOIN dims b ON b.vec_id = p.nbr AND b.d = a.d
       |  GROUP BY p.src, p.nbr),
       |e0 AS MATERIALIZED (
       |  SELECT src, nbr, dist FROM (
       |    SELECT src, nbr, dist,
       |      row_number() OVER (PARTITION BY src ORDER BY dist, nbr) AS rk
       |    FROM d0) WHERE rk <= $k),
       |$roundCtes""".stripMargin
  }

  private def nndOracle(k: Int, rounds: Int, buckets: Int): String =
    s"""WITH ${nndCtes(k, rounds, buckets)}
       |SELECT src AS vec_id,
       |  CAST(row_number() OVER (PARTITION BY src ORDER BY dist, nbr) AS INT)
       |    AS rank,
       |  nbr AS nbr_id, CAST(dist AS BIGINT) AS dist_grid,
       |  sqrt(CAST(dist AS DOUBLE)) / 1048576.0 AS l2
       |FROM e$rounds ORDER BY vec_id, rank""".stripMargin

  private def recallOracle(k: Int, rounds: Int, buckets: Int,
      sample: Int): String =
    s"""WITH ${nndCtes(k, rounds, buckets)},
       |probes AS MATERIALIZED (
       |  SELECT vec_id FROM embeddings
       |  ORDER BY ('0x' || substr(md5('nndq:' || CAST(vec_id AS VARCHAR)),
       |    1, 15))::BIGINT, vec_id LIMIT $sample),
       |xd AS MATERIALIZED (
       |  SELECT p.vec_id AS src, e.vec_id AS nbr,
       |    sum((a.q - b.q) * (a.q - b.q)) AS dist
       |  FROM probes p JOIN embeddings e ON e.vec_id <> p.vec_id
       |  JOIN dims a ON a.vec_id = p.vec_id
       |  JOIN dims b ON b.vec_id = e.vec_id AND b.d = a.d
       |  GROUP BY p.vec_id, e.vec_id),
       |truth AS MATERIALIZED (
       |  SELECT src, nbr FROM (
       |    SELECT src, nbr, row_number() OVER (PARTITION BY src
       |      ORDER BY dist, nbr) AS rk FROM xd) WHERE rk <= $k),
       |hits AS MATERIALIZED (
       |  SELECT CAST(count(*) AS BIGINT) AS hits FROM truth t
       |  WHERE EXISTS (SELECT 1 FROM e$rounds g
       |                WHERE g.src = t.src AND g.nbr = t.nbr))
       |SELECT CAST(count(DISTINCT src) AS BIGINT) AS n_queries,
       |  hits.hits AS hits, CAST(count(*) AS BIGINT) AS possible,
       |  CAST(hits.hits AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
       |FROM truth, hits GROUP BY hits.hits""".stripMargin

  /** The shared domination-test chain (tri → wv → pruned → kept) on
    * top of the graph CTEs — x192's audit and x195's pruned serving
    * graph read the same spelling.
    */
  private def keptCtes(k: Int, rounds: Int, buckets: Int,
      src: String = "embeddings"): String =
    s"""${nndCtes(k, rounds, buckets, src)},
       |tri AS MATERIALIZED (
       |  SELECT uv.src, uv.nbr AS v, uv.dist AS dv, uw.nbr AS w
       |  FROM e$rounds uv JOIN e$rounds uw ON uw.src = uv.src
       |  WHERE (uw.dist, uw.nbr) < (uv.dist, uv.nbr)),
       |wv AS MATERIALIZED (
       |  SELECT t.src, t.v, t.dv, t.w,
       |    sum((a.q - b.q) * (a.q - b.q)) AS dwv
       |  FROM tri t JOIN dims a ON a.vec_id = t.w
       |  JOIN dims b ON b.vec_id = t.v AND b.d = a.d
       |  GROUP BY t.src, t.v, t.dv, t.w),
       |pruned AS MATERIALIZED (
       |  SELECT DISTINCT src, v AS nbr FROM wv WHERE dwv < dv),
       |kept AS MATERIALIZED (
       |  SELECT e.src, e.nbr, e.dist FROM e$rounds e
       |  LEFT JOIN pruned p ON p.src = e.src AND p.nbr = e.nbr
       |  WHERE p.src IS NULL)""".stripMargin

  /** x192's twin: the same graph chain, the same (dist, id)-ordered
    * domination triples, the same strict d(w,v) < d(u,v) test.
    */
  private def rngOracle(k: Int, rounds: Int, buckets: Int): String =
    s"""WITH ${keptCtes(k, rounds, buckets)}
       |SELECT e.src AS vec_id, e.nbr AS nbr_id,
       |  CAST(e.dist AS BIGINT) AS dist_grid,
       |  p.src IS NULL AS kept,
       |  CASE WHEN p.src IS NULL THEN CAST(row_number() OVER (
       |    PARTITION BY e.src, (p.src IS NULL)
       |    ORDER BY e.dist, e.nbr) AS BIGINT) END AS kept_rank
       |FROM e$rounds e
       |LEFT JOIN pruned p ON p.src = e.src AND p.nbr = e.nbr
       |ORDER BY vec_id, dist_grid, nbr_id""".stripMargin

  /** x194's twin: the standing-corpus graph chain (the same CTEs with
    * the arrival rows filtered out of the source), the arrival dims and
    * buckets, the same mate + one-expansion candidate set, the same
    * pinned top-k.
    */
  private def insertOracle(k: Int, rounds: Int, buckets: Int): String =
    s"""WITH ${nndCtes(k, rounds, buckets,
         "(SELECT * FROM embeddings WHERE vec_id % 10 <> 9)")},
       |arr AS MATERIALIZED (SELECT * FROM embeddings WHERE vec_id % 10 = 9),
       |adims AS MATERIALIZED (
       |  SELECT vec_id, i - 1 AS d,
       |    CAST(floor(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT) AS q
       |  FROM arr,
       |       LATERAL (SELECT unnest(embedding) AS v,
       |                       unnest(generate_series(1, len(embedding))) AS i)),
       |abkt AS MATERIALIZED (
       |  SELECT vec_id, ('0x' || substr(md5('nnd1:' || CAST(vec_id AS VARCHAR)),
       |      1, 15))::BIGINT % $buckets AS b FROM arr
       |  UNION ALL
       |  SELECT vec_id, $buckets + ('0x' || substr(md5('nnd2:' ||
       |      CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT % $buckets FROM arr),
       |mates AS MATERIALIZED (
       |  SELECT DISTINCT a.vec_id AS src, st.vec_id AS nbr
       |  FROM abkt a JOIN bkt st USING (b)),
       |cands AS MATERIALIZED (
       |  SELECT DISTINCT src, nbr FROM (
       |    SELECT src, nbr FROM mates
       |    UNION ALL
       |    SELECT m.src, g.nbr FROM mates m JOIN e$rounds g ON g.src = m.nbr)),
       |dd AS MATERIALIZED (
       |  SELECT c.src, c.nbr, sum((a.q - b.q) * (a.q - b.q)) AS dist
       |  FROM cands c JOIN adims a ON a.vec_id = c.src
       |  JOIN dims b ON b.vec_id = c.nbr AND b.d = a.d
       |  GROUP BY c.src, c.nbr)
       |SELECT src AS vec_id,
       |  CAST(row_number() OVER (PARTITION BY src ORDER BY dist, nbr) AS INT)
       |    AS rank,
       |  nbr AS nbr_id, CAST(dist AS BIGINT) AS dist_grid,
       |  sqrt(CAST(dist AS DOUBLE)) / 1048576.0 AS l2
       |FROM (SELECT src, nbr, dist,
       |        row_number() OVER (PARTITION BY src ORDER BY dist, nbr) AS rk
       |      FROM dd) WHERE rk <= $k
       |ORDER BY vec_id, rank""".stripMargin

  /** x195's twin: the standing pruned-graph chain, the arrivals as
    * queries, the md5-minimal entry node, and `hops` beam rounds
    * unrolled (bc/bd/bf names — the graph chain already owns c/d/e).
    */
  private def beamOracle(k: Int, rounds: Int, buckets: Int, beam: Int,
      hops: Int): String = {
    val standingSrc = "(SELECT * FROM embeddings WHERE vec_id % 10 <> 9)"
    val hopCtes = (1 to hops).map { r =>
      val prev = if (r == 1) "f0" else s"bf${r - 1}"
      s"""bc$r AS MATERIALIZED (
         |  SELECT DISTINCT qid, node FROM (
         |    SELECT qid, node FROM $prev
         |    UNION ALL
         |    SELECT f.qid, g.nbr AS node FROM $prev f
         |    JOIN kept g ON g.src = f.node)),
         |bd$r AS MATERIALIZED (
         |  SELECT c.qid, c.node, sum((a.q - b.q) * (a.q - b.q)) AS dist
         |  FROM bc$r c JOIN adims a ON a.vec_id = c.qid
         |  JOIN dims b ON b.vec_id = c.node AND b.d = a.d
         |  GROUP BY c.qid, c.node),
         |bf$r AS MATERIALIZED (
         |  SELECT qid, node, dist FROM (
         |    SELECT qid, node, dist,
         |      row_number() OVER (PARTITION BY qid ORDER BY dist, node) AS rk
         |    FROM bd$r) WHERE rk <= $beam)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${keptCtes(k, rounds, buckets, standingSrc)},
       |arr AS MATERIALIZED (SELECT * FROM embeddings WHERE vec_id % 10 = 9),
       |adims AS MATERIALIZED (
       |  SELECT vec_id, i - 1 AS d,
       |    CAST(floor(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT) AS q
       |  FROM arr,
       |       LATERAL (SELECT unnest(embedding) AS v,
       |                       unnest(generate_series(1, len(embedding))) AS i)),
       |entry AS MATERIALIZED (
       |  SELECT vec_id AS node FROM embeddings WHERE vec_id % 10 <> 9
       |  ORDER BY ('0x' || substr(md5('gse:' || CAST(vec_id AS VARCHAR)),
       |    1, 15))::BIGINT, vec_id LIMIT 1),
       |f0 AS MATERIALIZED (
       |  SELECT a.vec_id AS qid, e.node FROM arr a CROSS JOIN entry e),
       |$hopCtes
       |SELECT qid AS query_id,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, node) AS INT)
       |    AS rank,
       |  node AS node_id, CAST(dist AS BIGINT) AS dist_grid,
       |  sqrt(CAST(dist AS DOUBLE)) / 1048576.0 AS l2
       |FROM (SELECT qid, node, dist,
       |        row_number() OVER (PARTITION BY qid ORDER BY dist, node) AS rk
       |      FROM bf$hops) WHERE rk <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "x187_nndescent_graph" -> nndOracle(6, 4, 32),
    "x188_nndescent_recall" -> recallOracle(6, 4, 32, 64),
    "x192_rng_prune" -> rngOracle(6, 4, 32),
    "x194_graph_insert" -> insertOracle(6, 4, 32),
    "x195_graph_beam_search" -> beamOracle(6, 4, 32, 8, 4))
}
