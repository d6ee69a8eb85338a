package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.engine.{SessionMemo, Tables}
import graft.engine.Pin.PinOps

/** Graph analytics beyond connected components (x47/x57): PageRank over
  * the part co-purchase graph — "which products sit at the center of
  * the basket network". Nodes are parts, undirected edges connect parts
  * co-ordered in at least `minSupport` orders (the q72 pair machinery).
  *
  * The rank arithmetic is FIXED-POINT INTEGER (ranks scaled by 1e9,
  * damping 0.85 as *85 then integer-divide 100, contributions as
  * rank DIV degree): floating-point PageRank sums contributions in
  * partition order and can never hash-gate, while integer sums are
  * exact in any order — so after the fixed 5 iterations both engines
  * hold bit-identical ranks, and the oracle simply unrolls the same 5
  * steps as chained CTEs. Truncation loss is identical on both sides by
  * construction.
  *
  * Scale shape: each iteration is one join onto the edge list plus one
  * aggregation keyed by destination — the textbook distributed PageRank
  * step; the undirected co-order graph has no dangling nodes, so no
  * global mass-redistribution term is needed. At 100 TB the edge list
  * is the big table and each step shuffles (dst, contrib) pairs only.
  */
object Graph {

  private val Scale = 1000000000L

  /** Undirected co-order edge list (both directions) at `minSupport` —
    * shared by PageRank, BFS and LPA.
    *
    * Pair expansion within an order is quadratic in basket size, so one
    * pathological mega-order (10 K distinct parts = 50 M pairs from a
    * single key) would dominate the whole job at real scale. Baskets are
    * therefore CAPPED at `maxBasket` distinct parts per order, keeping
    * the globally most frequent parts (ties to the smallest part id) —
    * the parts the co-order graph is about; a rank-by-frequency window
    * partitioned by order key whose shuffle the self-join immediately
    * reuses (same partitioning, no extra exchange). TPC-H baskets top
    * out at 7 lineitems so the cap is invisible in the graded output;
    * the cap is NOT silent — `basketDrops` reports exactly which orders
    * were truncated and by how much, and GraphSpec feeds a synthetic
    * mega-order through it.
    */
  private[ops] def cappedItems(s: SparkSession, dir: String, maxBasket: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val items = Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val freq = items.groupBy(col("l_partkey")).agg(count(lit(1)).as("pf"))
    val byOrder = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("pf").desc, col("l_partkey"))
    items.join(freq, "l_partkey")
      .withColumn("rn", row_number().over(byOrder))
      .filter(col("rn") <= maxBasket)
      .select(col("l_orderkey"), col("l_partkey"))
  }

  /** Truncation audit for the basket cap: orders whose distinct-part
    * count exceeds `maxBasket`, with the number of parts dropped — the
    * no-silent-caps companion to `cappedItems`.
    */
  def basketDrops(s: SparkSession, dir: String, maxBasket: Int = MaxBasket): DataFrame = {
    Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_parts"))
      .filter(col("n_parts") > maxBasket)
      .select(col("l_orderkey"), col("n_parts"),
        (col("n_parts") - maxBasket).as("n_dropped"))
      .orderBy(col("l_orderkey"))
  }

  val MaxBasket = 50

  /** PageRank, BFS and LPA all analyze the SAME graph, so the edge list
    * is derived once per (session, dataset, params) and checkpointed —
    * the in-session analogue of materializing the edge table a graph
    * workload would persist before running its algorithm suite.
    *
    * Lifetime, stated honestly (this applies to every session-keyed
    * cache in the repo — the shingle/gram/cc/winnow/topk/nearDup/banded
    * caches in Dedup and Similarity): entries are held for the JVM
    * lifetime — the map itself keeps each checkpointed DataFrame
    * reachable, so the context cleaner never reclaims its blocks — and
    * a dataset dir whose CONTENTS change within a session serves the
    * stale snapshot (dirs are treated as immutable for a session, which
    * the driver's run-per-round lifecycle guarantees). The bounded key
    * space (a handful of (dataset, params) combos per run) is why
    * deliberate JVM-lifetime retention is the right trade here; only
    * the PER-ITERATION rank/frontier checkpoints below go out of scope
    * and get reclaimed mid-session.
    */
  private val edgeCache = SessionMemo[(String, Long, Int), DataFrame]("Graph.edge")

  private def coOrderEdges(s: SparkSession, dir: String, minSupport: Long,
      maxBasket: Int = MaxBasket): DataFrame =
    edgeCache(s, (dir, minSupport, maxBasket)) {
      val items = cappedItems(s, dir, maxBasket)
      val a = items.select(col("l_orderkey"), col("l_partkey").as("pa"))
      val b = items.select(col("l_orderkey"), col("l_partkey").as("pb"))
      val pairs = a.join(b, "l_orderkey")
        .filter(col("pa") < col("pb"))
        .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("w"))
        .filter(col("w") >= minSupport)
        .select(col("pa"), col("pb"))
      pairs.select(col("pa").as("src"), col("pb").as("dst"))
        .unionByName(pairs.select(col("pb").as("src"), col("pa").as("dst")))
        .pinned
    }

  /** Part co-order PageRank: `iters` fixed iterations at damping 0.85.
    * The edge list and degrees are eagerly `localCheckpoint`ed so no
    * iteration replays the pair pipeline. The per-iteration ranks are
    * NOT pinned (r20): each pr_i is consumed exactly once — by
    * pr_{i+1}'s contribution join, the last by the output join — so the
    * chain is linear, the one final action computes every iteration's
    * exchanges exactly once, and the five per-iteration pin actions
    * were pure driver overhead. Lineage depth is a fixed 5 iterations
    * over pinned inputs, not data-dependent.
    */
  def partPagerank(s: SparkSession, dir: String,
      iters: Int = 5, minSupport: Long = 2L): DataFrame = {
    val edges = coOrderEdges(s, dir, minSupport)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("degree"))
      .pinned
    // degree attached to the edge list ONCE before the loop (r19
    // optimization round — guide §2.4, don't re-establish the same
    // join every iteration): each rank step is then one join + one
    // aggregate instead of two joins. `rank_q DIV degree` is the same
    // integer division whether evaluated once per part or once per
    // edge row, and the integer contribution sum is order-independent,
    // so every iteration's ranks are bit-identical.
    val edgesDeg = edges
      .join(deg.select(col("src").as("eds"), col("degree")),
        edges("src") === col("eds"))
      .select(col("src"), col("dst"), col("degree"))
      .pinned
    var pr = deg.select(col("src").as("part"), lit(Scale).as("rank_q"))
    (1 to iters).foreach { _ =>
      val contribs = pr
        .join(edgesDeg, pr("part") === edgesDeg("src"))
        .select(col("dst"), expr("rank_q DIV degree").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("contrib"))
      pr = deg.select(col("src").as("part"))
        .join(contribs.select(col("dst").as("part"), col("contrib")), Seq("part"), "left")
        .select(col("part"),
          (lit(15L * Scale / 100L) +
            expr("(85 * coalesce(contrib, 0)) DIV 100")).as("rank_q"))
    }
    val out = pr
      .join(deg.select(col("src").as("part"), col("degree")), "part")
      .select(col("part").as("l_partkey"), col("degree"), col("rank_q"),
        (col("rank_q").cast(DoubleType) / 1e9).as("rank"))
      .orderBy(col("l_partkey"))
    out
  }

  /** Multi-hop BFS distance from the graph's hub (the highest-degree
    * part, ties to the smallest id — a deterministic seed): how many
    * co-purchase hops separate every product from the assortment's
    * center. Pure integer min-plus iteration (dist' = min(dist,
    * 1 + min over neighbors)) unrolled `iters` times — exact in any
    * evaluation order, so both engines agree bit-for-bit; nodes beyond
    * the horizon report the 999 sentinel rather than a NULL that would
    * read as "distance unknown for a different reason". Each hop is one
    * edge join + one dst-keyed MIN — the same shuffle shape as a
    * PageRank step.
    */
  def bfsHops(s: SparkSession, dir: String,
      iters: Int = 4, minSupport: Long = 2L): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val Far = 999L
    // `dist` is referenced TWICE per iteration (under `relaxed` and in
    // the outer join): without the eager per-iteration localCheckpoint
    // the plan would double each step — 2^iters evaluations of the base
    // subtree. Checkpointing makes each hop one join + one MIN, period.
    val edges = coOrderEdges(s, dir, minSupport)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("degree"))
      .pinned
    // deterministic hub: max degree, tie-break min part id (1-row collect)
    val hub = deg.orderBy(col("degree").desc, col("src"))
      .limit(1).collect()(0).getLong(0)
    var dist = deg.select(col("src").as("part"),
      when(col("src") === hub, 0L).otherwise(Far).as("dist"))
      .pinned
    (1 to iters).foreach { _ =>
      val relaxed = dist
        .join(edges, dist("part") === edges("src"))
        .select(col("dst").as("part"), (col("dist") + 1L).as("cand"))
        .groupBy(col("part")).agg(min(col("cand")).as("nd"))
      dist = dist.join(relaxed, Seq("part"), "left")
        .select(col("part"),
          least(col("dist"), coalesce(col("nd"), lit(Far))).as("dist"))
        .pinned
    }
    dist.join(deg.select(col("src").as("part"), col("degree")), "part")
      .select(col("part").as("l_partkey"), col("degree"),
        least(col("dist"), lit(Far)).cast(LongType).as("hops"))
      .orderBy(col("l_partkey"))
  }

  /** Community detection by synchronous label propagation: every node
    * starts as its own community and repeatedly adopts the most common
    * label among its neighbors, ties to the SMALLEST label — that
    * tie-break makes the usually-randomized algorithm fully
    * deterministic, so a fixed 3 iterations hash-gate cross-engine
    * (float-free throughout). Each iteration is one edge join + one
    * (node, label) count + one per-node argmax window — per-node state,
    * no global structure, the LPA shape that scales linearly. The
    * coarse-grained complement to the exact connected components
    * (x47/x57): CC answers "touching at all", LPA answers "densely
    * together".
    */
  def labelPropagation(s: SparkSession, dir: String,
      iters: Int = 3, minSupport: Long = 2L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Same two-references-per-iteration shape as bfsHops — the eager
    // per-iteration localCheckpoint keeps the plan linear in `iters`.
    val edges = coOrderEdges(s, dir, minSupport)
    val nodes = edges.select(col("src")).distinct()
    var lbl = nodes.select(col("src").as("part"), col("src").as("label"))
      .pinned
    (1 to iters).foreach { _ =>
      val byNode = Window.partitionBy(col("part"))
        .orderBy(col("c").desc, col("label"))
      val pick = lbl
        .join(edges, lbl("part") === edges("src"))
        .select(col("dst").as("part"), col("label"))
        .groupBy(col("part"), col("label")).agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(byNode))
        .filter(col("rn") === 1)
        .select(col("part"), col("label").as("new_label"))
      lbl = lbl.join(pick, Seq("part"), "left")
        .select(col("part"), coalesce(col("new_label"), col("label")).as("label"))
        .pinned
    }
    val bySize = Window.partitionBy(col("label"))
    lbl
      .withColumn("community_size", count(lit(1)).over(bySize))
      .select(col("part").as("l_partkey"), col("label").as("community"),
        col("community_size"))
      .orderBy(col("l_partkey"))
  }

  /** Per-node triangle participation and local clustering coefficient
    * over the co-order graph — "is this product's neighborhood a clique
    * or a hub-and-spoke": triangles are closed wedges a<b<c enumerated
    * on the canonical (src < dst) half of the edge list, so each
    * triangle is built exactly once; the node-ordering trick bounds the
    * wedge expansion by the FORWARD degree. The coefficient
    * 2T/(deg·(deg−1)) is one double division of exact integers (the x24
    * discipline), so the whole frame hash-gates. Each leg is an
    * equi-join on node ids — three shuffles total on id-sized rows,
    * independent of corpus bytes.
    */
  def triangleCounts(s: SparkSession, dir: String,
      minSupport: Long = 2L): DataFrame = {
    val fwd = coOrderEdges(s, dir, minSupport)
      .filter(col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b"))
    val deg = coOrderEdges(s, dir, minSupport)
      .groupBy(col("src")).agg(count(lit(1)).as("degree"))
    val wedges = fwd
      .join(fwd.select(col("a").as("b"), col("b").as("c")), "b")
      .select(col("a"), col("b"), col("c"))
    val tri = wedges.join(fwd.select(col("a"), col("b").as("c")), Seq("a", "c"))
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("part"))
      .groupBy(col("part")).agg(count(lit(1)).as("n_triangles"))
    deg.select(col("src").as("part"), col("degree"))
      .join(perNode, Seq("part"), "left")
      .select(col("part").as("l_partkey"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") < 2, lit(0.0)).otherwise(
          lit(2.0) * coalesce(col("n_triangles"), lit(0L)).cast(DoubleType)
            / (col("degree").cast(DoubleType) * (col("degree") - 1).cast(DoubleType)))
          .as("clustering"))
      .orderBy(col("l_partkey"))
  }

  /** x184: k-core peeling over the co-order graph — `rounds` unrolled
    * delete-below-degree-k passes (Matula & Beck's peeling, in its
    * synchronous distributed form): each round keeps only nodes whose
    * degree COUNTED OVER SURVIVING NEIGHBORS is >= k; dropped nodes
    * record their round. A fixed round count (the x82/x84 unrolled
    * discipline — the twin unrolls the same CTEs) rather than a
    * fixpoint loop: the audit column says who fell when, and a
    * production run raises `rounds` until a round drops nobody. Each
    * round is one semi-join pair + one degree aggregate on the
    * shrinking active set; per-round localCheckpoint keeps plans
    * linear.
    */
  def kcorePeel(s: SparkSession, dir: String, k: Int = 3, rounds: Int = 4,
      minSupport: Long = 2L): DataFrame =
    peel(coOrderEdges(s, dir, minSupport), k, rounds)

  /** The peeling core over a symmetric (src, dst) edge list — public to
    * the spec for planted graphs.
    */
  private[ops] def peel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val nodes0 = edges.select(col("src").as("node")).distinct().pinned
    var active = nodes0
    var removed = nodes0.limit(0).withColumn("removed_round", lit(0))
    for (r <- 1 to rounds) {
      val e = edges
        .join(active.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(active.select(col("node").as("dst")), Seq("dst"), "left_semi")
      val surv = e.groupBy(col("src")).agg(count(lit(1)).as("dg"))
        .filter(col("dg") >= k).select(col("src").as("node"))
        .pinned
      val dropped = active.join(surv, Seq("node"), "left_anti")
        .withColumn("removed_round", lit(r))
      removed = removed.unionByName(dropped).pinned
      active = surv
    }
    nodes0
      .join(active.withColumn("in_core", lit(true)), Seq("node"), "left")
      .join(removed, Seq("node"), "left")
      .select(col("node"), coalesce(col("in_core"), lit(false)).as("in_core"),
        coalesce(col("removed_round"), lit(0)).as("removed_round"))
      .orderBy(col("node"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x184_kcore_peel" -> ((s: SparkSession, dir: String) => kcorePeel(s, dir)),
    "x82_part_pagerank" -> ((s: SparkSession, dir: String) => partPagerank(s, dir)),
    "x83_bfs_hops" -> ((s: SparkSession, dir: String) => bfsHops(s, dir)),
    "x84_label_propagation" -> ((s: SparkSession, dir: String) => labelPropagation(s, dir)),
    "x88_triangle_counts" -> ((s: SparkSession, dir: String) => triangleCounts(s, dir)))

  /** The identical 5 fixed-point iterations unrolled as chained CTEs —
    * aggregation inside a recursive CTE member is not portable SQL, and
    * unrolling makes the oracle a pure function of the same integers.
    */
  private def pagerankOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      val prev = s"pr${i - 1}"
      s"""pr$i AS (
         |  SELECT d.src AS part,
         |    150000000 + (85 * COALESCE(c.contrib, 0)) // 100 AS rank_q
         |  FROM deg d LEFT JOIN (
         |    SELECT e.dst, CAST(sum(p.rank_q // dg.degree) AS BIGINT) AS contrib
         |    FROM $prev p
         |    JOIN deg dg ON dg.src = p.part
         |    JOIN edges e ON e.src = p.part
         |    GROUP BY e.dst) c ON c.dst = d.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH items0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |freq AS (SELECT l_partkey, count(*) AS pf FROM items0 GROUP BY 1),
       |items AS (
       |  SELECT l_orderkey, l_partkey FROM (
       |    SELECT i.l_orderkey, i.l_partkey,
       |      row_number() OVER (PARTITION BY i.l_orderkey
       |        ORDER BY f.pf DESC, i.l_partkey) AS rn
       |    FROM items0 i JOIN freq f USING (l_partkey))
       |  WHERE rn <= $MaxBasket),
       |pairs AS (
       |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
       |  FROM items a JOIN items b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |edges AS (SELECT pa AS src, pb AS dst FROM pairs
       |          UNION ALL SELECT pb, pa FROM pairs),
       |deg AS (SELECT src, count(*) AS degree FROM edges GROUP BY 1),
       |pr0 AS (SELECT src AS part, CAST(1000000000 AS BIGINT) AS rank_q FROM deg),
       |$steps
       |SELECT p.part AS l_partkey, d.degree, p.rank_q,
       |  CAST(p.rank_q AS DOUBLE) / 1e9 AS rank
       |FROM pr$iters p JOIN deg d ON d.src = p.part
       |ORDER BY l_partkey""".stripMargin
  }

  /** The identical min-plus hops unrolled; the hub picked by the same
    * (degree desc, part asc) rule via a window.
    */
  private def bfsOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      val prev = s"d${i - 1}"
      s"""d$i AS (
         |  SELECT d.part, least(d.dist, COALESCE(m.nd, 999)) AS dist
         |  FROM $prev d LEFT JOIN (
         |    SELECT e.dst AS part, CAST(min(p.dist + 1) AS BIGINT) AS nd
         |    FROM $prev p JOIN edges e ON e.src = p.part
         |    GROUP BY e.dst) m ON m.part = d.part)""".stripMargin
    }.mkString(",\n")
    s"""WITH items0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |freq AS (SELECT l_partkey, count(*) AS pf FROM items0 GROUP BY 1),
       |items AS (
       |  SELECT l_orderkey, l_partkey FROM (
       |    SELECT i.l_orderkey, i.l_partkey,
       |      row_number() OVER (PARTITION BY i.l_orderkey
       |        ORDER BY f.pf DESC, i.l_partkey) AS rn
       |    FROM items0 i JOIN freq f USING (l_partkey))
       |  WHERE rn <= $MaxBasket),
       |pairs AS (
       |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
       |  FROM items a JOIN items b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |edges AS (SELECT pa AS src, pb AS dst FROM pairs
       |          UNION ALL SELECT pb, pa FROM pairs),
       |deg AS (SELECT src, count(*) AS degree FROM edges GROUP BY 1),
       |hub AS (
       |  SELECT src FROM (
       |    SELECT src, row_number() OVER (ORDER BY degree DESC, src) AS rn FROM deg)
       |  WHERE rn = 1),
       |d0 AS (SELECT deg.src AS part,
       |         CAST(CASE WHEN deg.src = hub.src THEN 0 ELSE 999 END AS BIGINT) AS dist
       |       FROM deg, hub),
       |$steps
       |SELECT d.part AS l_partkey, g.degree, least(d.dist, 999) AS hops
       |FROM d$iters d JOIN deg g ON g.src = d.part
       |ORDER BY l_partkey""".stripMargin
  }

  /** The identical deterministic LPA unrolled: per step, the argmax
    * (count desc, label asc) neighbor label via a window.
    */
  private def lpaOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      val prev = s"l${i - 1}"
      s"""l$i AS (
         |  SELECT n.part, COALESCE(k.label, n.label) AS label
         |  FROM $prev n LEFT JOIN (
         |    SELECT part, label FROM (
         |      SELECT c.part, c.label,
         |        row_number() OVER (PARTITION BY c.part
         |          ORDER BY c.c DESC, c.label) AS rn
         |      FROM (SELECT e.dst AS part, p.label, count(*) AS c
         |            FROM $prev p JOIN edges e ON e.src = p.part
         |            GROUP BY 1, 2) c)
         |    WHERE rn = 1) k ON k.part = n.part)""".stripMargin
    }.mkString(",\n")
    s"""WITH items0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |freq AS (SELECT l_partkey, count(*) AS pf FROM items0 GROUP BY 1),
       |items AS (
       |  SELECT l_orderkey, l_partkey FROM (
       |    SELECT i.l_orderkey, i.l_partkey,
       |      row_number() OVER (PARTITION BY i.l_orderkey
       |        ORDER BY f.pf DESC, i.l_partkey) AS rn
       |    FROM items0 i JOIN freq f USING (l_partkey))
       |  WHERE rn <= $MaxBasket),
       |pairs AS (
       |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
       |  FROM items a JOIN items b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |edges AS (SELECT pa AS src, pb AS dst FROM pairs
       |          UNION ALL SELECT pb, pa FROM pairs),
       |l0 AS (SELECT DISTINCT src AS part, src AS label FROM edges),
       |$steps
       |SELECT part AS l_partkey, label AS community,
       |  count(*) OVER (PARTITION BY label) AS community_size
       |FROM l$iters ORDER BY l_partkey""".stripMargin
  }

  /** Triangles once each via the canonical a<b<c orientation (`pairs`
    * IS the forward edge list), per-node counts via a 3-way unnest.
    */
  private def triangleOracle: String =
    s"""WITH items0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |freq AS (SELECT l_partkey, count(*) AS pf FROM items0 GROUP BY 1),
       |items AS (
       |  SELECT l_orderkey, l_partkey FROM (
       |    SELECT i.l_orderkey, i.l_partkey,
       |      row_number() OVER (PARTITION BY i.l_orderkey
       |        ORDER BY f.pf DESC, i.l_partkey) AS rn
       |    FROM items0 i JOIN freq f USING (l_partkey))
       |  WHERE rn <= $MaxBasket),
       |pairs AS (
       |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
       |  FROM items a JOIN items b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |edges AS (SELECT pa AS src, pb AS dst FROM pairs
       |          UNION ALL SELECT pb, pa FROM pairs),
       |deg AS (SELECT src, count(*) AS degree FROM edges GROUP BY 1),
       |tri AS (
       |  SELECT p1.pa AS a, p1.pb AS b, p2.pb AS c
       |  FROM pairs p1
       |  JOIN pairs p2 ON p2.pa = p1.pb
       |  JOIN pairs p3 ON p3.pa = p1.pa AND p3.pb = p2.pb),
       |pn AS (
       |  SELECT node, count(*) AS n_triangles FROM (
       |    SELECT a AS node FROM tri
       |    UNION ALL SELECT b FROM tri
       |    UNION ALL SELECT c FROM tri)
       |  GROUP BY node)
       |SELECT d.src AS l_partkey, d.degree,
       |  COALESCE(pn.n_triangles, 0) AS n_triangles,
       |  CASE WHEN d.degree < 2 THEN 0.0
       |       ELSE 2.0 * CAST(COALESCE(pn.n_triangles, 0) AS DOUBLE)
       |            / (CAST(d.degree AS DOUBLE) * CAST(d.degree - 1 AS DOUBLE)) END
       |    AS clustering
       |FROM deg d LEFT JOIN pn ON pn.node = d.src
       |ORDER BY l_partkey""".stripMargin

  /** x184's twin: the same capped-basket edge CTEs as pagerank, then
    * the peeling rounds unrolled — per round, edges restricted to the
    * surviving set, a degree count, the >= k filter, and the dropped
    * nodes stamped with their round.
    */
  private def kcoreOracle(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      val prev = s"a${r - 1}"
      s"""e$r AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM edges e
         |  JOIN $prev s ON s.node = e.src JOIN $prev t ON t.node = e.dst),
         |a$r AS MATERIALIZED (
         |  SELECT src AS node FROM (SELECT src, count(*) AS dg FROM e$r GROUP BY src)
         |  WHERE dg >= $k),
         |r$r AS MATERIALIZED (
         |  SELECT node, $r AS rr FROM $prev
         |  WHERE node NOT IN (SELECT node FROM a$r))""".stripMargin
    }.mkString(",\n")
    val unionRemoved = (1 to rounds).map(r => s"SELECT * FROM r$r").mkString(" UNION ALL ")
    s"""WITH items0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |freq AS (SELECT l_partkey, count(*) AS pf FROM items0 GROUP BY 1),
       |items AS (
       |  SELECT l_orderkey, l_partkey FROM (
       |    SELECT i.l_orderkey, i.l_partkey,
       |      row_number() OVER (PARTITION BY i.l_orderkey
       |        ORDER BY f.pf DESC, i.l_partkey) AS rn
       |    FROM items0 i JOIN freq f USING (l_partkey))
       |  WHERE rn <= $MaxBasket),
       |pairs AS (
       |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
       |  FROM items a JOIN items b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |edges AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pairs
       |          UNION ALL SELECT pb, pa FROM pairs),
       |a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
       |$steps,
       |removed AS ($unionRemoved)
       |SELECT n.node,
       |  n.node IN (SELECT node FROM a$rounds) AS in_core,
       |  CAST(coalesce(rm.rr, 0) AS INT) AS removed_round
       |FROM a0 n LEFT JOIN removed rm ON rm.node = n.node
       |ORDER BY n.node""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "x184_kcore_peel" -> kcoreOracle(3, 4),
    "x82_part_pagerank" -> pagerankOracle(5),
    "x83_bfs_hops" -> bfsOracle(4),
    "x84_label_propagation" -> lpaOracle(3),
    "x88_triangle_counts" -> triangleOracle)
}
