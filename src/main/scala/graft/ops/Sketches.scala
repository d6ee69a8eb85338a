package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{SessionMemo, Tables}
import graft.engine.Pin.PinOps
import graft.plans.TopKPerKey

/** Sketch/approximate aggregates — the cardinality and quantile shapes
  * that replace exact (shuffle-heavy) computation at 100 TB:
  *
  *   - `approx_count_distinct` (HyperLogLog++): mergeable fixed-size
  *     sketch, map-side combinable, constant memory per group — the only
  *     sane distinct-count at corpus scale (exact distinct shuffles every
  *     value once);
  *   - `percentile_approx` (KLL-style): mergeable quantile sketch;
  *   - exact `percentile` kept alongside as the correctness anchor.
  *
  * The approximate results are Spark-implementation-specific, so the
  * driver records rows-only; SketchesSpec bounds their error against the
  * exact answers (HLL++ with default rsd=0.05 — and the fixed hash makes
  * the measurement deterministic).
  */
object Sketches {

  /** Spread an already-projected narrow frame to the session's
    * parallelism when the source arrives under-split (the Tables.split
    * contract, applied AFTER column pruning so the exchange carries
    * only the aggregated columns). Identity when the input is already
    * at or above the session's parallelism.
    */
  private def spreadNarrow(s: SparkSession, df: DataFrame): DataFrame = {
    val p = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df else df.repartition(p)
  }

  /** Exact vs approximate distinct users and value percentiles per
    * event_type — output shaped so the whole row hash-gates: the exact
    * legs (count, distinct count) compare against DuckDB outright, and
    * each sketch contributes a BOUND-CHECK boolean computed genuinely on
    * the Spark side (HLL++ and KLL are deterministic under Spark's fixed
    * hash, so the flags are stable) that the oracle pins to TRUE — the
    * sketch's accuracy contract is part of the hashed result, the x12
    * verification-grade pattern. A broken sketch flips a flag and fails
    * the hash; SketchesSpec additionally measures the actual error.
    *
    *   - `n_users_approx_ok`: HLL++ estimate within 3×rsd (rsd=0.05);
    *   - `p50_approx_ok`: the KLL-style median (accuracy 10000, rank
    *     error ≤ n/10000) lands between the exact 45th and 55th
    *     percentiles — both sides of the bound are Spark-side only, so
    *     their interpolation arithmetic never meets the oracle.
    */
  def eventSketches(s: SparkSession, dir: String): DataFrame =
    // Project-then-spread before the aggregate (r19 optimization round,
    // guide §2.3 project before the exchange + §2 scale-adaptive
    // parallelism): the events fixture is one parquet row group, so the
    // partial aggregates — the countDistinct expand plus the
    // percentile/HLL buffers, the heavy part of this query — otherwise
    // run on ONE core; and the spread must carry ONLY the three
    // aggregated columns (a whole-row repartition ships the props map,
    // measured 5x worse than no spread at all). Identity on a
    // production corpus with >= cores input splits. Aggregate results
    // are partitioning-independent: count/countDistinct/exact-
    // percentile are exact, HLL merge is commutative, and
    // percentile_approx feeds only the tolerant p45..p55 gate boolean.
    spreadNarrow(s,
      Tables(s, dir, "events")
        .select(col("event_type"), col("user_id"), col("value")))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users_exact"),
        approx_count_distinct(col("user_id")).as("n_users_approx"),
        expr("percentile(value, 0.45)").as("p45"),
        expr("percentile(value, 0.55)").as("p55"),
        expr("percentile_approx(value, 0.5, 10000)").as("p50_approx"))
      .select(col("event_type"), col("n_events"), col("n_users_exact"),
        (abs(col("n_users_approx").cast("double") - col("n_users_exact").cast("double"))
          <= lit(0.15) * col("n_users_exact").cast("double")).as("n_users_approx_ok"),
        (col("p50_approx").between(col("p45"), col("p55"))).as("p50_approx_ok"))
      .orderBy(col("event_type"))

  /** Heavy hitters via count-min sketch: one fixed-size mergeable sketch
    * over the exploded token stream (map-side combinable — the sketch,
    * not the tokens, rides the shuffle), then point estimates for the
    * exact top-k tokens next to their true counts. At 100 TB the exact
    * leg disappears and the CMS answers "how often does X occur" from
    * kilobytes of state; here the exact counts are the spec's reference.
    */
  def tokenHeavyHitters(s: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import s.implicits._
    val toks = Tables(s, dir, "documents")
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
    val bytes = toks
      .agg(expr("count_min_sketch(token, 0.001d, 0.99d, 42)"))
      .head().getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(bytes))
    val exactTop = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("token"))
      .limit(k)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    exactTop.toSeq
      .map { case (t, n) => (t, n, cms.estimateCount(t)) }
      .toDF("token", "n_exact", "n_est")
  }

  /** q41's driver-gated form (the q29 discipline): the exact top-k
    * compares against DuckDB outright, and the CMS point estimate rides
    * as its bound-check boolean — est in [exact, exact + ceil(eps*N)] —
    * which is DETERMINISTIC under the fixed sketch seed, so the twin
    * pins it TRUE. SketchesSpec keeps measuring the raw estimates.
    */
  def heavyHittersGated(s: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val n = Tables(s, dir, "documents")
      .select(explode(split(trim(lower(col("text"))), "\\s+")))
      .count()
    val slack = math.ceil(0.001 * n).toLong
    tokenHeavyHitters(s, dir, k)
      .select(col("token"), col("n_exact"),
        (col("n_est") >= col("n_exact") &&
          col("n_est") <= col("n_exact") + lit(slack)).as("est_ok"))
      .orderBy(col("n_exact").desc, col("token"))
  }

  /** Exact percentiles by the order-statistic definition (the value at
    * rank ceil(p*n) under a TOTAL order — percentile_disc semantics,
    * no interpolation): deterministic and engine-portable, so unlike the
    * interpolating `percentile`/`quantile_cont` pair (whose float
    * arithmetic orders differ across engines) this one hash-compares
    * against DuckDB outright. One window shuffle per key; the rank
    * filter reduces in the same hash-aggregate.
    */
  def exactPercentiles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byType = Window.partitionBy(col("event_type"))
    val w = byType.orderBy(col("value"), col("event_id"))
    def atRank(p: Double) =
      max(when(col("rn") === ceil(lit(p) * col("n")), col("value")))
    Tables(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(byType))
      .groupBy(col("event_type"))
      .agg(
        max(col("n")).as("n_events"),
        atRank(0.5).as("p50"), atRank(0.9).as("p90"), atRank(0.99).as("p99"))
      .orderBy(col("event_type"))
  }

  /** Incremental distinct-count maintenance with mergeable HLL sketches
    * (DataSketches HllSketch): per-day partial sketches — the artifact a
    * daily pipeline would PERSIST next to its day partition — then the
    * overall distinct estimate from `hll_union_agg` over the partials,
    * never re-reading raw history. At 100 TB: each daily run aggregates
    * only its own day; the running total is a union of kilobyte sketches.
    * Rows-only (sketch internals are engine-specific); SketchesSpec
    * proves union-of-partials == one-shot sketch and bounds the error
    * vs exact.
    */
  def hllDailyMerge(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        hll_sketch_agg(col("user_id")).as("sk"),
        countDistinct(col("user_id")).as("n_users_day_exact"))
    val merged = daily.agg(
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("n_users_total_est"))
    // exact global distinct: the VERIFICATION anchor (at 100 TB this leg
    // is dropped and the union-of-partials estimate IS the product); like
    // q29, the estimates ride along as bound-check booleans the oracle
    // pins to TRUE — DataSketches HLL at the default lgK=12 has
    // rsd ≈ 1.6%, so 10% is a ≥6σ bound — making the whole row hash-gate
    val exactTotal = Tables(s, dir, "events")
      .agg(countDistinct(col("user_id")).as("n_users_total_exact"))
    def withinPct(est: org.apache.spark.sql.Column, exact: org.apache.spark.sql.Column) =
      abs(est.cast("double") - exact.cast("double")) <= lit(0.10) * exact.cast("double")
    daily
      .select(col("day"), col("n_users_day_exact"),
        withinPct(hll_sketch_estimate(col("sk")), col("n_users_day_exact"))
          .as("day_est_ok"))
      .crossJoin(merged)   // 1-row frames, lazy — never a driver collect
      .crossJoin(exactTotal)
      .select(col("day"), col("n_users_day_exact"), col("day_est_ok"),
        col("n_users_total_exact"),
        withinPct(col("n_users_total_est"), col("n_users_total_exact"))
          .as("total_est_ok"))
      .orderBy(col("day"))
  }

  /** q81: sketch-based join-cardinality estimation — the planner
    * statistic that decides broadcast-vs-shuffle and pre-sizes shuffle
    * partitions WITHOUT running the join. |A ⋈ B| on key k is
    * Σ_k cntA(k)·cntB(k), which is exactly the inner product of the two
    * key-frequency vectors; the count-min estimate (Cormode &
    * Muthukrishnan 2005 §4.2) is min over hash rows of the bucketed
    * inner product, and it NEVER underestimates — collisions only add.
    * The sketch here is built relationally with the md5-derived hash
    * BOTH engines can compute (the kmCte seed trick), so every number
    * is integer-exact and the whole row hash-gates: depth·width counts
    * per side (768 keyed rows regardless of input size — map-side
    * combinable, the sketch rides the shuffle, not the keys), one
    * 768-row join, a min. `overestimate_ok` is pinned TRUE by the
    * estimator's one-sided guarantee. BIGINT is safe to ~3e9·√width
    * rows per side; past that the products move to DECIMAL(38,0).
    */
  def joinCardEst(s: SparkSession, dir: String,
      depth: Int = 3, width: Int = 256): DataFrame = {
    val ests = cmsJoinSketch(s, dir, depth, width)
    val minEst = ests.agg(min(col("est_i")).as("est"))
    // the verification anchor — at scale this leg is what the estimate
    // REPLACES; 1-row frames, lazy, never a driver collect
    val exact = Tables(s, dir, "orders").select(col("o_orderkey"))
      .join(Tables(s, dir, "lineitem").select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"))
      .agg(count(lit(1)).as("n_exact"))
    ests.crossJoin(minEst).crossJoin(exact)
      .select(col("i"), col("est_i"), col("est"), col("n_exact"),
        (col("est_i") >= col("n_exact")).as("overestimate_ok"))
      .orderBy(col("i"))
  }

  private val cmsCache = SessionMemo[(String, Int, Int), DataFrame]("Sketches.cms")

  /** The CMS inner-product rows both q81 forms share: one scan per
    * side, depth·width keyed counts on the shuffle, a 768-row join —
    * checkpointed and memoized per (session, dir, depth, width) so the
    * audit and served registrations build it once (the mvCache
    * discipline for immutable per-dataset artifacts).
    */
  private def cmsJoinSketch(s: SparkSession, dir: String,
      depth: Int, width: Int): DataFrame =
    cmsCache(s, (dir, depth, width))(cmsJoinSketchBuild(s, dir, depth, width))

  private def cmsJoinSketchBuild(s: SparkSession, dir: String,
      depth: Int, width: Int): DataFrame = {
    def sketch(df: DataFrame, key: org.apache.spark.sql.Column,
        cnt: String): DataFrame =
      df.select(key.cast("string").as("k"))
        .select(col("k"), explode(sequence(lit(0), lit(depth - 1))).as("i"))
        .select(col("i"),
          pmod(graft.ext.TextAnalysis.tokenHash(
            concat(lit("cms:"), col("i").cast("string"), lit(":"), col("k"))),
            lit(width.toLong)).as("bucket"))
        .groupBy(col("i"), col("bucket")).agg(count(lit(1)).as(cnt))
    val sa = sketch(Tables(s, dir, "orders"), col("o_orderkey"), "ca")
    val sb = sketch(Tables(s, dir, "lineitem"), col("l_orderkey"), "cb")
    // `depth` rows total — checkpoint so the min-over-rows leg reuses
    // them instead of re-scanning both sides for a 3-row aggregate
    sa.join(sb, Seq("i", "bucket"))
      .groupBy(col("i")).agg(sum(col("ca") * col("cb")).as("est_i"))
      .pinned
  }

  /** q81's SERVING form: the estimate alone — what a planner actually
    * runs at 100 TB. No exact anchor leg: each side is scanned exactly
    * once (the sketch build), and SketchPlanSpec gates that scan count.
    * The audit form (`joinCardEst`, unchanged) keeps the exact leg for
    * the correctness story; this one is the production cost.
    */
  def joinCardServed(s: SparkSession, dir: String,
      depth: Int = 3, width: Int = 256): DataFrame = {
    val ests = cmsJoinSketch(s, dir, depth, width)
    val minEst = ests.agg(min(col("est_i")).as("est"))
    ests.crossJoin(broadcast(minEst))
      .select(col("i"), col("est_i"), col("est"))
      .orderBy(col("i"))
  }

  /** x206: histogram-based join-cardinality estimation (the System-R
    * / Selinger 1979 statistic, the planner's OTHER classic next to
    * q81's CMS): both join sides bucket into B equi-width slots over
    * the shared key range (min/max only — two exact aggregates, the
    * scale-safe build), and each bucket contributes
    * nₐ·n_b / max(ndvₐ, ndv_b) under the uniform-within-bucket
    * assumption. Output: per bucket the counts, exact NDVs and
    * contribution, plus the total estimate, the exact anchor
    * |orders ⋈ customer| (the verification leg the estimate replaces
    * at scale) and the ratio.
    *
    * Shape: two bucket-grain aggregates (count + exact NDV per
    * bucket), one B-row join, the total as a pinned ascending-bucket
    * fold (double sum order matters); the exact anchor is one key
    * join + count.
    */
  def histJoinEst(s: SparkSession, dir: String, buckets: Int = 16): DataFrame = {
    val a = Tables(s, dir, "orders").select(col("o_custkey").as("k"))
    val b = Tables(s, dir, "customer").select(col("c_custkey").as("k"))
    val (joined, total) = histBuckets(a, b, buckets)
    val exact = a.join(b, Seq("k")).agg(count(lit(1)).as("n_exact"))
    joined.crossJoin(broadcast(total)).crossJoin(broadcast(exact))
      .select(col("bucket"), col("na"), col("nb"), col("ndva"), col("ndvb"),
        col("contrib"), col("est_total"), col("n_exact"),
        (col("est_total") / col("n_exact").cast("double")).as("ratio"))
      .orderBy(col("bucket"))
  }

  /** The per-bucket rows + pinned-fold total both x206 forms share. */
  private def histBuckets(a: DataFrame, b: DataFrame,
      buckets: Int): (DataFrame, DataFrame) = {
    val bounds = a.unionByName(b)
      .agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
    def side(df: DataFrame, n: String, v: String): DataFrame =
      df.crossJoin(broadcast(bounds))
        .select(floor(((col("k") - col("lo")) * buckets).cast("double")
          / (col("hi") - col("lo") + 1L).cast("double")).cast("long").as("bucket"),
          col("k"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as(n), countDistinct(col("k")).as(v))
    val joined = side(a, "na", "ndva").join(side(b, "nb", "ndvb"), Seq("bucket"))
      .withColumn("contrib",
        (col("na") * col("nb")).cast("double") /
          greatest(col("ndva"), col("ndvb")).cast("double"))
      .pinned
    val total = joined.groupBy()
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("bucket"), col("contrib")))),
          e => e.getField("contrib")),
        lit(0.0), (acc, v) => acc + v).as("est_total"))
    (joined, total)
  }

  /** x212: EQUI-DEPTH histogram join estimate — the skew-robust
    * companion to x206's equi-width buckets (Piatetsky-Shapiro &
    * Connell 1984; every System-R descendant ships both). Equi-width
    * buckets degrade under key skew: one hot bucket holds most rows
    * and the uniform-within-bucket assumption collapses. Equi-depth
    * bounds come from the build side's DISTINCT-key quantiles — each
    * bucket holds ~ndv/B distinct keys by construction, so no bucket
    * can hide a distribution.
    *
    * Deterministic spelling both engines share: distinct orders keys
    * ranked (row_number is unique on distinct keys — no tie ambiguity),
    * bucket = floor((rn-1)·B/ndv), per-bucket hi = max key; rows from
    * both sides assign by the half-open (lo, hi] interval via a
    * B-row broadcast bounds join; per bucket the x206 algebra
    * na·nb/max(ndva, ndvb), the total as the pinned ascending fold.
    * Serving form only (no exact anchor — the x206/q81 advisory made
    * policy); SketchesSpec prices the estimate against the exact
    * count and against x206 under the fixture's skew.
    */
  def histEquiDepthEst(s: SparkSession, dir: String, buckets: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = Tables(s, dir, "orders").select(col("o_custkey").as("k"))
    val b = Tables(s, dir, "customer").select(col("c_custkey").as("k"))
    // rank distinct keys WITHOUT a global window
    val (dk, ndv) = TopKPerKey.denseNumber(a.distinct(), Seq(col("k")), "rn")
    val bounds = dk
      .withColumn("bucket", floor((col("rn") - 1) * buckets / lit(ndv)))
      .groupBy(col("bucket")).agg(max(col("k")).as("hi"))
      .withColumn("lo", lag(col("hi"), 1).over(Window.orderBy(col("bucket"))))
      .pinned // B rows — the broadcastable boundary frame
    def side(df: DataFrame, n: String, v: String): DataFrame =
      df.crossJoin(broadcast(bounds))
        .filter(col("k") <= col("hi") &&
          (col("lo").isNull || col("k") > col("lo")))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as(n), countDistinct(col("k")).as(v))
    val joined = side(a, "na", "ndva").join(side(b, "nb", "ndvb"), Seq("bucket"))
      .withColumn("contrib",
        (col("na") * col("nb")).cast("double") /
          greatest(col("ndva"), col("ndvb")).cast("double"))
      .pinned
    val total = joined.groupBy()
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("bucket"), col("contrib")))),
          e => e.getField("contrib")),
        lit(0.0), (acc, v) => acc + v).as("est_total"))
    joined.crossJoin(broadcast(total))
      .select(col("bucket"), col("na"), col("nb"), col("ndva"), col("ndvb"),
        col("contrib"), col("est_total"))
      .orderBy(col("bucket"))
  }

  /** x215: SAMPLE-based join-cardinality estimation — the third
    * classic next to q81's CMS and x206/x212's histograms (the
    * end-biased/sample estimators of Haas et al. '96): Bernoulli-
    * sample both sides at rate p with a DETERMINISTIC hash coin
    * (md5 of a salted key — both engines flip the same coins, so the
    * estimate itself hash-gates), join the samples, scale by 1/p².
    * The correlated-sampling refinement rides along: sampling by a
    * hash of the JOIN KEY (same coin both sides) keeps matching pairs
    * together, turning the estimator exact-on-sampled-keys —
    * est = |join of key-sampled sides| / p (one p, not p²) with far
    * lower variance on FK joins. Output: both estimators' counts and
    * scaled estimates. Serving form (no exact anchor, per the r13
    * policy); SketchesSpec prices both against the exact count.
    *
    * Scale shape: the sample filters push to the scans, the joined
    * samples are p²·|join| and p·|join| rows, and nothing else
    * shuffles. This is the estimator you run when you can afford a
    * pass over p of the data but not a CMS build's full scan.
    */
  def sampleJoinEst(s: SparkSession, dir: String, pct: Int = 10): DataFrame = {
    require(pct >= 1 && pct <= 100, s"sampleJoinEst: pct must be in [1,100], got $pct")
    val p = pct.toLong
    // double scale factor: 100/p in LONG space floors for any pct that
    // does not divide 100 (e.g. 3 → 33 instead of 33.33…), biasing both
    // estimators low
    val scale = 100.0 / pct
    def coin(c: org.apache.spark.sql.Column, salt: String) =
      pmod(graft.ext.TextAnalysis.tokenHash(
        concat(lit(salt), c.cast("string"))), lit(100L)) < p
    // ONE tagged join for both estimators (r20 optimization round —
    // guide §2.4: two joins keyed the same way share one exchange/scan):
    // each side is scanned once, keeps any row at least one estimator
    // samples, and carries its coin flags; the join filters to pairs
    // some estimator accepts and one aggregate counts both. The coin
    // functions and therefore the sampled row sets and both counts are
    // bit-identical to the previous two-join form (the independent
    // count tests coinA(o) AND coinB(l), the correlated count coinK on
    // both sides — exactly the predicates the two joins applied).
    // Previously: 4 scans (each md5-hashing every row), 2 joins, 2
    // aggregates, 1 cross join.
    val a = Tables(s, dir, "orders").select(col("o_orderkey").as("k"),
        coin(col("o_orderkey"), "smpA:").as("ca"),
        coin(col("o_orderkey"), "smpK:").as("cka"))
      .filter(col("ca") || col("cka"))
    val b = Tables(s, dir, "lineitem").select(col("l_orderkey").as("k"),
        coin(col("l_orderkey"), "smpB:").as("cb"),
        coin(col("l_orderkey"), "smpK:").as("ckb"))
      .filter(col("cb") || col("ckb"))
    a.join(b, Seq("k"))
      .filter((col("ca") && col("cb")) || (col("cka") && col("ckb")))
      // coalesce: the old per-estimator count(lit(1)) was 0 (and
      // non-nullable) on an empty sampled join; sum over an empty group
      // is NULL — guard so the one-row output is bit-identical
      .agg(coalesce(sum(when(col("ca") && col("cb"), 1L).otherwise(0L)), lit(0L)).as("n_ind"),
        coalesce(sum(when(col("cka") && col("ckb"), 1L).otherwise(0L)), lit(0L)).as("n_cor"))
      .select(lit(pct).as("pct"), col("n_ind"), col("n_cor"),
        (col("n_ind").cast("double") * lit(scale) * lit(scale)).as("est_independent"),
        (col("n_cor").cast("double") * lit(scale)).as("est_correlated"))
  }

  /** x206's SERVING form: histogram estimate without the exact join
    * anchor — each side is scanned exactly twice (bounds + bucketing;
    * the audit form adds a third scan for the anchor). At 100 TB the
    * anchor IS the join being estimated, so the serving plan must not
    * contain it; SketchPlanSpec gates the scan counts.
    */
  def histJoinServed(s: SparkSession, dir: String, buckets: Int = 16): DataFrame = {
    val a = Tables(s, dir, "orders").select(col("o_custkey").as("k"))
    val b = Tables(s, dir, "customer").select(col("c_custkey").as("k"))
    val (joined, total) = histBuckets(a, b, buckets)
    joined.crossJoin(broadcast(total))
      .select(col("bucket"), col("na"), col("nb"), col("ndva"), col("ndvb"),
        col("contrib"), col("est_total"))
      .orderBy(col("bucket"))
  }

  // -------------------------------------------------------------------
  // x171: KMV (bottom-k) sketch set algebra for cross-source overlap
  // -------------------------------------------------------------------

  /** Per-(source, pair) KMV set algebra over pre-hashed elements
    * (source, h): per-source bottom-k sketches (one rank window per
    * source — no all-elements single-reducer sort), then for every
    * source pair the classic KMV estimators (Bar-Yossef et al.
    * RANDOM'02; Beyer et al. SIGMOD'07):
    *
    *   - union sketch = bottom-k of the two sketches' union (a k-sized
    *     merge — sketch algebra never touches the corpus again);
    *   - `est_union` = (k-1)·2^60/τ with τ the k-th smallest (the
    *     unbiased KMV cardinality estimator over the 60-bit md5 hash
    *     space), degraded to the EXACT count when the union sketch
    *     holds fewer than k elements (the sketch then IS the set);
    *   - ρ = union-sketch members present in BOTH sketches (exact for
    *     bottom-k members: x ∈ K(A∪B) ∧ x ∈ A ⇒ x ∈ K_A, since x
    *     ranks ≤ k in any containing set);
    *   - `est_jaccard` = ρ/|K(A∪B)|, `est_intersection` = est_jaccard ·
    *     est_union.
    *
    * The exact union/intersection legs ride along as the audit anchors
    * (the q81 discipline: the expensive truth the sketch replaces,
    * affordable at gate scale). Everything is deterministic — the md5
    * tokenHash is the cross-engine 60-bit integer — so the whole row
    * hash-gates, estimates included.
    *
    * 100 TB shape: one pass builds all per-source sketches (k longs per
    * source in the aggregate state); pair algebra is O(pairs·k) on
    * broadcast-sized frames. Cross-source content overlap without ever
    * joining corpora.
    */
  def bottomkPairs(el: DataFrame, k: Int): DataFrame =
    bottomkPairs(el, k, withAnchor = true)

  /** `withAnchor = false` is the SERVING form: the sketch algebra and
    * the linear per-source counts only — the corpus-sized self-join on
    * `h` (exact_intersection / exact_union, the audit anchor) is
    * omitted, so the element frame is read exactly twice (sketch build
    * + per-source counts) instead of four times. At 100 TB the anchor
    * is the overlap join the sketch exists to avoid.
    */
  def bottomkPairs(el: DataFrame, k: Int, withAnchor: Boolean): DataFrame = {
    val sk = TopKPerKey.ranked(el, Seq(col("source")), Seq(col("h").asc), k)
      .select(col("source"), col("h"))
      .pinned // k rows per source: the published sketches
    // one row per source — checkpoint so the twin n_a/n_b joins don't
    // each re-scan the element frame
    val nExact = el.groupBy(col("source")).agg(count(lit(1)).as("n_exact"))
      .pinned
    val srcs = sk.select(col("source")).distinct()
    val prs = srcs.select(col("source").as("source_a"))
      .crossJoin(srcs.select(col("source").as("source_b")))
      .filter(col("source_a") < col("source_b"))
    val ua = prs.join(sk, col("source") === col("source_a"))
      .select(col("source_a"), col("source_b"), col("h"))
    val ub = prs.join(sk, col("source") === col("source_b"))
      .select(col("source_a"), col("source_b"), col("h"))
    val u = ua.unionByName(ub).distinct()
    // ≤ 2k rows per pair by construction — the window is sketch-sized
    val kk = TopKPerKey.ranked(u, Seq(col("source_a"), col("source_b")), Seq(col("h").asc), k)
      .select(col("source_a"), col("source_b"), col("h"))
    val skA = sk.select(col("source").as("source_a"), col("h"), lit(1).as("in_a"))
    val skB = sk.select(col("source").as("source_b"), col("h"), lit(1).as("in_b"))
    val mem = kk.join(skA, Seq("source_a", "h"), "left")
      .join(skB, Seq("source_b", "h"), "left")
    val agg = mem.groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_union_sketch"), max(col("h")).as("tau_union"),
        sum(when(col("in_a").isNotNull && col("in_b").isNotNull, 1L).otherwise(0L))
          .as("rho"))
    val core = prs
      .join(nExact.select(col("source").as("source_a"), col("n_exact").as("n_a")),
        Seq("source_a"))
      .join(nExact.select(col("source").as("source_b"), col("n_exact").as("n_b")),
        Seq("source_b"))
      .join(agg, Seq("source_a", "source_b"))
      .withColumn("est_union",
        when(col("n_union_sketch") < k, col("n_union_sketch").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(math.pow(2, 60))
            / col("tau_union").cast("double")))
      .withColumn("est_jaccard",
        col("rho").cast("double") / col("n_union_sketch").cast("double"))
    val estCols = Seq(col("source_a"), col("source_b"), lit(k).as("k"),
      col("n_a"), col("n_b"), col("n_union_sketch"), col("tau_union"), col("rho"),
      col("est_union"), col("est_jaccard"),
      (col("est_jaccard") * col("est_union")).as("est_intersection"))
    if (!withAnchor)
      core.select(estCols: _*).orderBy(col("source_a"), col("source_b"))
    else {
      val exi = el.select(col("source").as("source_a"), col("h"))
        .join(el.select(col("source").as("source_b"), col("h")), Seq("h"))
        .filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("exact_intersection"))
      core.join(exi, Seq("source_a", "source_b"), "left")
        .withColumn("exact_intersection",
          coalesce(col("exact_intersection"), lit(0L)))
        .select(estCols ++ Seq(
          (col("n_a") + col("n_b") - col("exact_intersection")).as("exact_union"),
          col("exact_intersection")): _*)
        .orderBy(col("source_a"), col("source_b"))
    }
  }

  /** x171: cross-source 3-gram-content overlap via KMV sketches over the
    * first `numSources` document sources — elements are the distinct
    * (source, md5-60-bit shingle hash) pairs.
    */
  // private[ops]: the artifact spec observes WHICH frame a cold
  // consumer resolved (the overlap result's lineage is checkpoint-cut,
  // so inputFiles must be read off the cached element frame itself)
  private[ops] val elCache = SessionMemo[(String, Int), DataFrame]("Sketches.el")

  /** The distinct (source, md5-60-bit shingle hash) element frame over
    * the first `numSources` sources — the lane's expensive build (corpus
    * scan + 3-gram shingle + per-shingle md5 + distinct; it CANNOT reuse
    * the session shingle postings, which hash with xxhash64 — the KMV
    * twin needs the md5 60-bit hash for DuckDB parity). A pure function
    * of the corpus, so it is a publish-time [[graft.engine.CorpusArtifact]]
    * (the SA-artifact pattern): built once per corpus state, read back as
    * a parquet scan by every later session — exactly the published-sketch
    * posture the lane documents for 100 TB.
    */
  private def kmvElementName(numSources: Int) = s"kmvel$numSources"

  private def kmvElementsBuild(s: SparkSession, dir: String,
      numSources: Int): DataFrame = {
    val srcs = (0 until numSources).map("src" + _)
    Tables(s, dir, "documents")
      .filter(col("source").isin(srcs: _*))
      .select(col("source"),
        explode(graft.ext.Dedup.wordShingles(
          graft.ext.TextAnalysis.wsTokens(lower(col("text"))), 3)).as("g"))
      .select(col("source"), graft.ext.TextAnalysis.tokenHash(col("g")).as("h"))
      .distinct()
  }

  /** Publish-time ensure for the element artifact — part of
    * [[graft.Bench.ensureArtifacts]], next to `ensureSa`. Returns the
    * committed version.
    */
  def ensureKmvElements(s: SparkSession, dir: String,
      numSources: Int = 6): Long = {
    val v = graft.engine.CorpusArtifact.ensure(s, dir,
      kmvElementName(numSources))(kmvElementsBuild(s, dir, numSources))
    elCache.put(s, (dir, numSources),
      graft.engine.CorpusArtifact.resolve(s, dir,
        kmvElementName(numSources)).get): Unit
    v
  }

  def bottomkOverlap(s: SparkSession, dir: String, numSources: Int = 6,
      k: Int = 128, withAnchor: Boolean = true): DataFrame = {
    // resolution order: L1 session cache, committed artifact for this
    // corpus state, in-session build (checkpointed — the audit and
    // served registrations share one materialization either way)
    val el = elCache(s, (dir, numSources))(
      graft.engine.CorpusArtifact.resolve(s, dir, kmvElementName(numSources))
        .getOrElse(kmvElementsBuild(s, dir, numSources).pinned))
    bottomkPairs(el, k, withAnchor)
  }

  /** x175: daily q-digest quantile partials, merged — the quantile
    * counterpart of q50's HLL daily merge, on OUR OWN mergeable summary
    * ([[graft.functions.QDigest]]): per-day byte-blob partials (the
    * artifact a daily pipeline persists next to its day partition), a
    * count-addition union across days, and running p50/p90/p99 read
    * from the union — history is never re-read. Values quantize to
    * integer cents (floor(v·100 + 0.5), the identical expression on
    * both engines).
    *
    * Gate shape (the q29 discipline): the exact order-statistic legs —
    * computed here as ONE global rank window, the verification anchor a
    * 100 TB run drops in favor of the digest — hash-compare outright,
    * and each digest estimate rides as a bound-check boolean the twin
    * pins TRUE: the estimate must land inside the exact ±5%-rank value
    * window, a ≥5× margin over the digest's bits·n/σ ≈ 0.9% guarantee
    * (kept wide so the gate is a theorem, not a fixture fit). The spec
    * measures the raw error and the merge-grouping invariance.
    */
  def qdigestDaily(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.{QDigest, QDigestAgg, QDigestMergeAgg}
    val build = udaf(new QDigestAgg(), org.apache.spark.sql.Encoders.scalaLong)
    val merge = udaf(new QDigestMergeAgg(),
      org.apache.spark.sql.Encoders.BINARY)
    val ev = Tables(s, dir, "events")
      .select(to_date(col("ts")).as("day"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("qv"),
        col("event_id"))
    val partials = ev.groupBy(col("day")).agg(build(col("qv")).as("sk"))
    val blob = partials.agg(merge(col("sk"))).head().getAs[Array[Byte]](0)
    val digest = QDigest.fromBytes(blob)
    val targets = Seq(
      (0.50, 0.45, 0.55, digest.quantile(0.50)),
      (0.90, 0.85, 0.95, digest.quantile(0.90)),
      (0.99, 0.94, 1.00, digest.quantile(0.99)))
    val w = Window.orderBy(col("qv"), col("event_id"))
    val ranked = ev
      .withColumn("rn", row_number().over(w).cast(LongType))
      .crossJoin(broadcast(ev.agg(count(lit(1)).as("n_events"))))
      .pinned
    import s.implicits._
    val tdf = targets.toDF("q", "q_lo", "q_hi", "est")
    tdf.join(ranked,
      col("rn") === ceil(col("q") * col("n_events")).cast(LongType))
      .select(col("q"), col("n_events"), col("qv").as("exact_value"),
        col("q_lo"), col("q_hi"), col("est"))
      .join(ranked.select(col("rn").as("rn_lo"), col("qv").as("exact_lo")),
        ceil(col("q_lo") * col("n_events")).cast(LongType) === col("rn_lo"))
      .join(ranked.select(col("rn").as("rn_hi"), col("qv").as("exact_hi")),
        ceil(col("q_hi") * col("n_events")).cast(LongType) === col("rn_hi"))
      .select(col("q"), col("n_events"), col("exact_lo"), col("exact_value"),
        col("exact_hi"),
        (col("est") >= col("exact_lo") && col("est") <= col("exact_hi"))
          .as("est_ok"))
      .orderBy(col("q"))
  }

  /** x222: daily KLL quantile partials, merged — the DataSketches-style
    * interchange sketch next to x175's q-digest ([[graft.functions
    * .KllSketch]]: unbounded ordered domain, O(k·log n) items, the
    * publish format quantile state actually crosses systems in). Same
    * daily-pipeline posture and the same gate shape as x175: per-day
    * byte-blob partials, one level-concatenating merge across days, and
    * the exact order-statistic legs — computed as ONE global rank
    * window — hash-compare while each sketch estimate rides as a
    * bound-check boolean the twin pins TRUE inside the exact ±5%-rank
    * value window (a ≥5× margin over the k=512 compaction error).
    *
    * The MERGE-PARITY leg this lane adds over x175: the same quantile
    * is also read from a single whole-stream build (no daily split),
    * and `whole_ok` pins that BOTH serving paths — merged partials and
    * monolithic rebuild — land inside the same exact window, the
    * merge-equals-rebuild discipline x128 applies to BM25, here in its
    * bound-check form (KLL compaction schedules differ between the two
    * paths, so byte equality is not the invariant; the error envelope
    * is).
    */
  def kllDaily(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.{KllSketch, KllAgg, KllMergeAgg}
    val build = udaf(new KllAgg(), org.apache.spark.sql.Encoders.scalaLong)
    val merge = udaf(new KllMergeAgg(), org.apache.spark.sql.Encoders.BINARY)
    val ev = Tables(s, dir, "events")
      .select(to_date(col("ts")).as("day"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("qv"),
        col("event_id"))
    val partials = ev.groupBy(col("day")).agg(build(col("qv")).as("sk"))
    val merged = KllSketch.fromBytes(
      partials.agg(merge(col("sk"))).head().getAs[Array[Byte]](0))
    val whole = KllSketch.fromBytes(
      ev.agg(build(col("qv"))).head().getAs[Array[Byte]](0))
    val targets = Seq(
      (0.50, 0.45, 0.55, merged.quantile(0.50), whole.quantile(0.50)),
      (0.90, 0.85, 0.95, merged.quantile(0.90), whole.quantile(0.90)),
      (0.99, 0.94, 1.00, merged.quantile(0.99), whole.quantile(0.99)))
    val w = Window.orderBy(col("qv"), col("event_id"))
    val ranked = ev
      .withColumn("rn", row_number().over(w).cast(LongType))
      .crossJoin(broadcast(ev.agg(count(lit(1)).as("n_events"))))
      .pinned
    import s.implicits._
    val tdf = targets.toDF("q", "q_lo", "q_hi", "est", "est_whole")
    tdf.join(ranked,
      col("rn") === ceil(col("q") * col("n_events")).cast(LongType))
      .select(col("q"), col("n_events"), col("qv").as("exact_value"),
        col("q_lo"), col("q_hi"), col("est"), col("est_whole"))
      .join(ranked.select(col("rn").as("rn_lo"), col("qv").as("exact_lo")),
        ceil(col("q_lo") * col("n_events")).cast(LongType) === col("rn_lo"))
      .join(ranked.select(col("rn").as("rn_hi"), col("qv").as("exact_hi")),
        ceil(col("q_hi") * col("n_events")).cast(LongType) === col("rn_hi"))
      .select(col("q"), col("n_events"), col("exact_lo"), col("exact_value"),
        col("exact_hi"),
        (col("est") >= col("exact_lo") && col("est") <= col("exact_hi"))
          .as("est_ok"),
        (col("est_whole") >= col("exact_lo") && col("est_whole") <= col("exact_hi"))
          .as("whole_ok"))
      .orderBy(col("q"))
  }

  private val LongType = org.apache.spark.sql.types.LongType

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x175_qdigest_daily" -> ((s: SparkSession, dir: String) => qdigestDaily(s, dir)),
    "x171_bottomk_overlap" -> ((s: SparkSession, dir: String) => bottomkOverlap(s, dir)),
    "q29_sketches" -> (eventSketches _),
    "q41_heavy_hitters" -> ((s: SparkSession, dir: String) => heavyHittersGated(s, dir)),
    "q49_exact_percentiles" -> (exactPercentiles _),
    "q81_join_card_est" -> ((s: SparkSession, dir: String) => joinCardEst(s, dir)),
    "x206_hist_join_est" -> ((s: SparkSession, dir: String) => histJoinEst(s, dir)),
    "q81_join_card_served" -> ((s: SparkSession, dir: String) => joinCardServed(s, dir)),
    "x206_hist_join_served" -> ((s: SparkSession, dir: String) => histJoinServed(s, dir)),
    "x171_bottomk_served" ->
      ((s: SparkSession, dir: String) => bottomkOverlap(s, dir, withAnchor = false)),
    "x212_hist_equidepth" -> ((s: SparkSession, dir: String) => histEquiDepthEst(s, dir)),
    "x215_sample_join_est" -> ((s: SparkSession, dir: String) => sampleJoinEst(s, dir)),
    "x222_kll_daily" -> ((s: SparkSession, dir: String) => kllDaily(s, dir)),
    "q50_hll_daily_merge" -> (hllDailyMerge _))

  /** Every sketch query hash-gates: exact legs compare outright and each
    * estimate is reduced to a bound-check boolean the twin pins to TRUE
    * (estimates are deterministic under Spark's fixed hashes/seeds, so
    * the flags are stable; SketchesSpec still measures the raw error).
    * q49 is exact by construction and fully oracle-gated.
    */
  val oracles: Map[String, String] = Map(
    // x175: exact order-statistic legs outright; the digest estimates
    // ride as bound booleans pinned TRUE (the q29 discipline — the
    // ±5%-rank window is a ≥5x margin over the digest's guarantee).
    "x175_qdigest_daily" ->
      """WITH ev AS (
        |  SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS qv, event_id
        |  FROM events),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_events FROM ev),
        |r AS (
        |  SELECT qv, CAST(row_number() OVER (ORDER BY qv, event_id) AS BIGINT) AS rn
        |  FROM ev),
        |t(q, q_lo, q_hi) AS (VALUES
        |  (CAST(0.50 AS DOUBLE), CAST(0.45 AS DOUBLE), CAST(0.55 AS DOUBLE)),
        |  (CAST(0.90 AS DOUBLE), CAST(0.85 AS DOUBLE), CAST(0.95 AS DOUBLE)),
        |  (CAST(0.99 AS DOUBLE), CAST(0.94 AS DOUBLE), CAST(1.00 AS DOUBLE)))
        |SELECT t.q, n.n_events, rl.qv AS exact_lo, rv.qv AS exact_value,
        |  rh.qv AS exact_hi, TRUE AS est_ok
        |FROM t CROSS JOIN n
        |JOIN r rv ON rv.rn = CAST(ceil(t.q * n.n_events) AS BIGINT)
        |JOIN r rl ON rl.rn = CAST(ceil(t.q_lo * n.n_events) AS BIGINT)
        |JOIN r rh ON rh.rn = CAST(ceil(t.q_hi * n.n_events) AS BIGINT)
        |ORDER BY t.q""".stripMargin,
    // x222: x175's twin text with BOTH serving paths' bound booleans
    // pinned TRUE — merged daily partials (est_ok) and the monolithic
    // whole-stream build (whole_ok), the merge-equals-rebuild invariant
    // in its bound-check form.
    "x222_kll_daily" ->
      """WITH ev AS (
        |  SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS qv, event_id
        |  FROM events),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_events FROM ev),
        |r AS (
        |  SELECT qv, CAST(row_number() OVER (ORDER BY qv, event_id) AS BIGINT) AS rn
        |  FROM ev),
        |t(q, q_lo, q_hi) AS (VALUES
        |  (CAST(0.50 AS DOUBLE), CAST(0.45 AS DOUBLE), CAST(0.55 AS DOUBLE)),
        |  (CAST(0.90 AS DOUBLE), CAST(0.85 AS DOUBLE), CAST(0.95 AS DOUBLE)),
        |  (CAST(0.99 AS DOUBLE), CAST(0.94 AS DOUBLE), CAST(1.00 AS DOUBLE)))
        |SELECT t.q, n.n_events, rl.qv AS exact_lo, rv.qv AS exact_value,
        |  rh.qv AS exact_hi, TRUE AS est_ok, TRUE AS whole_ok
        |FROM t CROSS JOIN n
        |JOIN r rv ON rv.rn = CAST(ceil(t.q * n.n_events) AS BIGINT)
        |JOIN r rl ON rl.rn = CAST(ceil(t.q_lo * n.n_events) AS BIGINT)
        |JOIN r rh ON rh.rn = CAST(ceil(t.q_hi * n.n_events) AS BIGINT)
        |ORDER BY t.q""".stripMargin,
    // x171: the full KMV algebra recomputed — same 60-bit md5 element
    // hash, same bottom-k ranks, same τ/ρ estimators, same exact anchors.
    "x171_bottomk_overlap" ->
      """WITH d AS (
        |  SELECT source,
        |    list_distinct(list_transform(generate_series(1, greatest(len(w)-2, 0), 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM (SELECT source, string_split_regex(trim(lower(text)), '\s+') AS w
        |        FROM documents
        |        WHERE source IN ('src0','src1','src2','src3','src4','src5'))
        |  WHERE len(w) >= 3),
        |el AS (
        |  SELECT DISTINCT source, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
        |  FROM (SELECT source, unnest(sh) AS g FROM d)),
        |nexact AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact FROM el GROUP BY source),
        |sk AS (
        |  SELECT source, h FROM (
        |    SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h ASC) AS rn
        |    FROM el) WHERE rn <= 128),
        |prs AS (
        |  SELECT a.source AS source_a, b.source AS source_b
        |  FROM (SELECT DISTINCT source FROM sk) a
        |  JOIN (SELECT DISTINCT source FROM sk) b ON a.source < b.source),
        |u AS (
        |  SELECT DISTINCT p.source_a, p.source_b, s.h
        |  FROM prs p JOIN sk s ON s.source = p.source_a OR s.source = p.source_b),
        |kk AS (
        |  SELECT source_a, source_b, h FROM (
        |    SELECT source_a, source_b, h,
        |      row_number() OVER (PARTITION BY source_a, source_b ORDER BY h ASC) AS rn
        |    FROM u) WHERE rn <= 128),
        |mem AS (
        |  SELECT k.source_a, k.source_b, k.h,
        |    (EXISTS(SELECT 1 FROM sk sa WHERE sa.source = k.source_a AND sa.h = k.h)
        |     AND EXISTS(SELECT 1 FROM sk sb WHERE sb.source = k.source_b AND sb.h = k.h))
        |      AS in_both
        |  FROM kk k),
        |agg AS (
        |  SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_union_sketch,
        |    max(h) AS tau_union,
        |    CAST(sum(CASE WHEN in_both THEN 1 ELSE 0 END) AS BIGINT) AS rho
        |  FROM mem GROUP BY source_a, source_b),
        |exi AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    CAST(count(*) AS BIGINT) AS exact_intersection
        |  FROM el a JOIN el b ON a.h = b.h AND a.source < b.source
        |  GROUP BY a.source, b.source),
        |base AS (
        |  SELECT p.source_a, p.source_b, na.n_exact AS n_a, nb.n_exact AS n_b,
        |    g.n_union_sketch, g.tau_union, g.rho,
        |    coalesce(e.exact_intersection, CAST(0 AS BIGINT)) AS exact_intersection,
        |    CASE WHEN g.n_union_sketch < 128 THEN CAST(g.n_union_sketch AS DOUBLE)
        |         ELSE CAST(127 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
        |              / CAST(g.tau_union AS DOUBLE) END AS est_union,
        |    CAST(g.rho AS DOUBLE) / CAST(g.n_union_sketch AS DOUBLE) AS est_jaccard
        |  FROM prs p
        |  JOIN nexact na ON na.source = p.source_a
        |  JOIN nexact nb ON nb.source = p.source_b
        |  JOIN agg g ON g.source_a = p.source_a AND g.source_b = p.source_b
        |  LEFT JOIN exi e ON e.source_a = p.source_a AND e.source_b = p.source_b)
        |SELECT source_a, source_b, CAST(128 AS INT) AS k, n_a, n_b,
        |  n_union_sketch, tau_union, rho, est_union, est_jaccard,
        |  est_jaccard * est_union AS est_intersection,
        |  n_a + n_b - exact_intersection AS exact_union, exact_intersection
        |FROM base ORDER BY source_a, source_b""".stripMargin,
    "q41_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents)
        |SELECT token, count(*) AS n_exact, TRUE AS est_ok
        |FROM toks GROUP BY token
        |ORDER BY n_exact DESC, token LIMIT 20""".stripMargin,
    "q29_sketches" ->
      """SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
        |  TRUE AS n_users_approx_ok,
        |  TRUE AS p50_approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q50_hll_daily_merge" ->
      """WITH d AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_day_exact
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_total_exact
        |      FROM events)
        |SELECT day, n_users_day_exact, TRUE AS day_est_ok,
        |  n_users_total_exact, TRUE AS total_est_ok
        |FROM d CROSS JOIN t ORDER BY day""".stripMargin,
    // q81: the identical md5-derived CMS rows — every value is an exact
    // integer, so the estimate itself hash-compares; no bound flag
    // needed beyond the estimator's pinned one-sided guarantee.
    // x206: same bounds, equi-width bucketing, exact per-bucket NDVs,
    // pinned ascending-bucket fold for the total.
    "x206_hist_join_est" ->
      """WITH a AS (SELECT o_custkey AS k FROM orders),
        |b AS (SELECT c_custkey AS k FROM customer),
        |bounds AS (
        |  SELECT min(k) AS lo, max(k) AS hi
        |  FROM (SELECT k FROM a UNION ALL SELECT k FROM b)),
        |sa AS (
        |  SELECT CAST(floor(CAST((k - lo) * 16 AS DOUBLE)
        |      / CAST(hi - lo + 1 AS DOUBLE)) AS BIGINT) AS bucket,
        |    CAST(count(*) AS BIGINT) AS na,
        |    CAST(count(DISTINCT k) AS BIGINT) AS ndva
        |  FROM a, bounds GROUP BY 1),
        |sb AS (
        |  SELECT CAST(floor(CAST((k - lo) * 16 AS DOUBLE)
        |      / CAST(hi - lo + 1 AS DOUBLE)) AS BIGINT) AS bucket,
        |    CAST(count(*) AS BIGINT) AS nb,
        |    CAST(count(DISTINCT k) AS BIGINT) AS ndvb
        |  FROM b, bounds GROUP BY 1),
        |j AS (
        |  SELECT bucket, na, nb, ndva, ndvb,
        |    CAST(na * nb AS DOUBLE) / CAST(greatest(ndva, ndvb) AS DOUBLE)
        |      AS contrib
        |  FROM sa JOIN sb USING (bucket)),
        |tot AS (
        |  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list(contrib ORDER BY bucket)), (acc, v) -> acc + v) AS est_total
        |  FROM j),
        |ex AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_exact
        |  FROM a JOIN b USING (k))
        |SELECT j.bucket, j.na, j.nb, j.ndva, j.ndvb, j.contrib,
        |  tot.est_total, ex.n_exact,
        |  tot.est_total / CAST(ex.n_exact AS DOUBLE) AS ratio
        |FROM j, tot, ex ORDER BY j.bucket""".stripMargin,
    "q81_join_card_est" ->
      """WITH ii AS (SELECT unnest(generate_series(0, 2)) AS i),
        |sa AS (
        |  SELECT i,
        |    ('0x' || substr(md5('cms:' || CAST(i AS VARCHAR) || ':'
        |      || CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT % 256 AS bucket,
        |    CAST(count(*) AS BIGINT) AS ca
        |  FROM orders CROSS JOIN ii GROUP BY 1, 2),
        |sb AS (
        |  SELECT i,
        |    ('0x' || substr(md5('cms:' || CAST(i AS VARCHAR) || ':'
        |      || CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT % 256 AS bucket,
        |    CAST(count(*) AS BIGINT) AS cb
        |  FROM lineitem CROSS JOIN ii GROUP BY 1, 2),
        |est AS (
        |  SELECT i, CAST(sum(ca * cb) AS BIGINT) AS est_i
        |  FROM sa JOIN sb USING (i, bucket) GROUP BY i),
        |m AS (SELECT CAST(min(est_i) AS BIGINT) AS est FROM est),
        |x AS (SELECT CAST(count(*) AS BIGINT) AS n_exact
        |      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey)
        |SELECT CAST(i AS INT) AS i, est_i, est, n_exact,
        |  est_i >= n_exact AS overestimate_ok
        |FROM est CROSS JOIN m CROSS JOIN x ORDER BY i""".stripMargin,
    // served twins: identical estimator algebra, anchor legs absent —
    // the DuckDB side drops the same exact joins, so the oracle still
    // hash-gates every estimate value.
    "q81_join_card_served" ->
      """WITH ii AS (SELECT unnest(generate_series(0, 2)) AS i),
        |sa AS (
        |  SELECT i,
        |    ('0x' || substr(md5('cms:' || CAST(i AS VARCHAR) || ':'
        |      || CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT % 256 AS bucket,
        |    CAST(count(*) AS BIGINT) AS ca
        |  FROM orders CROSS JOIN ii GROUP BY 1, 2),
        |sb AS (
        |  SELECT i,
        |    ('0x' || substr(md5('cms:' || CAST(i AS VARCHAR) || ':'
        |      || CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT % 256 AS bucket,
        |    CAST(count(*) AS BIGINT) AS cb
        |  FROM lineitem CROSS JOIN ii GROUP BY 1, 2),
        |est AS (
        |  SELECT i, CAST(sum(ca * cb) AS BIGINT) AS est_i
        |  FROM sa JOIN sb USING (i, bucket) GROUP BY i),
        |m AS (SELECT CAST(min(est_i) AS BIGINT) AS est FROM est)
        |SELECT CAST(i AS INT) AS i, est_i, est
        |FROM est CROSS JOIN m ORDER BY i""".stripMargin,
    "x206_hist_join_served" ->
      """WITH a AS (SELECT o_custkey AS k FROM orders),
        |b AS (SELECT c_custkey AS k FROM customer),
        |bounds AS (
        |  SELECT min(k) AS lo, max(k) AS hi
        |  FROM (SELECT k FROM a UNION ALL SELECT k FROM b)),
        |sa AS (
        |  SELECT CAST(floor(CAST((k - lo) * 16 AS DOUBLE)
        |      / CAST(hi - lo + 1 AS DOUBLE)) AS BIGINT) AS bucket,
        |    CAST(count(*) AS BIGINT) AS na,
        |    CAST(count(DISTINCT k) AS BIGINT) AS ndva
        |  FROM a, bounds GROUP BY 1),
        |sb AS (
        |  SELECT CAST(floor(CAST((k - lo) * 16 AS DOUBLE)
        |      / CAST(hi - lo + 1 AS DOUBLE)) AS BIGINT) AS bucket,
        |    CAST(count(*) AS BIGINT) AS nb,
        |    CAST(count(DISTINCT k) AS BIGINT) AS ndvb
        |  FROM b, bounds GROUP BY 1),
        |j AS (
        |  SELECT bucket, na, nb, ndva, ndvb,
        |    CAST(na * nb AS DOUBLE) / CAST(greatest(ndva, ndvb) AS DOUBLE)
        |      AS contrib
        |  FROM sa JOIN sb USING (bucket)),
        |tot AS (
        |  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list(contrib ORDER BY bucket)), (acc, v) -> acc + v) AS est_total
        |  FROM j)
        |SELECT j.bucket, j.na, j.nb, j.ndva, j.ndvb, j.contrib, tot.est_total
        |FROM j, tot ORDER BY j.bucket""".stripMargin,
    // x215: the identical deterministic hash coins — both engines flip
    // md5(salt||key) % 100 < p, so sampled sets, join counts and the
    // scaled estimates all hash-compare exactly
    "x215_sample_join_est" ->
      """WITH a AS (SELECT o_orderkey AS k FROM orders
        |           WHERE ('0x' || substr(md5('smpA:' || CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT % 100 < 10),
        |b AS (SELECT l_orderkey AS k FROM lineitem
        |      WHERE ('0x' || substr(md5('smpB:' || CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT % 100 < 10),
        |ak AS (SELECT o_orderkey AS k FROM orders
        |       WHERE ('0x' || substr(md5('smpK:' || CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT % 100 < 10),
        |bk AS (SELECT l_orderkey AS k FROM lineitem
        |       WHERE ('0x' || substr(md5('smpK:' || CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT % 100 < 10),
        |ni AS (SELECT CAST(count(*) AS BIGINT) AS n_ind FROM a JOIN b USING (k)),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cor FROM ak JOIN bk USING (k))
        |SELECT CAST(10 AS INT) AS pct, ni.n_ind, nc.n_cor,
        |  CAST(ni.n_ind AS DOUBLE) * 10.0 * 10.0 AS est_independent,
        |  CAST(nc.n_cor AS DOUBLE) * 10.0 AS est_correlated
        |FROM ni CROSS JOIN nc""".stripMargin,
    // x212: identical equi-depth algebra — distinct-key row_number
    // ranks (unique keys, no tie ambiguity), floor((rn-1)*B/ndv)
    // buckets, (lo, hi] assignment, the same pinned ascending fold
    "x212_hist_equidepth" ->
      """WITH a AS (SELECT o_custkey AS k FROM orders),
        |b AS (SELECT c_custkey AS k FROM customer),
        |dk AS (
        |  SELECT k, row_number() OVER (ORDER BY k) AS rn FROM (
        |    SELECT DISTINCT k FROM a)),
        |nv AS (SELECT CAST(count(*) AS BIGINT) AS ndv FROM dk),
        |bo AS (
        |  SELECT bucket, max(k) AS hi FROM (
        |    SELECT k, CAST(floor(CAST((rn - 1) * 16 AS DOUBLE) / ndv) AS BIGINT)
        |      AS bucket FROM dk, nv)
        |  GROUP BY bucket),
        |bounds AS (
        |  SELECT bucket, hi, lag(hi) OVER (ORDER BY bucket) AS lo FROM bo),
        |sa AS (
        |  SELECT bucket, CAST(count(*) AS BIGINT) AS na,
        |    CAST(count(DISTINCT k) AS BIGINT) AS ndva
        |  FROM a JOIN bounds ON a.k <= bounds.hi
        |    AND (bounds.lo IS NULL OR a.k > bounds.lo)
        |  GROUP BY bucket),
        |sb AS (
        |  SELECT bucket, CAST(count(*) AS BIGINT) AS nb,
        |    CAST(count(DISTINCT k) AS BIGINT) AS ndvb
        |  FROM b JOIN bounds ON b.k <= bounds.hi
        |    AND (bounds.lo IS NULL OR b.k > bounds.lo)
        |  GROUP BY bucket),
        |j AS (
        |  SELECT bucket, na, nb, ndva, ndvb,
        |    CAST(na * nb AS DOUBLE) / CAST(greatest(ndva, ndvb) AS DOUBLE)
        |      AS contrib
        |  FROM sa JOIN sb USING (bucket)),
        |tot AS (
        |  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list(contrib ORDER BY bucket)), (acc, v) -> acc + v) AS est_total
        |  FROM j)
        |SELECT j.bucket, j.na, j.nb, j.ndva, j.ndvb, j.contrib, tot.est_total
        |FROM j, tot ORDER BY j.bucket""".stripMargin,
    "x171_bottomk_served" ->
      """WITH d AS (
        |  SELECT source,
        |    list_distinct(list_transform(generate_series(1, greatest(len(w)-2, 0), 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM (SELECT source, string_split_regex(trim(lower(text)), '\s+') AS w
        |        FROM documents
        |        WHERE source IN ('src0','src1','src2','src3','src4','src5'))
        |  WHERE len(w) >= 3),
        |el AS (
        |  SELECT DISTINCT source, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
        |  FROM (SELECT source, unnest(sh) AS g FROM d)),
        |nexact AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact FROM el GROUP BY source),
        |sk AS (
        |  SELECT source, h FROM (
        |    SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h ASC) AS rn
        |    FROM el) WHERE rn <= 128),
        |prs AS (
        |  SELECT a.source AS source_a, b.source AS source_b
        |  FROM (SELECT DISTINCT source FROM sk) a
        |  JOIN (SELECT DISTINCT source FROM sk) b ON a.source < b.source),
        |u AS (
        |  SELECT DISTINCT p.source_a, p.source_b, s.h
        |  FROM prs p JOIN sk s ON s.source = p.source_a OR s.source = p.source_b),
        |kk AS (
        |  SELECT source_a, source_b, h FROM (
        |    SELECT source_a, source_b, h,
        |      row_number() OVER (PARTITION BY source_a, source_b ORDER BY h ASC) AS rn
        |    FROM u) WHERE rn <= 128),
        |mem AS (
        |  SELECT k.source_a, k.source_b, k.h,
        |    (EXISTS(SELECT 1 FROM sk sa WHERE sa.source = k.source_a AND sa.h = k.h)
        |     AND EXISTS(SELECT 1 FROM sk sb WHERE sb.source = k.source_b AND sb.h = k.h))
        |      AS in_both
        |  FROM kk k),
        |agg AS (
        |  SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_union_sketch,
        |    max(h) AS tau_union,
        |    CAST(sum(CASE WHEN in_both THEN 1 ELSE 0 END) AS BIGINT) AS rho
        |  FROM mem GROUP BY source_a, source_b),
        |base AS (
        |  SELECT p.source_a, p.source_b, na.n_exact AS n_a, nb.n_exact AS n_b,
        |    g.n_union_sketch, g.tau_union, g.rho,
        |    CASE WHEN g.n_union_sketch < 128 THEN CAST(g.n_union_sketch AS DOUBLE)
        |         ELSE CAST(127 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
        |              / CAST(g.tau_union AS DOUBLE) END AS est_union,
        |    CAST(g.rho AS DOUBLE) / CAST(g.n_union_sketch AS DOUBLE) AS est_jaccard
        |  FROM prs p
        |  JOIN nexact na ON na.source = p.source_a
        |  JOIN nexact nb ON nb.source = p.source_b
        |  JOIN agg g ON g.source_a = p.source_a AND g.source_b = p.source_b)
        |SELECT source_a, source_b, CAST(128 AS INT) AS k, n_a, n_b,
        |  n_union_sketch, tau_union, rho, est_union, est_jaccard,
        |  est_jaccard * est_union AS est_intersection
        |FROM base ORDER BY source_a, source_b""".stripMargin,
    "q49_exact_percentiles" ->
      """WITH r AS (
        |  SELECT event_type, value, event_id,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n_events,
        |  max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN value END) AS p50,
        |  max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN value END) AS p90,
        |  max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN value END) AS p99
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin)
}
