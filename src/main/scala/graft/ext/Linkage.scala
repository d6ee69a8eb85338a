package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.engine.{SessionMemo, Tables}
import graft.engine.Pin.PinOps

/** Entity-resolution operators over the `customer` dimension: an exact
  * edit-distance similarity self-join (x190, the ED-Join shape — Xiao,
  * Wang & Lin, VLDB'08; Gravano et al., VLDB'01 q-gram counting) and a
  * Fellegi–Sunter scored record-linkage pass (x191, JASA 1969) with
  * blocking. The reference pipeline's own dedup is plain DISTINCT over
  * dimension rows (SURVEY §2.4 A3); these are the fuzzy-identity
  * operators a warehouse needs when sources disagree on spelling.
  *
  * Determinism: both engines run the identical algorithm — `levenshtein`
  * is the standard unit-cost DP in Spark and DuckDB; every block,
  * filter and weight is integer arithmetic; money comparisons happen on
  * floor(bal·100) cents (identical IEEE double ops on both sides).
  *
  * Scale shape (x190): candidate generation joins on (position, q-gram)
  * postings with a df cap (the x11 two-pass df-cut discipline) — the
  * near-constant prefix region of the names produces huge-df grams that
  * would degenerate any signature join to all-pairs, and the cap drops
  * exactly those; soundness is preserved because one edit destroys at
  * most q·τ grams, so any string with ≥ q·τ+1 RARE grams must share at
  * least one with every true match (position-shift ±τ absorbed by probe
  * expansion). Strings with fewer rare grams take the fallback leg — an
  * equi-join on length±τ buckets, quadratic only in the genuinely
  * unblockable stratum (empty on this corpus; the honest bound, since
  * exact ED-join on constant strings IS all-pairs).
  */
object Linkage {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  private val Q = 2 // q-gram width

  /** x190: all customer-name pairs within Levenshtein distance τ.
    * Output: a_custkey < b_custkey, dist. Exact duplicates collapse to
    * a representative first (see below), candidates come from rare
    * positional-q-gram postings (df ≤ cap) with length-aware ±τ
    * probe-position expansion, and exact `levenshtein` verifies every
    * candidate; representative pairs then expand back through the
    * duplicate groups.
    *
    * THE OUTPUT IS CAP-INDEPENDENT: the cap only routes work between
    * the posting leg and the fallback leg (both exact). The honest
    * complexity statement: exact ED-join work is Σ df² over the rare
    * blocks — sub-quadratic exactly when gram selectivity grows with
    * the corpus (natural text), and Θ(n²/V) on id-like keys whose gram
    * vocabulary V is FIXED (this table: every positional digit-gram's
    * df grows ∝ n). Raising the cap with n was measured WORSE at sf0.1
    * (72 s vs 14 s: it drags df≈n/10 blocks into the join), so the cap
    * stays at the smallest value keeping the corpus blockable; beyond
    * the point where no cap separates rare from common, exact ED-join
    * has no sub-quadratic form and the approximate lanes (SimHash x13,
    * MinHash x12) are the scale path.
    */
  def edSimJoin(s: SparkSession, dir: String, tau: Int = 1,
      cap: Int = 256): DataFrame =
    edExpandedPairs(s, dir, tau, cap)
      .orderBy(col("a_custkey"), col("b_custkey"))

  /** The full expanded pair set, un-ordered — shared by the x190 dump
    * and the x221 budgeted sample: representative pairs expand through
    * the duplicate groups, plus the within-group distance-0 pairs.
    */
  private def edExpandedPairs(s: SparkSession, dir: String, tau: Int,
      cap: Int): DataFrame = {
    val (nm0, repPairs) = edRepPairs(s, dir, tau, cap)
    val cross = repPairs
      .join(nm0.select(col("nm").as("na"), col("key").as("ka")), Seq("na"))
      .join(nm0.select(col("nm").as("nb"), col("key").as("kb")), Seq("nb"))
      .select(least(col("ka"), col("kb")).as("a_custkey"),
        greatest(col("ka"), col("kb")).as("b_custkey"), col("dist"))
    val within = nm0.as("x").join(nm0.as("y"),
        col("x.nm") === col("y.nm") && col("x.key") < col("y.key"))
      .select(col("x.key").as("a_custkey"), col("y.key").as("b_custkey"),
        lit(0).cast(IntegerType).as("dist"))
    cross.union(within)
  }

  /** x221: a budget-bounded uniform SAMPLE of the x190 answer — the
    * middle rung of the ED serving ladder (x220 size datasheet, cheap →
    * x221 sampled dump, bounded → x190 full dump, pay knowingly). Each
    * expanded pair is kept by the pinned md5 keep-draw at rate
    * budget/total (the x24/x219 block-pair spelling, per PAIR here);
    * total is x220's exact denominator, carried on every output row so
    * the coverage is reported, never silent (divide any downstream
    * count estimate by budget/total_pairs). Keep-all under budget.
    *
    * Scale shape: the draw filters INSIDE the expansion — dropped pairs
    * are generated by the codegen'd join and discarded in the same
    * stage, never shuffled, sorted, or written. x190's 1,110 s at the
    * 100x corpus is pure materialization of 2.7 G rows; this lane pays
    * only the generation scan (the md5 draw is one codegen'd hash per
    * candidate) and sorts/writes ≈budget rows.
    */
  def edSimJoinSample(s: SparkSession, dir: String, tau: Int = 1,
      cap: Int = 256, budget: Long = 1000L): DataFrame = {
    val tot = edSimJoinStats(s, dir, tau, cap)
      .agg(sum(col("n_pairs")).as("total_pairs"))
    edExpandedPairs(s, dir, tau, cap)
      .crossJoin(broadcast(tot))
      .filter(col("total_pairs") <= budget ||
        pairKeep(col("a_custkey"), col("b_custkey"), col("total_pairs"), budget))
      .select(col("a_custkey"), col("b_custkey"), col("dist"), col("total_pairs"))
      .orderBy(col("a_custkey"), col("b_custkey"))
  }

  /** The md5 keep-draw for expanded pair (a, b) at rate budget/total —
    * pinned, engine-portable (the twin spells the same md5 prefix).
    * DECIMAL(38,0) products: hash‰ × total outgrows int64 once the
    * answer passes ~10¹² pairs (the blockPairKeep discipline).
    */
  private def pairKeep(a: Column, b: Column, total: Column,
      budget: Long): Column = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val h = pmod(TextAnalysis.tokenHash(
      concat(lit("x221:"), a.cast("string"), lit(":"), b.cast("string"))),
      lit(1000000L))
    h.cast(dec) * total.cast(dec) < lit(budget).cast(dec) * lit(1000000L).cast(dec)
  }

  /** x220: the ED-join answer's SIZE, by distance, WITHOUT materializing
    * it — the serving datasheet for the suite's one 1000-second lane.
    * x190's cost at scale is purely the answer's own row count (the
    * verified rep-pair frame is ~270 K rows where the expansion is
    * 2.7 G at the 100x corpus, ~20 minutes of pure materialization);
    * an operator deciding whether to pay that needs the size first.
    * Counts expand arithmetically through the duplicate groups —
    * cross pairs contribute m_a·m_b at the representatives' distance,
    * duplicate groups C(m,2) at distance 0 (identical names) — the
    * x219 convention: what a bounded lane would drop is REPORTED, here
    * as the exact per-distance total the full dump would have.
    * Cap-independent for the same reason x190 is.
    */
  def edSimJoinStats(s: SparkSession, dir: String, tau: Int = 1,
      cap: Int = 256): DataFrame = {
    val (nm0, repPairs) = edRepPairs(s, dir, tau, cap)
    val sizes = nm0.groupBy(col("nm")).agg(count(lit(1)).as("m"))
    val cross = repPairs
      .join(sizes.select(col("nm").as("na"), col("m").as("ma")), Seq("na"))
      .join(sizes.select(col("nm").as("nb"), col("m").as("mb")), Seq("nb"))
      .select(col("dist"), (col("ma") * col("mb")).as("npairs"))
    val within = sizes.filter(col("m") > 1)
      .select(lit(0).cast(IntegerType).as("dist"),
        // integer DIV (exact at any m), not double `/` (exact only to 2^53)
        expr("CAST(m * (m - 1) DIV 2 AS LONG)").as("npairs"))
    cross.unionByName(within)
      .groupBy(col("dist")).agg(sum(col("npairs")).as("n_pairs"))
      .orderBy(col("dist"))
  }

  /** The pair engine behind x190/x217/x220: (all (key, nm) rows,
    * verified DISTINCT-NAME representative pairs with na/nb/dist). The
    * rep-pair frame is the scale-right intermediate — at the 100x corpus
    * the expanded x190 answer is 2.7 G rows while this frame is ~270 K —
    * and it is derived ONCE per (session, corpus, τ, cap): four graded
    * lanes consume it (x190 dump, x217 clusters, x220 datasheet, plus
    * the x217 oracle replay), and re-blocking cost the sf0.1 suite ~12 s
    * before the memo (the `Dedup.repPairsCached` pattern; pinned so the
    * blocking join runs once, not per consumer action).
    * [[graft.engine.SessionMemo.reset]] drops it, so an in-session
    * corpus rewrite is observable.
    */
  private val repPairCache = SessionMemo[(String, Int, Int), DataFrame]("Linkage.repPair")

  /** x217's CC labels over [[repPairCache]]'s pairs, same key. */
  private val edLabelCache = SessionMemo[(String, Int, Int), DataFrame]("Linkage.edLabels")

  private def edRepPairs(s: SparkSession, dir: String, tau: Int,
      cap: Int): (DataFrame, DataFrame) = {
    val nm0 = t(s, dir, "customer")
      .select(col("c_custkey").as("key"), col("c_name").as("nm"))
    val reps = repPairCache(s, (dir, tau, cap))(
      repPairCore(distinctNames(nm0), tau, cap).pinned)
    (nm0, reps)
  }

  /** Collapse exact duplicates FIRST (the dedup-before-fuzzy rule):
    * the signature join runs on DISTINCT names — duplicated names
    * multiply every positional gram's df and destroy blocking
    * selectivity (measured on the 10x corpus: 10 copies per name push
    * min df to 1000, leaving ZERO blockable grams) — and the result
    * expands back through the duplicate groups afterwards (identical
    * names are distance-0 pairs by definition, cross-group distances
    * are the representatives' distance). On a duplicate-free corpus
    * this is the identity transform.
    */
  private def distinctNames(members: DataFrame): DataFrame =
    members.groupBy(col("nm")).agg(min(col("key")).as("key"))
      .withColumn("len", length(col("nm")))

  /** The one-shot blocking + verify engine over a distinct-name frame
    * (key, nm, len). The incremental twin (x218) maintains the same
    * structures — postings, df, few-set — as STANDING STATE instead
    * (see [[edInsertBatch]]).
    */
  /** The length-aware (Δlen, Δpos) probe expansion both engines share.
    * Tight bound (r19 optimization round — guide §2.3, shuffle fewer
    * bytes): for an edit script turning probe P into indexed I with
    * length delta dl = len(I) − len(P), #ins − #del = dl and
    * #ins + #del ≤ τ, so #ins ≤ ⌊(τ+dl)/2⌋ and #del ≤ ⌊(τ−dl)/2⌋; a
    * surviving gram's position shift d = pos(I) − pos(P) lies in
    * [−#del, +#ins] ⊆ [−⌊(τ−dl)/2⌋, +⌊(τ+dl)/2⌋]. At τ=1 this is 5
    * shift pairs instead of the previous 7 (dl=±1 needs only the
    * one-sided d, since a length change of 1 with one edit is a single
    * insertion or deletion — positions shift one way only); at τ=2,
    * 13 instead of 23. Soundness is never at stake (every candidate is
    * levenshtein-verified); the bound is about COMPLETENESS of the
    * candidate set, and the interval above covers every achievable
    * shift, so the verified pair set is unchanged (LinkageSpec pins the
    * x190/x217 answers; the DuckDB twins verify independently with the
    * loose |d| ≤ τ expansion).
    */
  private def shiftPairs(tau: Int): Seq[Column] = (for {
    dl <- -tau to tau; d <- -((tau - dl) / 2) to (tau + dl) / 2
  } yield struct(lit(dl).as("dl"), lit(d).as("d"))).toSeq

  private def repPairCore(nm: DataFrame, tau: Int, cap: Int): DataFrame = {
    val capV: Long = cap.toLong
    val grams = nm
      .select(col("key"), col("nm"), col("len"),
        explode(sequence(lit(1), col("len") - lit(Q - 1))).as("pos"))
      .select(col("key"), col("len"), col("pos"),
        col("nm").substr(col("pos"), lit(Q)).as("g"))
    val dfreq = grams.groupBy(col("pos"), col("g"))
      .agg(count(lit(1)).as("df"))
    val rare = grams.join(dfreq, Seq("pos", "g"))
      .filter(col("df") <= capV)
    // prefix filtering (r19 optimization round — Chaudhuri/Ganti/Kaushik
    // ICDE'06 prefix-filter discipline): index only the q·τ+1 RAREST of
    // each string's rare grams (ties by pos — deterministic). The
    // pigeonhole argument needs exactly that many: ≤ τ edits destroy at
    // most q·τ grams, so of ANY q·τ+1 indexed grams one survives in
    // every true match, and the probe side still probes ALL its grams.
    // Fewer postings per string ⇒ proportionally fewer block-join
    // candidates (~40% at sf0.1), identical verified pair set.
    val ridx = rare
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("key"))
          .orderBy(col("df"), col("pos"))))
      .filter(col("rk") <= Q * tau + 1)
      .select(col("key").as("i_key"), col("len"), col("pos"), col("g"))
      .pinned
    // strings with fewer than q·τ+1 rare grams cannot rely on the
    // pigeonhole argument — route them through the fallback leg
    // (richness counts ALL rare grams, not just the indexed prefix)
    val rcnt = rare.groupBy(col("key").as("i_key")).agg(count(lit(1)).as("r"))
    val few = nm.join(rcnt, nm("key") === rcnt("i_key"), "left")
      .filter(coalesce(col("r"), lit(0L)) < Q * tau + 1)
      .select(col("key").as("f_key"), col("len"))
    // length-aware probing (PassJoin-style): at τ=1 an edit between
    // EQUAL-length strings is one substitution — positions never shift —
    // so the same-length probe is δ=0 only; the ±τ position expansion
    // applies only to targets of length len±1..±τ. Including length in
    // the join key cuts the dominant block-join term (measured 3x at
    // sf0.1: same-length probes stop fanning into the ±1 positions).
    val probes = grams
      .select(col("key").as("p_key"), col("g"), col("pos"), col("len"),
        explode(array(shiftPairs(tau): _*)).as("sp"))
      .select(col("p_key"), col("g"),
        (col("pos") + col("sp.d")).as("pos"),
        (col("len") + col("sp.dl")).as("len"))
    // NO Gravano count filter here, deliberately: it was measured at
    // 2x the plain-distinct cost at sf0.1 (the per-pair countDistinct
    // shuffle dwarfs what it saves — the 18-char levenshtein verifier
    // is codegen'd and cheap). Count filtering pays off when the
    // verifier is expensive (long strings), not on key-like columns.
    // One direction only (r19 optimization round): for a rich–rich pair
    // within τ, BOTH probe directions fire (each side has ≥ q·τ+1 rare
    // indexed grams, at most q·τ destroyed, so each side's probe hits
    // the other's surviving posting), so i_key < p_key keeps exactly one
    // of the two mirrored generations — half the verify volume, same
    // candidate SET after least/greatest. A pair whose smaller key is a
    // FEW string is covered by candFew regardless of direction.
    val candBlock = ridx.join(probes, Seq("len", "pos", "g"))
      .filter(col("i_key") < col("p_key"))
      .select(col("i_key").as("a_custkey"), col("p_key").as("b_custkey"))
    val candFew = few
      .select(col("f_key"),
        explode(sequence(col("len") - lit(tau), col("len") + lit(tau))).as("len"))
      .join(nm.select(col("key").as("o_key"), col("len")), Seq("len"))
      .filter(col("f_key") =!= col("o_key"))
      .select(least(col("f_key"), col("o_key")).as("a_custkey"),
        greatest(col("f_key"), col("o_key")).as("b_custkey"))
    val cand = candBlock.union(candFew).distinct()
    cand
      .join(nm.select(col("key").as("a_custkey"), col("nm").as("na")), Seq("a_custkey"))
      .join(nm.select(col("key").as("b_custkey"), col("nm").as("nb")), Seq("b_custkey"))
      // banded threshold levenshtein (guide §1.2 per-task work): the
      // 3-arg form computes O((2τ+1)·len) cells instead of the full
      // O(len²) DP and returns −1 above τ — identical dist for every
      // kept row, so the verified pair set is unchanged
      .withColumn("dist", levenshtein(col("na"), col("nb"), tau))
      .filter(col("dist") >= 0)
  }

  /** x217: the ED similarity graph resolved into CLUSTERS — per
    * clustered customer its component's canonical (minimum) custkey and
    * the component size; singletons (no name within distance tau) are
    * not rows, the x57 dup-cluster convention. This is x190's
    * scale-right consumer shape: at the 100x corpus the expanded pair
    * list is 2.7 G rows (quadratic in the clone multiplicity — the
    * ANSWER, not the algorithm), while the assignment is one row per
    * customer. Connected components run on the ~270 K REP pairs only;
    * members inherit their component through the name -> rep mapping,
    * and an identical-name group is itself a cluster (its members are
    * pairwise distance 0). The component label (min rep) IS the min
    * member custkey, because every rep is its group's minimum. The CC
    * labels are eager, so they are built once per (session, dataset,
    * tau, cap).
    */
  def edClusters(s: SparkSession, dir: String, tau: Int = 1,
      cap: Int = 256): DataFrame = {
    val (nm0, repPairs) = edRepPairs(s, dir, tau, cap)
    val reps = nm0.groupBy(col("nm")).agg(min(col("key")).as("rep"))
    val m2r = nm0.join(reps, Seq("nm")).select(col("key"), col("rep"))
    val lbl = edLabelCache(s, (dir, tau, cap))(Dedup.connectedComponents(
      repPairs.select(col("a_custkey").as("doc_a"), col("b_custkey").as("doc_b"))))
    val assigned = m2r
      .join(lbl.select(col("id").as("rep"), col("lbl")), Seq("rep"), "left")
      .select(col("key").as("c_custkey"),
        coalesce(col("lbl"), col("rep")).as("cluster_id"))
    clusterSized(assigned)
  }

  /** Attach per-cluster size and keep non-singletons — ONE exchange on
    * cluster_id (a window count) instead of the previous groupBy +
    * self-join's two (r20 optimization round, guide §2.4: a window
    * partitioned like the aggregation needs no second shuffle).
    */
  private def clusterSized(assigned: DataFrame): DataFrame =
    assigned
      .withColumn("cluster_size", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))))
      .filter(col("cluster_size") >= 2)
      .select(col("c_custkey"), col("cluster_id"), col("cluster_size"))
      .orderBy(col("c_custkey"))

  // -- x218: incremental ED-cluster maintenance ---------------------------
  //
  // x217 is whole-corpus; production ER feeds arrive as batches. The
  // standing state carries the SAME structures the one-shot engine
  // derives, maintained instead of recomputed:
  //   m: members (key, nm)
  //   p: verified distinct-NAME pairs (na, nb, dist)
  //   g: posting index — each indexed name's insert-time-rare positional
  //      grams (nm, g, pos, len)
  //   f: gram-poor names routed to the fallback leg (nm, len)
  //   d: global positional-gram document frequency (g, pos, cnt)
  // A batch grams ONLY its new names, merges df, classifies each new
  // name rich/few at its insert-time df, probes the new grams against
  // the standing+new postings, runs the few fallback legs, and
  // levenshtein-verifies — per-batch cost is proportional to the NEW
  // names plus the postings they touch, never a re-block of the corpus.
  //
  // Completeness of every new-touching pair (old-old pairs were verified
  // when the later of their names arrived): an old partner was either
  // indexed with ≥ q·τ+1 grams — one edit destroys at most q·τ of them,
  // so the new name SHARES a surviving indexed gram and the new side's
  // full probe expansion hits it — or it sits in the few fallback, which
  // joins against the new names by length window. Postings are never
  // re-filtered as df grows: extra postings add candidates (cost), never
  // lose them (soundness); the pair set is exact either way because
  // every candidate is verified.
  //
  // Pairs and postings are keyed by NAME, not custkey: a group's
  // min-key representative can CHANGE when a smaller key arrives —
  // names are the stable identity; reps re-derive at read time. One
  // frame encodes all five kinds so the state travels through the
  // shared self-compacting ingest runner.
  //
  // The state frame is a UNION OF PINNED PER-BATCH DELTAS (r20
  // optimization round — the x202 IVM posture): a fold pins only the
  // rows the batch ADDED (its members, fresh pairs, new postings, new
  // fews, and its gram-count partial), never re-checkpointing the
  // standing side — previously each fold rewrote the whole accumulated
  // state (the pair set is 87% of state rows and only ever grows), so
  // fold cost grew with the corpus instead of the batch. Consequence
  // for the `d` kind: standing df rows are per-batch COUNT PARTIALS
  // (possibly several rows per (pos, g)); every consumer already
  // re-aggregates (`dfAll` below sums them), so the insert-time df each
  // batch classifies against is unchanged.

  private def kindOf(state: DataFrame, k: String, cols: String*): DataFrame =
    state.filter(col("kind") === k).select(cols.map(col): _*)

  private def nul(t: String, as: String) = lit(null).cast(t).as(as)

  /** The batch's non-pair delta rows (members, postings, fews, df
    * partials) — everything LATER folds read. Pairs are encoded
    * separately ([[encodePairs]]) because they are consumed exactly
    * once, by the final resolve.
    */
  private def encodeCore(members: DataFrame, postings: DataFrame,
      fews: DataFrame, dfreq: DataFrame): DataFrame =
    members.select(lit("m").as("kind"), col("key"), col("nm"),
        nul("string", "na"), nul("string", "nb"), nul("int", "dist"),
        nul("string", "g"), nul("int", "pos"), nul("int", "len"),
        nul("long", "cnt"))
      .unionByName(postings.select(lit("g").as("kind"), nul("long", "key"),
        col("nm"), nul("string", "na"), nul("string", "nb"), nul("int", "dist"),
        col("g"), col("pos").cast("int").as("pos"),
        col("len").cast("int").as("len"), nul("long", "cnt")))
      .unionByName(fews.select(lit("f").as("kind"), nul("long", "key"),
        col("nm"), nul("string", "na"), nul("string", "nb"), nul("int", "dist"),
        nul("string", "g"), nul("int", "pos"),
        col("len").cast("int").as("len"), nul("long", "cnt")))
      .unionByName(dfreq.select(lit("d").as("kind"), nul("long", "key"),
        nul("string", "nm"), nul("string", "na"), nul("string", "nb"),
        nul("int", "dist"), col("g"), col("pos").cast("int").as("pos"),
        nul("int", "len"), col("cnt").cast("long").as("cnt")))

  private def encodePairs(pairs: DataFrame): DataFrame =
    pairs.select(lit("p").as("kind"), nul("long", "key"),
      nul("string", "nm"), col("na"), col("nb"),
      col("dist").cast("int").as("dist"), nul("string", "g"),
      nul("int", "pos"), nul("int", "len"), nul("long", "cnt"))

  /** Empty ED state. */
  def edStateInit(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    s.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("kind", StringType), StructField("key", LongType),
        StructField("nm", StringType), StructField("na", StringType),
        StructField("nb", StringType), StructField("dist", IntegerType),
        StructField("g", StringType), StructField("pos", IntegerType),
        StructField("len", IntegerType), StructField("cnt", LongType))))
  }

  /** Fold one batch of (key, nm) members into ED state.
    *
    * Measured at sf0.1 (15 K distinct names, thirds): 5.8 s per fold vs
    * 9.3 s for the x217 whole-corpus rebuild — each incremental fold
    * beats a rebuild, and unlike the rebuild its cost does not grow
    * with the standing corpus (the batch's grams drive every join; the
    * standing side is index lookups). The graded x218 twin (3 folds,
    * ~18 s) intentionally re-ingests the WHOLE corpus, so it prices 3
    * folds against 3 rebuilds (28 s), not against one.
    */
  def edInsertBatch(state: DataFrame, batch: DataFrame, tau: Int = 1,
      cap: Int = 256): DataFrame =
    state.unionByName(edDelta(state, batch, tau, cap).pinned)

  /** The UNPINNED encoded delta a batch adds to ED state — split out of
    * [[edInsertBatch]] so the profiler can explain/measure the fold's
    * plan without the pin materializing it first.
    */
  private[ext] def edDelta(state: DataFrame, batch: DataFrame, tau: Int,
      cap: Int): DataFrame = {
    val members = kindOf(state, "m", "key", "nm")
    val postings = kindOf(state, "g", "nm", "g", "pos", "len")
    val fews = kindOf(state, "f", "nm", "len")
    val dfreq = kindOf(state, "d", "g", "pos", "cnt")
    val batchMembers = batch.select(col("key"), col("nm"))
    // one distinct-standing-names subtree feeds BOTH the new-name anti
    // join and the fallback legs' allNames below — structurally
    // identical plans so the exchange is reused, not recomputed
    val standingNames = members.select(col("nm")).distinct()
    // Explicit repartition by name (r20, guide §2.5/§8): everything
    // expensive in a fold — the gram explode, the probe expansion, the
    // candidate joins and the inline levenshtein verify — is a fused
    // pipeline KEYED by the new names, but its task count is the
    // partition count of this tiny frame's exchange, which AQE coalesces
    // to a handful of tasks (it sizes stages by shuffle INPUT bytes; the
    // ~1M-candidate post-join explosion is invisible to it). A
    // user-specified partition count is exempt from coalescing; hashing
    // ~5 K names over np partitions costs one tiny exchange and spreads
    // the verify evenly. np follows the session's shuffle parallelism
    // (scale-adaptive, not a local constant); the nm-hash partitioning
    // is also exactly what the ranking window below needs, so that
    // window reuses this exchange instead of adding its own.
    val np = batch.sparkSession.sessionState.conf.numShufflePartitions
    // Pinned (r20): the formatted delta plan showed this subtree (two
    // distinct exchanges + an anti join) duplicated SIX times — once per
    // consumer (df partial, rare-gram join, ranking window, few-name
    // anti join, probe explode, fallback allNames). Exchange reuse only
    // helps within one job; the fold runs several. 5 K rows, one tiny
    // action, and every consumer now reads an RDD scan.
    val newNames = batchMembers.select(col("nm")).distinct()
      .join(standingNames, Seq("nm"), "left_anti")
      .withColumn("len", length(col("nm")))
      .repartition(np, col("nm"))
      .pinned
    // gram ONLY the new names; merge the global df (standing `d` rows
    // are per-batch count partials — the sum below is the merge)
    val bgrams = newNames
      .select(col("nm"), col("len"),
        explode(sequence(lit(1), col("len") - lit(Q - 1))).as("pos"))
      .select(col("nm"), col("len"), col("pos"),
        col("nm").substr(col("pos"), lit(Q)).as("g"))
    val dfBatch = bgrams.groupBy(col("pos"), col("g"))
      .agg(count(lit(1)).as("cnt"))
    val dfAll = dfreq.unionByName(dfBatch)
      .groupBy(col("pos"), col("g")).agg(sum(col("cnt")).as("cnt"))
    // classify new names at their insert-time df (the one-shot rule)
    val rareNew = bgrams.join(dfAll, Seq("pos", "g"))
      .filter(col("cnt") <= cap.toLong)
      .select(col("nm"), col("g"), col("pos"), col("len"), col("cnt"))
    // ONE window pass over nm (r20 optimization round — guide §2.4: two
    // operations keyed the same way share one exchange): the richness
    // count (was a groupBy + semi-join) and the rarest-gram rank ride
    // the same hash partitioning. Prefix filtering at insert-time df
    // (see repPairCore): index only the q·τ+1 rarest of a rich name's
    // rare grams — the pigeonhole survival argument needs exactly that
    // many, and extra postings only add candidates, never completeness.
    val wNm = org.apache.spark.sql.expressions.Window.partitionBy(col("nm"))
    // Pinned (r20, same rationale as newNames): the ranked frame feeds
    // newPostings, the few-name anti join, and (via both) the delta pin
    // — unpinned, the df merge + window subtree ran once per consumer.
    val ranked = rareNew
      .withColumn("r", count(lit(1)).over(wNm))
      .withColumn("rk", row_number().over(wNm.orderBy(col("cnt"), col("pos"))))
      .pinned
    val newPostings = ranked
      .filter(col("r") >= Q * tau + 1 && col("rk") <= Q * tau + 1)
      .select(col("nm"), col("g"), col("pos"), col("len"))
    // a new name is FEW iff it has fewer than q·τ+1 rare grams — i.e.
    // no row of `ranked` passes the richness test (anti join needs no
    // distinct on the right side)
    val newFews = newNames
      .join(ranked.filter(col("r") >= Q * tau + 1).select(col("nm")),
        Seq("nm"), "left_anti")
      .select(col("nm"), col("len"))
    // probe the new grams against standing + new postings — the shared
    // length-aware (Δlen, Δpos) expansion (see [[shiftPairs]]: at τ ≥ 2
    // equal length no longer implies zero position shift)
    val probes = bgrams
      .select(col("nm").as("p_nm"), col("g"), col("pos"), col("len"),
        explode(array(shiftPairs(tau): _*)).as("sp"))
      .select(col("p_nm"), col("g"),
        (col("pos") + col("sp.d")).as("pos"),
        (col("len") + col("sp.dl")).as("len"))
    // New–new pairs where both sides are rich fire in BOTH directions
    // (each side's postings are present and each side probes), so keep
    // only one (nm < p_nm) — half the verify volume, same pair set. A
    // dropped direction whose mirror is absent means the other side is
    // FEW (few names have no postings here), and every few-involved
    // pair is covered by the fallback legs below. Standing postings
    // keep both: a new→old candidate has no mirrored generation.
    val candBlock = postings.withColumn("standing", lit(true))
      .unionByName(newPostings.withColumn("standing", lit(false)))
      .join(probes, Seq("len", "pos", "g"))
      .filter(col("standing") || col("nm") < col("p_nm"))
      .select(col("nm").as("x"), col("p_nm").as("y"))
    // fallback legs: standing+new few names × NEW names, and new few
    // names × ALL names — each by the ±τ length window. The two legs
    // run as ONE join (r20 optimization round — guide §2.4): lhs is the
    // few set flagged is_new, rhs is all names flagged is_new, and a
    // pair qualifies iff (rhs is new) OR (lhs is a new few) — exactly
    // the union of the two legs as a SET, and the verified frame is
    // dropDuplicates'd, so leg multiplicity never mattered.
    val allNames = standingNames
      .withColumn("len", length(col("nm")))
      .withColumn("is_new", lit(false))
      .unionByName(newNames.withColumn("is_new", lit(true)))
      .repartition(np, col("nm"))
    val fews2 = fews.withColumn("is_new", lit(false))
      .unionByName(newFews.withColumn("is_new", lit(true)))
    val candFallback = fews2
      .select(col("nm").as("x"), col("is_new").as("x_new"),
        explode(sequence(col("len") - lit(tau), col("len") + lit(tau))).as("len"))
      .join(allNames.select(col("nm").as("y"), col("len"),
        col("is_new").as("y_new")), Seq("len"))
      .filter((col("y_new") || col("x_new")) && col("x") =!= col("y"))
      .select(col("x"), col("y"))
    // NO pre-verify distinct, deliberately: the candidate frame is
    // millions of STRING pairs and the distinct shuffle costs ~3x the
    // codegen'd 18-char levenshtein it would save — verify duplicates
    // redundantly, dedupe the (15x smaller) verified frame instead
    // (measured 2.9 s distinct vs ~1 s redundant verify per fold at
    // sf0.1). The one-shot engine keeps its distinct: there the pairs
    // are LONG keys, where the shuffle is cheap.
    val cand = candBlock
      .union(candFallback)
      .select(least(col("x"), col("y")).as("na"),
        greatest(col("x"), col("y")).as("nb"))
    val fresh = cand
      // banded threshold levenshtein — see repPairCore; same dist for
      // every kept row
      .withColumn("dist", levenshtein(col("na"), col("nb"), tau))
      .filter(col("dist") >= 0)
      .dropDuplicates("na", "nb")
    // fresh ∩ standing pairs = ∅ by construction (every fresh pair has a
    // NEW name on at least one side — the probe side of candBlock and
    // one side of each fallback leg are new names — while standing
    // pairs are old–old), so the union needs no re-dedup. Pin ONLY the
    // batch's delta (r20): the standing side is already pinned by the
    // folds that created it; re-checkpointing it grew fold cost with
    // the corpus instead of the batch. (An r20 A/B also tried deferring
    // the pair subtree to the resolve so the three folds' verifies fuse
    // into one job — at local[32]/sf0.1 every verify stage already
    // saturates the cores, so the deferral bought no overlap and paid
    // the bgrams/newNames recomputation twice: 9.1 s → 12.5 s. Eager
    // per-fold pairs kept.)
    encodeCore(batchMembers, newPostings, newFews, dfBatch)
      .unionByName(encodePairs(fresh))
  }

  /** Resolve ED state into the x217 cluster shape: per clustered member
    * the component's min custkey and size (singletons absent). The CC
    * runs on NAME-pair edges mapped to current min-key reps — the
    * label (min rep) is the min member custkey because every rep is
    * its group's minimum.
    */
  def edClustersFromState(state: DataFrame): DataFrame = {
    val members = kindOf(state, "m", "key", "nm")
    val pairs = kindOf(state, "p", "na", "nb", "dist")
    val reps = members.groupBy(col("nm")).agg(min(col("key")).as("rep"))
    val m2r = members.join(reps, Seq("nm")).select(col("key"), col("rep"))
    val edges = pairs
      .join(reps.select(col("nm").as("na"), col("rep").as("doc_a")), Seq("na"))
      .join(reps.select(col("nm").as("nb"), col("rep").as("doc_b")), Seq("nb"))
      .select(col("doc_a"), col("doc_b"))
    val lbl = Dedup.connectedComponents(edges)
    val assigned = m2r
      .join(lbl.select(col("id").as("rep"), col("lbl")), Seq("rep"), "left")
      .select(col("key").as("c_custkey"),
        coalesce(col("lbl"), col("rep")).as("cluster_id"))
    clusterSized(assigned)
  }

  /** x218: the incremental fold as a graded twin — the customer table
    * arrives in three deterministic batches (custkey mod 3), folds
    * through [[edInsertBatch]], and the final state's clusters must
    * hash-equal the one-shot x217 rebuild (the oracle IS x217's SQL).
    */
  def edClustersIncremental(s: SparkSession, dir: String, tau: Int = 1,
      cap: Int = 256): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey").as("key"), col("c_name").as("nm"))
    val fin = (0 until 3).map(i => cust.filter(pmod(col("key"), lit(3L)) === i.toLong))
      .foldLeft(edStateInit(s))((st, b) => edInsertBatch(st, b, tau, cap))
    edClustersFromState(fin)
  }

  /** x191: Fellegi–Sunter record linkage with nation blocking. The
    * incoming batch is a deterministic in-query perturbation of every
    * 50th customer (same corpus both engines): last name char replaced
    * by 'X' (one substitution, collides with no real name), balance
    * nudged 17 cents, clone_id = custkey + 10^9. Candidates = clones ×
    * customers sharing c_nationkey (the blocking key); each pair gets
    * an agreement vector — name level 2/1/0 (exact / within ed 2 /
    * far), cents within 50, segment equal — and the pinned integer
    * log-odds weights 40/24/−20, 12/−8, 5/−6. status: weight ≥ 40 →
    * match, ≥ 15 → possible; below 15 is suppressed (bounds the
    * output like any FS implementation).
    *
    * Scale: blocking is one equi-join; agreement and weights are
    * per-pair projections; no global state. Finer blocks (phone
    * prefixes, sorted-neighborhood windows) drop in by swapping the
    * join key.
    */
  def fsLinkage(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        floor(col("c_acctbal") * lit(100.0)).cast(LongType).as("cents"),
        col("c_mktsegment"))
    val clones = cust.filter(pmod(col("c_custkey"), lit(50L)) === lit(7L))
      .select((col("c_custkey") + lit(1000000000L)).as("clone_id"),
        concat(expr("substring(c_name, 1, length(c_name) - 1)"), lit("X"))
          .as("q_name"),
        col("c_nationkey"), (col("cents") + lit(17L)).as("q_cents"),
        col("c_mktsegment").as("q_seg"))
    val scored = clones.join(cust, Seq("c_nationkey"))
      .withColumn("name_lvl",
        when(col("q_name") === col("c_name"), 2)
          // banded threshold form: ≥ 0 ⟺ distance ≤ 2, at O(5·len)
          // cells per pair instead of the full DP
          .when(levenshtein(col("q_name"), col("c_name"), 2) >= 0, 1)
          .otherwise(0))
      .withColumn("acct_agree",
        (abs(col("q_cents") - col("cents")) <= lit(50L)).cast(IntegerType))
      .withColumn("seg_agree",
        (col("q_seg") === col("c_mktsegment")).cast(IntegerType))
      .withColumn("weight",
        when(col("name_lvl") === 2, 40).when(col("name_lvl") === 1, 24)
          .otherwise(-20)
        + when(col("acct_agree") === 1, 12).otherwise(-8)
        + when(col("seg_agree") === 1, 5).otherwise(-6))
    // materialize the scored pairs BEFORE the threshold filter:
    // Catalyst otherwise pushes the weight predicate into the blocking
    // join's condition, where the levenshtein DP re-evaluates up to 3x
    // per candidate pair (measured 24 s vs 8 s at the 10x corpus). The
    // checkpoint pins one DP per pair; the frame is block-join-sized,
    // never corpus-squared.
    scored.pinned.filter(col("weight") >= 15)
      .select(col("clone_id"), col("c_custkey").as("cand_custkey"),
        col("name_lvl"), col("acct_agree"), col("seg_agree"), col("weight"),
        when(col("weight") >= 40, lit("match")).otherwise(lit("possible"))
          .as("status"))
      .orderBy(col("clone_id"), col("cand_custkey"))
  }

  /** x193: one-to-one match resolution over the x191 scores by
    * reciprocal best match — a clone and a customer are assigned to
    * each other iff each is the other's highest-weight candidate
    * (ties by the partner's id), the standard symmetric-best rule that
    * turns pairwise ER scores into an assignment without a global
    * sequential pass. Output: the assigned pairs with their weight and
    * status.
    *
    * Scale: two per-key rank windows over the already-bounded
    * candidate frame + one equi-join of the two rank-1 sets — never
    * wider than the x191 output.
    */
  def mutualBestMatch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = fsLinkage(s, dir)
    val bestOfClone = scored.withColumn("r1", row_number().over(
        Window.partitionBy(col("clone_id"))
          .orderBy(col("weight").desc, col("cand_custkey"))))
      .filter(col("r1") === 1).drop("r1")
    val bestOfCand = scored.withColumn("r2", row_number().over(
        Window.partitionBy(col("cand_custkey"))
          .orderBy(col("weight").desc, col("clone_id"))))
      .filter(col("r2") === 1)
      .select(col("clone_id"), col("cand_custkey"))
    bestOfClone.join(bestOfCand, Seq("clone_id", "cand_custkey"))
      .select(col("clone_id"), col("cand_custkey").as("matched_custkey"),
        col("weight"), col("status"))
      .orderBy(col("clone_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x190_ed_simjoin" -> ((s: SparkSession, dir: String) => edSimJoin(s, dir)),
    "x220_ed_simjoin_stats" ->
      ((s: SparkSession, dir: String) => edSimJoinStats(s, dir)),
    "x221_ed_simjoin_sample" ->
      ((s: SparkSession, dir: String) => edSimJoinSample(s, dir)),
    "x191_fs_linkage" -> ((s: SparkSession, dir: String) => fsLinkage(s, dir)),
    "x193_mutual_best_match" -> ((s: SparkSession, dir: String) => mutualBestMatch(s, dir)),
    "x217_ed_clusters" -> ((s: SparkSession, dir: String) => edClusters(s, dir)),
    "x218_ed_clusters_incremental" -> ((s: SparkSession, dir: String) =>
      edClustersIncremental(s, dir)))

  private def edOracle(tau: Int, cap: Int): String =
    s"""WITH nm AS MATERIALIZED (
       |  SELECT c_custkey AS key, c_name AS nm, length(c_name) AS len
       |  FROM customer),
       |grams AS MATERIALIZED (
       |  SELECT key, p.pos, substr(nm, p.pos, $Q) AS g
       |  FROM nm, LATERAL (SELECT unnest(generate_series(1, len - ${Q - 1}))
       |    AS pos) p),
       |dfreq AS MATERIALIZED (
       |  SELECT pos, g, count(*) AS df FROM grams GROUP BY pos, g),
       |ridx AS MATERIALIZED (
       |  SELECT gr.key AS i_key, gr.pos, gr.g
       |  FROM grams gr JOIN dfreq USING (pos, g) WHERE df <= $cap),
       |rcnt AS (SELECT i_key, count(*) AS r FROM ridx GROUP BY i_key),
       |few AS MATERIALIZED (
       |  SELECT nm.key AS f_key, nm.len FROM nm
       |  LEFT JOIN rcnt ON rcnt.i_key = nm.key
       |  WHERE coalesce(r, 0) < ${Q * tau + 1}),
       |probes AS MATERIALIZED (
       |  SELECT key AS p_key, g, pos + d.d AS pos
       |  FROM grams, (SELECT unnest(generate_series(-$tau, $tau)) AS d) d),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a_custkey, b_custkey FROM (
       |    SELECT least(i_key, p_key) AS a_custkey,
       |      greatest(i_key, p_key) AS b_custkey
       |    FROM ridx JOIN probes USING (pos, g) WHERE i_key <> p_key
       |    UNION ALL
       |    SELECT least(f.f_key, o.key), greatest(f.f_key, o.key)
       |    FROM few f, (SELECT unnest(generate_series(-$tau, $tau)) AS d) d
       |    JOIN nm o ON o.len = f.len + d.d
       |    WHERE f.f_key <> o.key))
       |SELECT c.a_custkey, c.b_custkey,
       |  CAST(levenshtein(na.nm, nb.nm) AS INT) AS dist
       |FROM cand c JOIN nm na ON na.key = c.a_custkey
       |JOIN nm nb ON nb.key = c.b_custkey
       |WHERE levenshtein(na.nm, nb.nm) <= $tau
       |ORDER BY a_custkey, b_custkey""".stripMargin

  /** x217's twin: the x190 pair set resolved into connected components
    * (the x57 recursive-CTE discipline) — per clustered customer the
    * component's min custkey and size.
    */
  private def edClustersOracle(tau: Int, cap: Int): String =
    s"""WITH RECURSIVE nm AS MATERIALIZED (
       |  SELECT c_custkey AS key, c_name AS nm, length(c_name) AS len
       |  FROM customer),
       |grams AS MATERIALIZED (
       |  SELECT key, p.pos, substr(nm, p.pos, $Q) AS g
       |  FROM nm, LATERAL (SELECT unnest(generate_series(1, len - ${Q - 1}))
       |    AS pos) p),
       |dfreq AS MATERIALIZED (
       |  SELECT pos, g, count(*) AS df FROM grams GROUP BY pos, g),
       |ridx AS MATERIALIZED (
       |  SELECT gr.key AS i_key, gr.pos, gr.g
       |  FROM grams gr JOIN dfreq USING (pos, g) WHERE df <= $cap),
       |rcnt AS (SELECT i_key, count(*) AS r FROM ridx GROUP BY i_key),
       |few AS MATERIALIZED (
       |  SELECT nm.key AS f_key, nm.len FROM nm
       |  LEFT JOIN rcnt ON rcnt.i_key = nm.key
       |  WHERE coalesce(r, 0) < ${Q * tau + 1}),
       |probes AS MATERIALIZED (
       |  SELECT key AS p_key, g, pos + d.d AS pos
       |  FROM grams, (SELECT unnest(generate_series(-$tau, $tau)) AS d) d),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a_custkey, b_custkey FROM (
       |    SELECT least(i_key, p_key) AS a_custkey,
       |      greatest(i_key, p_key) AS b_custkey
       |    FROM ridx JOIN probes USING (pos, g) WHERE i_key <> p_key
       |    UNION ALL
       |    SELECT least(f.f_key, o.key), greatest(f.f_key, o.key)
       |    FROM few f, (SELECT unnest(generate_series(-$tau, $tau)) AS d) d
       |    JOIN nm o ON o.len = f.len + d.d
       |    WHERE f.f_key <> o.key)),
       |p AS MATERIALIZED (
       |  SELECT c.a_custkey AS doc_a, c.b_custkey AS doc_b
       |  FROM cand c JOIN nm na ON na.key = c.a_custkey
       |  JOIN nm nb ON nb.key = c.b_custkey
       |  WHERE levenshtein(na.nm, nb.nm) <= $tau),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
       |          UNION SELECT doc_b, doc_a FROM p),
       |reach AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
       |lbl AS (
       |  SELECT src AS c_custkey, least(src, min(dst)) AS cluster_id
       |  FROM reach GROUP BY src)
       |SELECT c_custkey, cluster_id,
       |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |FROM lbl ORDER BY c_custkey""".stripMargin

  private val fsOracle: String =
    """WITH cust AS MATERIALIZED (
      |  SELECT c_custkey, c_name, c_nationkey,
      |    CAST(floor(c_acctbal * 100.0) AS BIGINT) AS cents, c_mktsegment
      |  FROM customer),
      |clones AS MATERIALIZED (
      |  SELECT c_custkey + 1000000000 AS clone_id,
      |    substr(c_name, 1, length(c_name) - 1) || 'X' AS q_name,
      |    c_nationkey, cents + 17 AS q_cents, c_mktsegment AS q_seg
      |  FROM cust WHERE c_custkey % 50 = 7),
      |scored AS (
      |  SELECT cl.clone_id, c.c_custkey AS cand_custkey,
      |    CASE WHEN cl.q_name = c.c_name THEN 2
      |         WHEN levenshtein(cl.q_name, c.c_name) <= 2 THEN 1
      |         ELSE 0 END AS name_lvl,
      |    CAST(abs(cl.q_cents - c.cents) <= 50 AS INT) AS acct_agree,
      |    CAST(cl.q_seg = c.c_mktsegment AS INT) AS seg_agree
      |  FROM clones cl JOIN cust c USING (c_nationkey))
      |SELECT clone_id, cand_custkey, name_lvl, acct_agree, seg_agree,
      |  (CASE name_lvl WHEN 2 THEN 40 WHEN 1 THEN 24 ELSE -20 END
      |   + CASE acct_agree WHEN 1 THEN 12 ELSE -8 END
      |   + CASE seg_agree WHEN 1 THEN 5 ELSE -6 END) AS weight,
      |  CASE WHEN (CASE name_lvl WHEN 2 THEN 40 WHEN 1 THEN 24 ELSE -20 END
      |   + CASE acct_agree WHEN 1 THEN 12 ELSE -8 END
      |   + CASE seg_agree WHEN 1 THEN 5 ELSE -6 END) >= 40
      |    THEN 'match' ELSE 'possible' END AS status
      |FROM scored
      |WHERE (CASE name_lvl WHEN 2 THEN 40 WHEN 1 THEN 24 ELSE -20 END
      |   + CASE acct_agree WHEN 1 THEN 12 ELSE -8 END
      |   + CASE seg_agree WHEN 1 THEN 5 ELSE -6 END) >= 15
      |ORDER BY clone_id, cand_custkey""".stripMargin

  /** x193's twin: the x191 scored frame (as a CTE) + the same two
    * rank-1 windows joined on both keys.
    */
  private val mutualOracle: String = {
    val base = fsOracle.replace("ORDER BY clone_id, cand_custkey", "")
    s"""WITH fs AS MATERIALIZED ($base)
       |SELECT a.clone_id, a.cand_custkey AS matched_custkey, a.weight, a.status
       |FROM (SELECT *, row_number() OVER (PARTITION BY clone_id
       |        ORDER BY weight DESC, cand_custkey) AS r1 FROM fs) a
       |JOIN (SELECT clone_id, cand_custkey,
       |        row_number() OVER (PARTITION BY cand_custkey
       |          ORDER BY weight DESC, clone_id) AS r2 FROM fs) b
       |  ON b.clone_id = a.clone_id AND b.cand_custkey = a.cand_custkey
       |WHERE a.r1 = 1 AND b.r2 = 1
       |ORDER BY a.clone_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "x190_ed_simjoin" -> edOracle(1, 256),
    // x220: brute-force pair scan — a STRONGER independent twin than
    // replaying the blocking (every unordered pair, exact levenshtein)
    "x220_ed_simjoin_stats" ->
      """WITH nm AS (SELECT c_custkey AS key, c_name AS nm FROM customer)
        |SELECT CAST(levenshtein(a.nm, b.nm) AS INT) AS dist,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM nm a JOIN nm b ON a.key < b.key
        |WHERE levenshtein(a.nm, b.nm) <= 1
        |GROUP BY 1 ORDER BY dist""".stripMargin,
    // x221: brute-force pair scan + the SAME md5 keep-draw replayed —
    // the twin computes the exact denominator itself and keeps exactly
    // the pairs the Spark draw keeps (keep-all under budget)
    "x221_ed_simjoin_sample" ->
      """WITH nm AS MATERIALIZED (
        |  SELECT c_custkey AS key, c_name AS nm FROM customer),
        |p AS MATERIALIZED (
        |  SELECT a.key AS a_custkey, b.key AS b_custkey,
        |    CAST(levenshtein(a.nm, b.nm) AS INT) AS dist
        |  FROM nm a JOIN nm b ON a.key < b.key
        |  WHERE levenshtein(a.nm, b.nm) <= 1),
        |t AS (SELECT count(*) AS total_pairs FROM p)
        |SELECT p.a_custkey, p.b_custkey, p.dist, t.total_pairs
        |FROM p, t
        |WHERE t.total_pairs <= 1000
        |   OR (('0x' || substr(md5('x221:' || CAST(p.a_custkey AS VARCHAR)
        |        || ':' || CAST(p.b_custkey AS VARCHAR)), 1, 15))::BIGINT
        |       % 1000000) * t.total_pairs < 1000 * 1000000
        |ORDER BY p.a_custkey, p.b_custkey""".stripMargin,
    "x191_fs_linkage" -> fsOracle,
    "x193_mutual_best_match" -> mutualOracle,
    "x217_ed_clusters" -> edClustersOracle(1, 256),
    // the incremental fold must land EXACTLY on the one-shot rebuild —
    // same SQL twin as x217, graded independently
    "x218_ed_clusters_incremental" -> edClustersOracle(1, 256))
}
