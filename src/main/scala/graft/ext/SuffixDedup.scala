package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.engine.{SessionMemo, Tables}
import graft.engine.Pin.PinOps

/** Exact-substring dedup (the ExactSubstr pass of Lee et al. 2022,
  * "Deduplicating Training Data Makes Language Models Better") via a
  * DISTRIBUTED SUFFIX ARRAY — the one dedup family the chunk (x52/x116),
  * winnowing (x70) and line (x149) grains only approximate: arbitrary
  * cross-document repeated token runs of length >= L, located exactly.
  *
  * Construction is prefix doubling (Manber–Myers, in its sort/join
  * distributed form, cf. Flick & Aluru SC'15): every token position is a
  * suffix; round k refines an order-preserving integer rank of each
  * suffix's first k symbols into one over 2k symbols by pairing
  * `(rank(p), rank(p+k))` and re-ranking. The seed rank already orders
  * the first `SeedWidth` (8) tokens via INTEGER vocabulary ranks —
  * distinct tokens get order-preserving labels in one vocabulary-sized
  * sort, each position takes its own + the next 7 labels by per-doc
  * lead windows, and the seed sort compares 8 longs per row (profiled
  * 10x: the former 4-token gram-STRING seed alone cost 16.3 s; the
  * whole int-seeded build runs in 24 s — see BASELINE.md's r13 table)
  * — so log2(maxDocTokens) - 3 rounds remain, each ONE
  * per-document `lead` window plus ONE range-partitioned sort. Suffixes
  * never compare past their own document (`lead` is per-doc; a missing
  * symbol ranks below every real rank, which is exactly the
  * shorter-suffix-first rule), so rounds stop at the LONGEST DOCUMENT
  * (not the corpus — the scale lever: 100 TB of 100k-token docs is ~15
  * rounds). Documents whose full suffixes are character-identical
  * across the corpus tie in content order and are broken by doc_id at
  * densification — the DuckDB twin's ORDER BY suffix, doc_id.
  *
  * Scale shape per round: one hash exchange on doc_id (the `lead`
  * window), then `repartitionByRange` + in-partition sort +
  * `monotonically_increasing_id` (order-preserving labels with NO
  * global window and NO driver collect) + a min-window over the tied
  * group, which the range layout already satisfies — no further
  * exchange. Partition counts are left to AQE: a test corpus coalesces
  * to a few tasks, a 100 TB corpus fans out. Each round is
  * checkpointed — the x82 unrolled-iteration discipline — so plans
  * stay linear.
  *
  * Downstream, the threshold-L duplicated-position test is suffix-array
  * ADJACENCY: the suffixes sharing a first-L-token prefix form a
  * contiguous run in SA order, so position p is duplicated iff its
  * L-token window equals an SA-NEIGHBOR's window — no corpus-wide
  * gram shuffle on the hot path. Spans (x162) and the scrubbed corpus
  * (x163) derive from those positions exactly as in the paper: merge
  * overlapping windows per document, cut the merged spans out.
  *
  * Reference scope: not in the reference pipeline (its dedup is
  * `SELECT DISTINCT` at dimension grain — `dags/` star-schema DAG);
  * this lane is the builder brief's LLM-data dedup ask.
  */
object SuffixDedup {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** Duplicated-run threshold in tokens (Lee et al. use 50 BPE tokens at
    * web scale; 8 keeps the pinned test corpus non-vacuous — ~2k of 24k
    * positions sit in a repeated 8-gram there).
    */
  val MinMatchTokens = 8

  /** LCP cap persisted with the artifact: one more than the largest L any
    * consumer tests (CurveLs max 32), so `min(realLcp, LcpCap) >= L` is
    * exactly `realLcp >= L` for every consumed L. A deployment raising L
    * past the cap (Lee et al.'s 50) raises the cap and re-publishes —
    * the fingerprint-keyed root makes that a new artifact, not a rewrite.
    */
  private[ext] val LcpCap = 33

  /** Seed-rank width: the base sort orders this many leading tokens at
    * once, cutting two doubling rounds vs token-grain seeding.
    */
  private val SeedWidth = 8

  /** Order-preserving integer labels for lexicographic `keys` order,
    * with equal keys receiving equal labels — the distributed re-rank
    * primitive. Labels are NOT dense (monotonically_increasing_id =
    * pid << 33 | in-partition row number, group-minimized); density is
    * never needed mid-doubling, only order, so no global window, no
    * zipWithIndex barrier, no driver round-trip. Range partitioning
    * puts equal keys in one partition and orders partitions by key
    * range, so the label order extends the key order across the
    * cluster; and because RangePartitioning on `keys` satisfies the
    * window's ClusteredDistribution over the same keys, the label
    * window runs WITHOUT a further exchange or sort. `grp_n` (group
    * size, same window — one WindowExec) rides along so the caller's
    * all-distinct test is a filter on the frame it already has, not a
    * second aggregate pass.
    */
  private def orderLabel(df: DataFrame, keys: Seq[Column]): DataFrame =
    df.repartitionByRange(keys: _*)
      .sortWithinPartitions(keys: _*)
      .withColumn("__lbl", monotonically_increasing_id())
      .withColumn("rank_new", min(col("__lbl")).over(
        Window.partitionBy(keys: _*)))
      .withColumn("grp_n", count(lit(1)).over(
        Window.partitionBy(keys: _*)))
      .drop("__lbl")

  /** (doc_id, pos, tok) for every token of a (doc_id, text) frame,
    * 0-based — shared with the streaming scrub lane.
    */
  private[graft] def tokenPositionsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        posexplode(TextAnalysis.wsTokens(lower(col("text")))).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast(LongType).as("pos"), col("tok"))

  /** (doc_id, pos, tok) for every token of every document, 0-based. */
  private[ext] def tokenPositions(s: SparkSession, dir: String): DataFrame =
    tokenPositionsOf(t(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism))

  /** Per-(session, dataset) final suffix ranks — shared by x161/x162/x163. */
  private val rankCache = SessionMemo[String, DataFrame]("SuffixDedup.rank")

  /** Prefix-doubling suffix ranking over the whole corpus: one row per
    * token position, `rank` ordered by suffix content — suffixes with
    * IDENTICAL full content (cross-document exact dups) share a rank
    * and are broken by doc_id at densification.
    *
    * The seed rank orders the first `SeedWidth` tokens in one sort of
    * the leading-gram STRING (equal to token order: tokens are
    * space-free, ' ' sorts below them, and a suffix shorter than the
    * window is a strict prefix of any extension, so string-prefix-first
    * IS shorter-suffix-first). Suffixes ending within the window are
    * fully determined and take doc_id as a final key so cross-doc
    * identical short suffixes order deterministically; longer suffixes
    * sharing a seed gram stay tied for the doubling rounds to refine.
    * The phases carry no in-code timer: the stdout profiler behind
    * BASELINE.md's round-13 phase table was removed, because per-phase
    * times belong to the Spark listener's job record, not to println.
    */
  private[ext] def suffixRanks(s: SparkSession, dir: String): DataFrame =
    rankCache(s, dir) {
      // Seed via INTEGER vocabulary ranks, not gram strings: distinct
      // tokens get order-preserving labels (vocabulary-sized sort),
      // each position takes its own + the next SeedWidth-1 labels by
      // per-doc lead windows, and the seed sort compares SeedWidth longs
      // instead of ~25-byte UTF8 grams. Profiled at 10x: the string
      // seed was 16.3 s — the dominant build phase, 2.7 M gram strings
      // through the range sampler + exchange + sort; the int spelling
      // removes the string materialization entirely. -1 = "suffix ends
      // before this slot", sorting below every real label = the
      // shorter-suffix-first rule (a short suffix's key is a strict
      // prefix of any extension's). Cross-doc content-identical short
      // suffixes stay tied here and break by doc_id at densification,
      // like every other content tie.
      // one tokenize+explode pass, reused by the vocab build, the seed
      // join, and the maxLen bound (was three separate corpus scans)
      val toks = tokenPositions(s, dir).pinned
      val vocab = orderLabel(toks.select(col("tok")).distinct(), Seq(col("tok")))
        .select(col("tok"), col("rank_new").as("vr"))
        .pinned
      val byDocSeed = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val seeded = toks.join(vocab, Seq("tok"))
        .select(col("doc_id"), col("pos"), col("vr").as("r1"))
        .select(Seq(col("doc_id"), col("pos"), col("r1")) ++
          (1 until SeedWidth).map(i =>
            coalesce(lead(col("r1"), i).over(byDocSeed), lit(-1L))
              .as(s"r${i + 1}")): _*)
      var ranks = orderLabel(seeded, (1 to SeedWidth).map(i => col(s"r$i")))
        .select(col("doc_id"), col("pos"), col("rank_new").as("rank"),
          col("grp_n"))
        .pinned
      // after the round with shift k, ranks order the first 2k tokens;
      // stop once that covers the longest document OR all ranks are
      // already distinct — real text can disambiguate in
      // O(log longestRepeat) rounds, well before the longest-doc bound
      // (the sf0.1 fixture does NOT stop early: it contains
      // near-duplicate documents with 64+-token repeats, so every
      // round runs; prose corpora without full-doc dups stop sooner)
      val maxLen = toks.agg(max(col("pos"))).head().getLong(0) + 1L
      val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      var k = SeedWidth.toLong
      var distinct = false
      while (k < maxLen && !distinct) {
        // rank of the suffix k tokens ahead IN THE SAME DOCUMENT: a
        // per-doc lead window (positions are 0..n_tokens-1 contiguous),
        // ONE exchange on doc_id — half the traffic of the
        // (doc_id, pos) self-join spelling. -1 = "suffix ends inside
        // this window": shorter sorts first, below every real label
        // (labels are nonnegative). LAZY checkpoint: the range
        // partitioner's sampling job is the pass that materializes it,
        // and the shuffle then reads stored rows — one execution of the
        // window, not two, and no dedicated materialization pass.
        val paired = ranks
          .withColumn("rank2",
            coalesce(lead(col("rank"), k.toInt).over(byDoc), lit(-1L)))
          .pinnedLazy
        ranks = orderLabel(paired, Seq(col("rank"), col("rank2")))
          .select(col("doc_id"), col("pos"), col("rank_new").as("rank"),
            col("grp_n"))
          .pinned
        // the all-distinct test reads the grp_n the labeling window
        // already computed — a filter on the checkpointed frame
        distinct = ranks.filter(col("grp_n") > 1L).isEmpty
        k *= 2
      }
      ranks.drop("grp_n")
    }

  private val saCache = SessionMemo[String, DataFrame]("SuffixDedup.sa")

  /** Corpus fingerprint — see [[graft.engine.CorpusArtifact.fingerprint]]
    * (the store machinery was factored to the engine in round 19 so the
    * KMV element frame and future publish-time products share it).
    */
  private[ext] def corpusFingerprint(s: SparkSession, dir: String): String =
    graft.engine.CorpusArtifact.fingerprint(s, dir)

  /** The [[graft.engine.VersionedTable]] root holding this corpus
    * state's persisted suffix array. Keyed by fingerprint: a changed
    * corpus gets a NEW root (the old artifact stays readable — time
    * travel with the corpus snapshot), an unchanged corpus always
    * resolves the same root across processes.
    */
  private[ext] def saArtifactRoot(s: SparkSession, dir: String): String =
    // `sa2`: schema v2 (LCP-augmented). v1 roots (`sa-`, no lcp columns)
    // never resolve under the new name, so a process upgrade rebuilds
    // once per corpus instead of reading a column-short artifact.
    graft.engine.CorpusArtifact.root(s, dir, "sa2")

  /** Build-once persistence of the suffix array — the 100-TB remedy for
    * the lane's one super-linear term. The SA COLD build's
    * prefix-doubling rounds each shuffle the full token frame (measured
    * r16: 410 s of x174's 100x wall was the per-session rebuild); at
    * scale the SA is built ONCE per corpus publish, committed as a
    * versioned artifact keyed by the corpus fingerprint, and every
    * dedup/scrub/curve consumer reads (doc_id, pos, sa) back as a plain
    * parquet scan. Idempotent: an already-committed artifact is reused
    * (across processes — the fingerprint, not the session, is the key);
    * the L1 [[saCache]] then keeps the in-session DataFrame. Returns the
    * committed artifact version. Part of [[graft.Bench.ensureArtifacts]],
    * next to `buildAnnIndex`.
    */
  def ensureSa(s: SparkSession, dir: String): Long = {
    val root = saArtifactRoot(s, dir)
    val v = graft.engine.VersionedTable.latestVersion(s, root).getOrElse {
      graft.engine.VersionedTable.commit(buildSuffixArray(s, dir), root)
    }
    saCache.put(s, dir,
      graft.engine.VersionedTable.read(s, root, Some(v))): Unit
    v
  }

  /** The dense LCP-augmented suffix array: (doc_id, pos, sa, lcp_prev,
    * lcp_next), sa = 0..n-1 in suffix order, rank ties (content-identical
    * cross-doc suffixes) broken by doc_id — the twin's ORDER BY suffix,
    * doc_id — and the capped neighbor LCPs of [[withLcp]]. Resolution order:
    * L1 session cache, then a committed artifact for this corpus
    * fingerprint (see [[ensureSa]] — a parquet scan, no rebuild), then
    * the in-session build. Densification in the build is the one
    * bounded driver round-trip in the lane: per-partition row counts
    * (one long per shuffle partition) turn range-partitioned
    * in-partition row numbers into global indexes — the same class as
    * the audited k-row collects in BloomJoin/Graph.
    */
  private[ext] def suffixArray(s: SparkSession, dir: String): DataFrame =
    saCache(s, dir) {
      val root = saArtifactRoot(s, dir)
      graft.engine.VersionedTable.latestVersion(s, root) match {
        case Some(v) => graft.engine.VersionedTable.read(s, root, Some(v))
        case None => buildSuffixArray(s, dir)
      }
    }

  private def buildSuffixArray(s: SparkSession, dir: String): DataFrame = {
    val (numbered, _) = graft.plans.TopKPerKey.denseNumber(suffixRanks(s, dir),
      Seq(col("rank"), col("doc_id")), "rn")
    withLcp(s, dir,
      numbered.select(col("doc_id"), col("pos"), (col("rn") - 1L).as("sa")).pinned)
  }

  /** Augment the dense SA with capped token-LCPs of SA-adjacent suffixes:
    * `lcp_next(sa)` = leading tokens shared with suffix `sa+1`,
    * `lcp_prev(sa)` = `lcp_next(sa-1)`, both in [0, LcpCap]. This is the
    * column that turns every threshold-L duplicated-window test into a
    * FILTER on the artifact (window at p duplicated iff a full-SA
    * neighbor shares >= L leading tokens iff `lcp_prev >= L or
    * lcp_next >= L` — equal L-prefixes sort contiguously, and a
    * shorter-than-L neighbor's lcp is bounded by its own length, so
    * eligibility is implied). Spelled as one capped-slice pass
    * (`slice(w, pos+1, LcpCap)` per position), one join to SA order, one
    * shifted self-join, and a leading-equal fold (`zip_with` null-pads
    * the shorter suffix, `<=>` makes the pad compare false — the
    * min-length bound for free). Exact token comparison, no hashes — the
    * artifact is the gate the whole lane rides on.
    */
  private def withLcp(s: SparkSession, dir: String, sa: DataFrame): DataFrame = {
    val wins = t(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), TextAnalysis.wsTokens(lower(col("text"))).as("w"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("w")) - 1),
          i => slice(col("w"), i + 1, lit(LcpCap)))).as(Seq("pos", "win")))
      .select(col("doc_id"), col("pos").cast(LongType).as("pos"), col("win"))
    // every join here is corpus-sized on BOTH sides — pin sort-merge.
    // Unhinted, the checkpointed SA frame's propagated size estimate
    // (stats survive localCheckpoint, chained from a pruned parquet
    // scan that never saw the text column) read small enough to
    // BROADCAST 60 M rows at the 100x corpus: a 3.4 GiB driver collect
    // that blows maxResultSize. The hint states what is true at any
    // scale: neither side of a position-grain join fits a driver.
    val withWin = sa.hint("merge").join(wins, Seq("doc_id", "pos")).pinnedLazy
    val nxt = withWin.select((col("sa") - 1L).as("sa"), col("win").as("win_next"))
    val eqArr = zip_with(col("win"), col("win_next"), (x, y) => x <=> y)
    val firstNe = array_position(eqArr, lit(false))
    val lcpNext = withWin.hint("merge").join(nxt, Seq("sa"), "left")
      .withColumn("lcp_next",
        when(col("win_next").isNull, lit(0L)) // sa = n-1: no successor
          .otherwise(when(firstNe === 0L, size(eqArr).cast(LongType))
            .otherwise(firstNe - 1L)))
      .select(col("doc_id"), col("pos"), col("sa"), col("lcp_next"))
      .pinnedLazy
    val prv = lcpNext.select((col("sa") + 1L).as("sa"),
      col("lcp_next").as("lcp_prev"))
    lcpNext.hint("merge").join(prv, Seq("sa"), "left")
      .select(col("doc_id"), col("pos"), col("sa"),
        coalesce(col("lcp_prev"), lit(0L)).as("lcp_prev"), col("lcp_next"))
      .pinned
  }

  /** x161: the suffix array itself, hash-gated position by position
    * against DuckDB's brute-force suffix sort — the certificate the
    * whole lane rides on. Emitted as (doc_id, pos, sa).
    */
  def suffixArrayDump(s: SparkSession, dir: String): DataFrame =
    suffixArray(s, dir).select(col("doc_id"), col("pos"), col("sa"))
      .orderBy(col("doc_id"), col("pos"))

  /** The L-token window starting at each position, as the space-joined
    * token string (exact — no hash in the gate; a 100 TB run would
    * xxhash64 it and accept the 2^-64 collision odds): (doc_id, pos,
    * gram), positions with fewer than L tokens left get no row.
    */
  private[graft] def gramsOf(docs: DataFrame, L: Int): DataFrame =
    docs
      .select(col("doc_id"), TextAnalysis.wsTokens(lower(col("text"))).as("w"))
      .filter(size(col("w")) >= L)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), size(col("w")) - L),
          i => concat_ws(" ", slice(col("w"), i + 1, lit(L)))))
        .as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos").cast(LongType).as("pos"), col("gram"))

  /** (doc_id, pos, ghash): the 8-byte window identity per L-token window
    * — [[graft.functions.HashedWindows]] in one generator pass, for
    * consumers that join on window EQUALITY and never read the text
    * (the scrub-ingest standing set). ~25x smaller join payload than
    * [[gramsOf]]'s strings; equal windows always hash equal, distinct
    * ones collide at ~2^-64 per pair (odds documented on the generator).
    */
  private[graft] def gramHashesOf(docs: DataFrame, L: Int): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    docs.select(col("doc_id"), ColumnBridge.column(
      graft.functions.HashedWindows(
        ColumnBridge.expression(lower(col("text"))), L)))
  }

  private[ext] def gramAt(s: SparkSession, dir: String, L: Int): DataFrame =
    gramsOf(t(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism), L)

  private val coveredCache = SessionMemo[(String, Int), DataFrame]("SuffixDedup.covered")

  /** Duplicated window starts: (doc_id, pos, cross_doc) for every
    * position whose L-token window occurs at least twice in the corpus.
    * The test is SA adjacency (equal windows are SA-contiguous, so any
    * member of a >= 2 group has an equal NEIGHBOR), and since the
    * artifact carries capped neighbor LCPs it is a pure FILTER:
    * `lcp_prev >= L or lcp_next >= L` — zero gram derivation per L, the
    * round-19 remedy for the per-L tokenize+window passes that dominated
    * x174/x162 at 100x. cross_doc needs the window's full occurrence
    * set: equal L-prefixes are exactly the maximal SA RUNS whose
    * consecutive lcps are all >= L (prefix equality is transitive), so
    * runs are segmented with the densify discipline — range-partition
    * the survivors by sa, per-partition running max of run-start sa
    * (start = `lcp_prev < L`; no row interrupts a run, because anything
    * sorting between two >= L-prefix-equal suffixes shares the prefix),
    * carry-in per partition from a bounded one-row-per-partition
    * collect — then one countDistinct(doc_id) per run. No global
    * window, no gram strings on the shuffle: longs only.
    */
  private[ext] def coveredPositions(s: SparkSession, dir: String,
      L: Int = MinMatchTokens): DataFrame =
    coveredCache(s, (dir, L)) {
      require(L <= LcpCap, s"coveredPositions L=$L exceeds LcpCap=$LcpCap: " +
        "raise the cap and re-publish the artifact")
      val covered = suffixArray(s, dir)
        .filter(col("lcp_prev") >= L || col("lcp_next") >= L)
        .repartitionByRange(col("sa"))
        .sortWithinPartitions(col("sa"))
        .withColumn("part", spark_partition_id())
        .withColumn("start_sa", when(col("lcp_prev") < L, col("sa")))
        .pinned
      val runLocal = max(col("start_sa")).over(
        Window.partitionBy(col("part")).orderBy(col("sa"))
          .rowsBetween(Window.unboundedPreceding, 0))
      // carry-in: the last run start seen in any EARLIER partition (range
      // layout orders partitions by sa) — one long per partition
      val partMax = covered.groupBy(col("part"))
        .agg(max(col("start_sa")).as("m")).collect()
        .map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .sortBy(_._1)
      val ms = partMax.map(_._2)
      val carries: Seq[(Int, Long)] = partMax.map(_._1).zipWithIndex.flatMap {
        case (p, i) => ms.take(i).flatten.lastOption.map(p -> _)
      }.toSeq
      val carryCol = carries.foldLeft(lit(null).cast(LongType)) {
        case (acc, (p, v)) => when(col("part") === p, lit(v)).otherwise(acc)
      }
      val runs = covered
        .withColumn("run_id", coalesce(runLocal, carryCol))
        .pinnedLazy
      val runDocs = runs.groupBy(col("run_id"))
        .agg(countDistinct(col("doc_id")).as("n_docs"))
      runs.join(runDocs, Seq("run_id"))
        .select(col("doc_id"), col("pos"), (col("n_docs") >= 2L).as("cross_doc"))
    }

  /** x162: the ExactSubstr audit — maximal duplicated spans per document
    * (the x85 shape at suffix-array exactness): overlapping/touching
    * L-token duplicated windows merge into [span_start, span_end) token
    * intervals via the classic island scan, per-document windows only
    * (partitionBy doc_id — no global funnel). Per span: token length,
    * contributing window count, and whether any window also occurs in
    * another document.
    */
  def exactSubstrSpans(s: SparkSession, dir: String,
      L: Int = MinMatchTokens): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    coveredPositions(s, dir, L)
      .withColumn("end", col("pos") + L)
      .withColumn("prev_max_end",
        max(col("end")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_span",
        when(col("prev_max_end").isNull || col("pos") > col("prev_max_end"), 1L)
          .otherwise(0L))
      .withColumn("island",
        sum(col("new_span")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"), max(col("end")).as("span_end"),
        count(lit(1)).as("n_windows"), max(col("cross_doc")).as("cross_doc"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"),
        col("n_windows"), col("cross_doc"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** x163: the scrubbed corpus (the x116 shape at substring exactness):
    * every token inside a duplicated span is cut, survivors re-join in
    * position order, and the doc-grain report carries exact counts plus
    * the md5 of the scrubbed text (empty string when a document is
    * entirely duplicated material).
    */
  def exactSubstrScrub(s: SparkSession, dir: String,
      L: Int = MinMatchTokens): DataFrame =
    scrubReport(tokenPositions(s, dir),
      coveredPositions(s, dir, L).select(col("doc_id"), col("pos")), L)
      .orderBy(col("doc_id"))

  /** The scrub aggregation shared by x163 and the streaming lane: given
    * token positions and duplicated WINDOW-START positions, cut every
    * token inside a window, re-join survivors in position order, report
    * exact counts + the md5 of the scrubbed text per document.
    *
    * Coverage is decided by a per-doc BOUNDARY-EVENT scan over the
    * island-merged spans (the x174 lesson applied to the cut set): the
    * old spelling exploded every covered window into its L token
    * positions and global-distinct'ed them — ~240 M rows into one
    * distinct at the 100x clone corpus — where the spans are disjoint
    * intervals whose +1/−1 boundary prefix-sum marks each token in ONE
    * ordered pass per document (token at p covered iff
    * #starts(<=p) > #ends(<=p); ends sort before starts before tokens
    * at equal pos, the half-open [start, end) rule). Linear in
    * tokens + spans at any duplication density — a pathological
    * alternating-span document costs its token count, never
    * tokens x spans.
    */
  private[graft] def scrubReport(tokens: DataFrame, coveredStarts: DataFrame,
      L: Int): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = coveredStarts
      .withColumn("end", col("pos") + L)
      .withColumn("prev_max_end",
        max(col("end")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_span",
        when(col("prev_max_end").isNull || col("pos") > col("prev_max_end"), 1L)
          .otherwise(0L))
      .withColumn("island",
        sum(col("new_span")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"), max(col("end")).as("span_end"))
    val nullTok = lit(null).cast(org.apache.spark.sql.types.StringType).as("tok")
    val events = spans
      .select(col("doc_id"), col("span_end").as("pos"),
        lit(0).as("prio"), lit(-1L).as("delta"), nullTok)
      .unionByName(spans.select(col("doc_id"), col("span_start").as("pos"),
        lit(1).as("prio"), lit(1L).as("delta"), nullTok))
      .unionByName(tokens.select(col("doc_id"), col("pos"),
        lit(2).as("prio"), lit(0L).as("delta"), col("tok")))
    val byDocEv = Window.partitionBy(col("doc_id"))
      .orderBy(col("pos"), col("prio"))
      .rowsBetween(Window.unboundedPreceding, 0)
    events
      .withColumn("open", sum(col("delta")).over(byDocEv))
      .filter(col("prio") === 2)
      .withColumn("covered", col("open") > 0L)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("covered"), 1L).otherwise(0L)).as("n_cut"),
        sum(when(!col("covered"), 1L).otherwise(0L)).as("n_kept"),
        md5(array_join(
          transform(array_sort(collect_list(
            when(!col("covered"), struct(col("pos"), col("tok"))))),
            x => x.getField("tok")), " ")).as("scrubbed_md5"))
      .select(col("doc_id"), col("n_tokens"), col("n_cut"), col("n_kept"),
        col("scrubbed_md5"))
  }

  /** x214: substring-exact DECONTAMINATION spans — the Lee et al. 2022
    * decontamination pass at x162's span exactness: maximal train-doc
    * token intervals covered by L-gram windows that ALSO occur in the
    * eval set. Where x213 drops whole documents on a collision-rate
    * threshold, this locates the exact leaked substrings (what you cut
    * when the document is worth keeping). L = 4 on this fixture (its
    * cross-source repeats are short; web scale uses ~50 BPE tokens —
    * the x174 curve is how you'd pick).
    *
    * Scale shape: the eval gram set is benchmark-sized and broadcasts;
    * train grams semi-join it map-side, and the island merge is
    * per-document windows only. No suffix array needed — the probe set
    * is tiny, so the gram hash join IS the right plan (the SA earns
    * its build cost only for corpus-vs-corpus duplication, x161–x163).
    */
  def evalSpans(s: SparkSession, dir: String, L: Int = 4,
      evalSource: String = "src19"): DataFrame = {
    val docs = t(s, dir, "documents")
    val split = docs.repartition(s.sparkContext.defaultParallelism)
    val evalGrams = gramsOf(split.filter(col("source") === evalSource), L)
      .select(col("gram")).distinct()
    val covered = gramsOf(split.filter(col("source") =!= evalSource), L)
      .join(broadcast(evalGrams), Seq("gram"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    covered
      .withColumn("end", col("pos") + L)
      .withColumn("prev_max_end",
        max(col("end")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_span",
        when(col("prev_max_end").isNull || col("pos") > col("prev_max_end"), 1L)
          .otherwise(0L))
      .withColumn("island",
        sum(col("new_span")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"), max(col("end")).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"),
        col("n_windows"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** The curve's L grid: the graded default (8) plus two octaves up —
    * the datasheet a dedup operator reads to PICK L (Lee et al. fix 50
    * BPE tokens at web scale; the right L is corpus-dependent and this
    * measures exactly how much each choice would cut).
    */
  val CurveLs: Seq[Int] = Seq(8, 16, 32)

  /** Per-document token counts, read off the SA artifact (one row per
    * position) — the doc-grain frame every curve point's denominator
    * aggregates derive from, cached per (session, corpus).
    */
  private val docLenCache = SessionMemo[String, DataFrame]("SuffixDedup.docLen")

  private def docTokenCounts(s: SparkSession, dir: String): DataFrame =
    docLenCache(s, dir)(
      suffixArray(s, dir).groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_toks")).pinned)

  /** x174: corpus duplication-rate curve vs the match threshold L — for
    * each L: total token positions, eligible window starts, duplicated
    * starts (and how many span >= 2 documents), tokens that scrubbing
    * at that L would cut, and the resulting cut rate. One LCP-augmented
    * suffix-array build (the per-publish artifact) serves every L; each
    * curve point is a FILTER on the artifact plus the per-doc island
    * merge — no tokenize, no gram derivation, no corpus scan per L
    * (the r18 record's remaining 157 s at 100x was exactly the three
    * per-L gram passes this spelling deletes). Window-start counts come
    * from the cached per-doc token counts: starts(L) = Σ max(n-L+1, 0).
    */
  def dupRateCurve(s: SparkSession, dir: String,
      ls: Seq[Int] = CurveLs): DataFrame =
    ls.map { l =>
      val cov = coveredPositions(s, dir, l)
      val covAgg = cov.agg(count(lit(1)).as("n_covered_starts"),
        coalesce(sum(when(col("cross_doc"), 1L).otherwise(0L)), lit(0L))
          .as("n_cross_doc_starts"))
      // cut tokens = the size of the per-doc interval UNION of the
      // covered windows = Σ span lengths of the x162 island merge —
      // identical by construction (islands are disjoint and cover
      // exactly the union), but a per-doc window pass over covered
      // STARTS instead of explode(L)+distinct over covered TOKENS
      // (at the 100x corpus the L=32 point alone exploded 860 M rows
      // into a global distinct — the dominant term of x174's 229.9 s)
      val cut = exactSubstrSpans(s, dir, l)
        .agg(coalesce(sum(col("span_tokens")), lit(0L)).as("n_cut_tokens"))
      val counts = docTokenCounts(s, dir).agg(
        coalesce(sum(col("n_toks")), lit(0L)).as("n_positions"),
        coalesce(sum(greatest(col("n_toks") - (l - 1), lit(0L))), lit(0L))
          .as("n_window_starts"))
      counts.crossJoin(covAgg).crossJoin(cut)
        .select(lit(l).as("l_tokens"), col("n_positions"), col("n_window_starts"),
          col("n_covered_starts"), col("n_cross_doc_starts"), col("n_cut_tokens"),
          (col("n_cut_tokens").cast("double") / col("n_positions").cast("double"))
            .as("cut_rate"))
    }.reduce(_ unionByName _).orderBy(col("l_tokens"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x161_suffix_array" -> ((s: SparkSession, dir: String) => suffixArrayDump(s, dir)),
    "x162_exact_substr_spans" ->
      ((s: SparkSession, dir: String) => exactSubstrSpans(s, dir)),
    "x163_exact_substr_scrub" ->
      ((s: SparkSession, dir: String) => exactSubstrScrub(s, dir)),
    "x174_dup_rate_curve" ->
      ((s: SparkSession, dir: String) => dupRateCurve(s, dir)),
    "x214_eval_spans" ->
      ((s: SparkSession, dir: String) => evalSpans(s, dir)))

  /** Shared DuckDB CTEs: tokenized docs and the brute-force covered
    * window starts (gram occurs >= 2 times corpus-wide; the twin of the
    * SA-adjacency test) with the >= 2-document flag.
    */
  private def coveredCtes(L: Int): String =
    s"""d AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
       |     FROM documents),
       |g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
       |        array_to_string(list_slice(w, i, i + $L - 1), ' ') AS gram
       |      FROM d, LATERAL (SELECT unnest(generate_series(1, len(w) - $L + 1)) AS i)),
       |gc AS (SELECT gram, count(*) AS n, count(DISTINCT doc_id) AS nd
       |       FROM g GROUP BY gram),
       |cov AS (SELECT g.doc_id, g.pos, gc.nd >= 2 AS cross_doc
       |        FROM g JOIN gc USING (gram) WHERE gc.n >= 2)""".stripMargin

  lazy val oracles: Map[String, String] = Map(
    // x214: the same 4-gram derivation, hit test against the eval-side
    // distinct gram set, the identical island merge per train doc
    "x214_eval_spans" ->
      """WITH d AS (SELECT doc_id, source,
        |             string_split_regex(trim(lower(text)), '\s+') AS w
        |           FROM documents),
        |g AS (SELECT doc_id, source, CAST(i - 1 AS BIGINT) AS pos,
        |        array_to_string(list_slice(w, i, i + 3), ' ') AS gram
        |      FROM d, LATERAL (SELECT unnest(generate_series(1, len(w) - 3)) AS i)),
        |ev AS (SELECT DISTINCT gram FROM g WHERE source = 'src19'),
        |cov AS (SELECT g.doc_id, g.pos FROM g JOIN ev USING (gram)
        |        WHERE g.source <> 'src19'),
        |isl AS (
        |  SELECT doc_id, pos, pos + 4 AS e,
        |    CASE WHEN max(pos + 4) OVER (
        |           PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |         OR pos > max(pos + 4) OVER (
        |           PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    THEN 1 ELSE 0 END AS new_span
        |  FROM cov),
        |isl2 AS (
        |  SELECT doc_id, pos, e,
        |    sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM isl)
        |SELECT doc_id, min(pos) AS span_start, max(e) AS span_end,
        |  max(e) - min(pos) AS span_tokens,
        |  CAST(count(*) AS BIGINT) AS n_windows
        |FROM isl2 GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,
    // x161: brute-force suffix sort. Joining tokens with single spaces
    // makes string order equal token order (every token is [a-z0-9]+,
    // and ' ' sorts below both ranges), the shorter-is-prefix rule
    // plays the unique terminator, and doc_id breaks cross-document
    // full-suffix ties exactly like the terminators' doc_id ranking.
    "x161_suffix_array" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |           FROM documents),
        |s AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |        array_to_string(list_slice(w, i, len(w)), ' ') AS suffix
        |      FROM d, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i))
        |SELECT doc_id, pos,
        |  row_number() OVER (ORDER BY suffix, doc_id) - 1 AS sa
        |FROM s ORDER BY doc_id, pos""".stripMargin,
    "x162_exact_substr_spans" ->
      s"""WITH ${coveredCtes(MinMatchTokens)},
         |isl AS (
         |  SELECT doc_id, pos, cross_doc, pos + ${MinMatchTokens} AS e,
         |    CASE WHEN max(pos + ${MinMatchTokens}) OVER (
         |           PARTITION BY doc_id ORDER BY pos
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
         |         OR pos > max(pos + ${MinMatchTokens}) OVER (
         |           PARTITION BY doc_id ORDER BY pos
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |    THEN 1 ELSE 0 END AS new_span
         |  FROM cov),
         |isl2 AS (
         |  SELECT doc_id, pos, e, cross_doc,
         |    sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |  FROM isl)
         |SELECT doc_id, min(pos) AS span_start, max(e) AS span_end,
         |  max(e) - min(pos) AS span_tokens,
         |  CAST(count(*) AS BIGINT) AS n_windows,
         |  bool_or(cross_doc) AS cross_doc
         |FROM isl2 GROUP BY doc_id, island
         |ORDER BY doc_id, span_start""".stripMargin,
    "x163_exact_substr_scrub" ->
      s"""WITH ${coveredCtes(MinMatchTokens)},
         |cut AS (
         |  SELECT DISTINCT doc_id, CAST(unnest(generate_series(pos, pos + ${MinMatchTokens - 1})) AS BIGINT) AS pos
         |  FROM cov),
         |tok AS (
         |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, w[i] AS tok
         |  FROM d, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i)),
         |m AS (
         |  SELECT t.doc_id, t.pos, t.tok, cut.pos IS NOT NULL AS covered
         |  FROM tok t LEFT JOIN cut ON t.doc_id = cut.doc_id AND t.pos = cut.pos)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT) AS n_cut,
         |  CAST(sum(CASE WHEN NOT covered THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  md5(coalesce(string_agg(CASE WHEN NOT covered THEN tok END, ' ' ORDER BY pos), '')) AS scrubbed_md5
         |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // x174: one brute-force coverage block per curve point, same CTEs as
    // x162/x163, unioned.
    "x174_dup_rate_curve" -> CurveLs.map { l =>
      s"""SELECT * FROM (
         |WITH ${coveredCtes(l)},
         |cut AS (
         |  SELECT DISTINCT doc_id,
         |    CAST(unnest(generate_series(pos, pos + ${l - 1})) AS BIGINT) AS pos
         |  FROM cov)
         |SELECT CAST($l AS INT) AS l_tokens,
         |  (SELECT CAST(coalesce(sum(len(w)), 0) AS BIGINT) FROM d) AS n_positions,
         |  (SELECT CAST(count(*) AS BIGINT) FROM g) AS n_window_starts,
         |  (SELECT CAST(count(*) AS BIGINT) FROM cov) AS n_covered_starts,
         |  (SELECT CAST(coalesce(sum(CASE WHEN cross_doc THEN 1 ELSE 0 END), 0) AS BIGINT)
         |   FROM cov) AS n_cross_doc_starts,
         |  (SELECT CAST(count(*) AS BIGINT) FROM cut) AS n_cut_tokens,
         |  (SELECT CAST(count(*) AS DOUBLE) FROM cut)
         |    / (SELECT CAST(coalesce(sum(len(w)), 0) AS DOUBLE) FROM d) AS cut_rate
         |)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY l_tokens"))
}
