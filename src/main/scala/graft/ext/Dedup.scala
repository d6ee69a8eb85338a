package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.engine.{SessionMemo, Tables}
import graft.engine.Pin.PinOps

/** Deduplication operators for LLM training-data pipelines over
  * `documents`: exact (hash-groupBy), exact n-gram Jaccard via an inverted
  * shingle index, MinHash+LSH (the 100 TB-scale path), and SimHash.
  *
  * Scale notes:
  *   - exact dedup is one hash-shuffle on the fingerprint — optimal;
  *   - the inverted-index Jaccard join explodes on hot shingles; it is the
  *     *exact* baseline the MinHash path is tested against, not the
  *     at-scale plan;
  *   - MinHash+LSH shuffles only (band, bandHash) buckets — skew-resistant
  *     (a bucket holds only near-identical docs) and linear in corpus
  *     size; this is the operator you run at 100 TB;
  *   - SimHash is a single projection (no shuffle at all) producing a
  *     64-bit sketch; near-dup = small Hamming distance.
  */
object Dedup {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.splitCorpus(s, dir, n)

  /** Distinct n-word shingles (joined by single spaces) of a token array.
    * Guarded: fewer than n tokens -> empty array (Spark's `sequence` would
    * otherwise count *down* and fabricate shingles).
    */
  def wordShingles(tokens: Column, n: Int): Column =
    when(size(tokens) >= n,
      array_distinct(transform(sequence(lit(1), size(tokens) - (n - 1)),
        i => concat_ws(" ", slice(tokens, i, lit(n))))))
      .otherwise(array().cast("array<string>"))

  /** documents -> (doc_id, shingles) with empty-shingle docs dropped.
    * Array-valued form — used by specs; the query hot paths use the
    * relational `shinglePostings` below (codegen'd, exchange-reusable).
    */
  /** documents split to >= cores before CPU-amplifying tokenization —
    * see [[graft.engine.Tables.split]] (identity at production scale).
    */
  private def docsT(s: SparkSession, dir: String): DataFrame =
    graft.engine.Tables.split(s, dir, "documents")

  private[ext] def docShingles(s: SparkSession, dir: String): DataFrame =
    docsT(s, dir)
      .select(col("doc_id"),
        wordShingles(TextAnalysis.wsTokens(lower(col("text"))), 3).as("shingles"))
      .filter(size(col("shingles")) > 0)

  /** documents -> one row per distinct word-3-gram per doc, the shingle
    * reduced to its 64-bit xxhash64: (doc_id, h).
    *
    * The n-grams come from the native `WordNGrams` generator — one pass
    * per document that keeps token adjacency, so the ONLY shuffle in
    * this subtree is the (doc_id, h) dedup, which every downstream
    * per-doc aggregate then reuses (and branches sharing this subtree
    * share its exchange at runtime, ReuseExchange). The previous
    * spelling rebuilt adjacency with a lead() window — paying a full
    * per-doc sort Exchange for information the input string already
    * had; `windowShinglePostings` keeps that form as the spec's
    * independent reference.
    */
  /** Five pipelines consume the identical distinct shingle postings
    * (x11 Jaccard, x12 MinHash, x44 contamination, x62 containment,
    * x86 incremental near-dup) — computed once per (session, dataset,
    * n) and checkpointed, like the gram postings below.
    */
  private val shingleCache = SessionMemo[(String, Int), DataFrame]("Dedup.shingle")

  private[ext] def shinglePostings(s: SparkSession, dir: String, n: Int = 3): DataFrame =
    shingleCache(s, (dir, n))(
      shinglePostingsPlan(s, dir, n).pinned)

  private[ext] def shinglePostingsPlan(s: SparkSession, dir: String, n: Int): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val ngrams = ColumnBridge.column(
      graft.functions.WordNGrams(
        ColumnBridge.expression(lower(col("text"))), n))
    docsT(s, dir)
      .select(col("doc_id"), ngrams)
      .select(col("doc_id"), xxhash64(col("ngram")).as("h"))
      .dropDuplicates("doc_id", "h")
  }

  /** The window spelling of `shinglePostings` — kept as the independent
    * reference implementation DedupSpec proves the generator against.
    */
  private[ext] def windowShinglePostings(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    docsT(s, dir)
      .select(col("doc_id"),
        posexplode(TextAnalysis.wsTokens(lower(col("text")))))
      .withColumnRenamed("col", "w")
      .withColumn("w1", lead(col("w"), 1).over(w))
      .withColumn("w2", lead(col("w"), 2).over(w))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"),
        xxhash64(concat_ws(" ", col("w"), col("w1"), col("w2"))).as("h"))
      .dropDuplicates("doc_id", "h")
  }

  /** Exact duplicate detection: canonical-text fingerprint, duplicate
    * count and canonical (minimum) doc id per group. One shuffle on the
    * 128-bit fingerprint — the plan of record at any scale.
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame = {
    val byFp = Window.partitionBy(col("fingerprint"))
    docsT(s, dir)
      .select(col("doc_id"), TextAnalysis.fingerprintCol(col("text")).as("fingerprint"))
      .withColumn("n_copies", count(lit(1)).over(byFp))
      .withColumn("canonical_doc_id", min(col("doc_id")).over(byFp))
      .withColumn("is_canonical", col("doc_id") === col("canonical_doc_id"))
      .orderBy(col("doc_id"))
  }

  /** Exact word-3-gram Jaccard: top-20 most similar pairs via an inverted
    * shingle index with a document-frequency cut (the standard hot-key
    * guard): shingles present in more than `maxDf` documents are dropped
    * from the *candidate index* (a k-hot shingle alone would materialize
    * k^2/2 pairs), and a candidate pair must share at least
    * `least(minCommon, nRare(a), nRare(b))` distinct rare shingles —
    * capping the cut at each doc's own rare-shingle count, so two
    * near-identical SHORT docs (fewer than `minCommon` shingles total)
    * still become candidates. The Jaccard score of every surviving
    * candidate is computed exactly over the FULL shingle sets; the
    * oracle implements the identical cut.
    */
  def jaccardTopk(s: SparkSession, dir: String,
      maxDf: Int = 20, minCommon: Int = 3): DataFrame =
    verifiedPairsCached(s, dir, maxDf, minCommon)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(20)

  /** The exact df-cut verified pair frame shared by x11 (Jaccard top-k),
    * x62 (containment top-k) and x154 (threshold sweep) — identical
    * candidate generation and verification in all three, so it is
    * derived once per (session, dataset, maxDf, minCommon) and pinned
    * (r19 optimization round; the shinglePostings/repPairsCached
    * pattern — three consumers were re-running the same blocking+verify
    * pipeline per invocation).
    */
  private val vpairCache = SessionMemo[(String, Int, Int), DataFrame]("Dedup.vpair")

  private def verifiedPairsCached(s: SparkSession, dir: String,
      maxDf: Int, minCommon: Int): DataFrame =
    vpairCache(s, (dir, maxDf, minCommon)) {
      val posts = shinglePostings(s, dir)
      verifyPairs(dfCutCandidates(posts, maxDf, minCommon), posts).pinned
    }

  /** Containment-similarity top-k: |A∩B| / min(|A|, |B|) — the
    * SUB-DOCUMENT duplication detector. A short document embedded
    * verbatim inside a much longer one scores containment 1.0 while its
    * Jaccard (union denominator) can be arbitrarily small, so the x11
    * ranking never surfaces it. Same df-cut candidate generation and
    * exact posting-intersection verification as x11 — only the
    * denominator differs; the oracle implements the identical cut.
    */
  def containmentTopk(s: SparkSession, dir: String,
      maxDf: Int = 20, minCommon: Int = 3): DataFrame = {
    verifiedPairsCached(s, dir, maxDf, minCommon)
      .withColumn("n_min", least(col("n_a"), col("n_b")))
      .withColumn("containment",
        col("n_common").cast(DoubleType) / col("n_min").cast(DoubleType))
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("n_min"), col("containment"))
      .orderBy(col("containment").desc, col("doc_a"), col("doc_b"))
      .limit(20)
  }

  /** Exact-Jaccard verification of candidate (doc_a, doc_b) pairs by
    * posting-list intersection: |A∩B| = count of shingle hashes present
    * on both sides, |A|/|B| from per-doc posting counts. All codegen'd
    * joins/aggregates; the candidate set is small, so AQE broadcasts it
    * into the postings scan rather than shuffling the corpus. Shared by
    * the exact inverted-index path and the MinHash/LSH path; pairs with
    * an empty intersection drop out (both callers discard them anyway).
    */
  private def verifyPairs(cand: DataFrame, posts: DataFrame): DataFrame = {
    val counts = posts.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    cand
      .join(posts.select(col("doc_id").as("doc_a"), col("h")), "doc_a")
      .join(posts.select(col("doc_id").as("doc_b"), col("h")), Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_common"))
      .join(counts.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(counts.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .withColumn("jaccard",
        col("n_common").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("n_common")).cast(DoubleType))
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        col("n_common"), col("jaccard"))
  }

  /** Candidate (doc_a, doc_b) pairs from the df-cut inverted index —
    * shared by the Jaccard and containment top-k operators. A candidate
    * must share at least `least(minCommon, nRare(a), nRare(b))` rare
    * (df in [2, maxDf]) shingles; the cap at each doc's own rare-shingle
    * count keeps short docs eligible.
    */
  private[ext] def dfCutCandidates(posts: DataFrame, maxDf: Int, minCommon: Int): DataFrame = {
    // Two-pass df cut. Pass 1 computes document frequency per shingle with
    // a COUNT aggregate — one long of state per group no matter how hot the
    // shingle is. A one-pass collect_list-then-filter spelling would build
    // the full doc-id list for corpus-wide shingles ("one of the") before
    // dropping them: an aggregation buffer proportional to corpus size,
    // i.e. a straggler/OOM at 10^9 docs. Counting first keeps every
    // aggregation buffer O(1) and every collect_list below bounded by
    // maxDf ids.
    val rareHashes = posts.groupBy(col("h"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, maxDf))
      .select(col("h"))
    // Pass 2: restrict postings to rare shingles (semi-join on h, same key
    // as pass 1's shuffle so the partitioning is reused), THEN build the
    // per-shingle doc lists — each list now holds at most maxDf ids.
    val rarePosts = posts.join(rareHashes, Seq("h"), "left_semi")
    val rareIdx = rarePosts.groupBy(col("h"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
    // per-doc count of rare (df in [2, maxDf]) shingles — the cap that
    // keeps short docs eligible
    val rareCounts = rarePosts
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_rare"))
    val pairs = rareIdx
      .select(explode(pairsOfSorted(col("ids"))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
    // candidate = shares >= least(minCommon, n_rare(a), n_rare(b)) rare
    // shingles. The same groupBy dedups pair rows; the count prunes the
    // long tail of one-shared-phrase pairs before exact verification.
    pairs.groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_rare_common"))
      .join(rareCounts.select(col("doc_id").as("doc_a"), col("n_rare").as("nr_a")), "doc_a")
      .join(rareCounts.select(col("doc_id").as("doc_b"), col("n_rare").as("nr_b")), "doc_b")
      .filter(col("n_rare_common") >= least(lit(minCommon), col("nr_a"), col("nr_b")))
      .select(col("doc_a"), col("doc_b"))
  }

  /** The round-6 one-pass spelling of `dfCutCandidates` — collect the full
    * doc list per shingle, then filter by list size. Identical output, but
    * its aggregation state is unbounded on corpus-wide shingles, so it is
    * NOT the at-scale plan. Kept as the independent reference DedupSpec
    * proves the two-pass candidate generation against.
    */
  private[ext] def onePassDfCutCandidates(posts: DataFrame, maxDf: Int, minCommon: Int): DataFrame = {
    val rareIdx = posts.groupBy(col("h"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxDf))
    val rareCounts = rareIdx
      .select(explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_rare"))
    val pairs = rareIdx
      .select(explode(pairsOfSorted(col("ids"))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
    pairs.groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_rare_common"))
      .join(rareCounts.select(col("doc_id").as("doc_a"), col("n_rare").as("nr_a")), "doc_a")
      .join(rareCounts.select(col("doc_id").as("doc_b"), col("n_rare").as("nr_b")), "doc_b")
      .filter(col("n_rare_common") >= least(lit(minCommon), col("nr_a"), col("nr_b")))
      .select(col("doc_a"), col("doc_b"))
  }

  /** MinHash signatures for (doc_id, shingles) docs, computed in exploded
    * form: one codegen'd xxhash64 per posting, then `numHashes` codegen'd
    * `min(xxhash64(i, h))` aggregates in a single hash-aggregate (map-side
    * partials shrink the shuffle to one row per doc). Higher-order
    * `transform`/`array_min` lambdas are interpreted per element — at
    * millions of postings x 64 families that constant factor dominates,
    * so the signature deliberately lives in the relational layer where
    * whole-stage codegen applies.
    *
    * Returns (doc_id, sig: array<long> of length numHashes). `posts` is
    * (doc_id, h) as produced by `shinglePostings` — the groupBy reuses
    * its doc_id partitioning, so no additional shuffle.
    */
  def minhashSignatures(posts: DataFrame, numHashes: Int): DataFrame = {
    val slots = (1 to numHashes).map(i => min(xxhash64(lit(i), col("h"))).as(s"m$i"))
    posts.groupBy(col("doc_id"))
      .agg(slots.head, slots.tail: _*)
      .select(col("doc_id"),
        array((1 to numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** All ordered pairs (a, b) with a < b of a sorted id array — in-bucket
    * candidate expansion for LSH (replaces a self-join: the bucket list is
    * tiny, so pair blowup is bounded by near-dup cluster size).
    */
  private[ext] def pairsOfSorted(ids: Column): Column =
    flatten(transform(ids, (a, i) =>
      transform(slice(ids, i + 2, greatest(size(ids) - i - 1, lit(0))),
        b => struct(a.as("doc_a"), b.as("doc_b")))))

  /** MinHash + LSH banding: near-duplicate pairs with exact-Jaccard
    * verification. `bands` x `rowsPerBand` = signature length; docs
    * agreeing on all rows of any band land in the same bucket and become
    * a candidate pair; candidates are then verified with exact Jaccard.
    *
    * Scale shape: only (doc_id, band, bucket) rides the LSH shuffle — the
    * shingle arrays are re-joined for the (few) candidate pairs, so the
    * shuffle payload is O(bands x corpus ids), not O(bands x corpus text).
    * No oracle (xxhash64 is Spark-specific); DedupSpec checks candidates
    * against the exact inverted-index result.
    */
  def minhashPairs(s: SparkSession, dir: String,
      bands: Int = 16, rowsPerBand: Int = 4, threshold: Double = 0.5): DataFrame = {
    // Clone-collapsed (the x86/x98 medicine, generalized to the whole-
    // corpus lane): band/verify DISTINCT-text reps only, then expand
    // verified rep pairs through the clone groups — cross-group member
    // pairs inherit the rep pair's exact (n_common, jaccard) (identical
    // text ⇒ identical shingle set), in-group clone pairs are jaccard
    // 1.0 with n_common = the text's own shingle count, and the banding
    // DECISIONS are identical too (identical signatures ⇒ identical
    // buckets), so the emitted set is byte-identical to doc-level
    // banding at any clone multiplicity. The doc-level spelling's
    // in-bucket expansion was quadratic in clones (a 100-way clone
    // corpus puts every clone of a near-dup group in one bucket:
    // C(5000,2)-struct arrays per bucket — 677.7 s for x12 at the 100x
    // corpus, and every aggregate consumer — x90, x96 — re-paid it);
    // this form is linear in distinct texts + output size. Identity on
    // a duplicate-free corpus (all groups are singletons).
    val groups = postedTextGroups(s, dir)
    val repPairs = repPairsCached(s, dir, bands, rowsPerBand, threshold)
    val memA = groups.select(col("rep").as("doc_a"), explode(col("members")).as("m_a"))
    val memB = groups.select(col("rep").as("doc_b"), explode(col("members")).as("m_b"))
    val cross = repPairs
      .join(memA, "doc_a").join(memB, "doc_b")
      .select(least(col("m_a"), col("m_b")).as("doc_a"),
        greatest(col("m_a"), col("m_b")).as("doc_b"),
        col("n_common"), col("jaccard"))
    val repCounts = repPostings(s, dir)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inGroup = groups.filter(size(col("members")) > 1)
      .select(col("rep").as("doc_id"), explode(pairsOfSorted(col("members"))).as("p"))
      .join(repCounts, "doc_id")
      .select(col("p.doc_a"), col("p.doc_b"), col("n_sh").as("n_common"),
        lit(1.0).as("jaccard"))
      .filter(lit(1.0) >= threshold)
    cross.unionByName(inGroup)
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
  }

  /** Whole-corpus exact-clone groups (rep = min doc id, sorted members)
    * restricted to docs that HAVE shingle postings — the collapse
    * domain shared by `minhashPairs` and `clusterLabels`. Memoized and
    * pinned per (session, dataset) like the shingle cache.
    */
  private val postedGroupCache = SessionMemo[String, DataFrame]("Dedup.postedGroup")

  private def postedTextGroups(s: SparkSession, dir: String): DataFrame =
    postedGroupCache(s, dir)(
      textGroups(s, dir, histMax = 0, incrSide = true)
        .join(shinglePostings(s, dir).select(col("doc_id").as("rep")),
          Seq("rep"), "left_semi")
        .pinned)

  /** Postings of the clone-group reps only. */
  private def repPostings(s: SparkSession, dir: String): DataFrame =
    shinglePostings(s, dir)
      .join(postedTextGroups(s, dir).select(col("rep").as("doc_id")),
        Seq("doc_id"), "left_semi")

  /** Verified rep-grain banded pairs, pinned per (session, dataset,
    * geometry, threshold) — x12's expansion, x90, x96, and the CC
    * labels all consume one computation.
    */
  private val repPairCache = SessionMemo[(String, Int, Int, Double), DataFrame]("Dedup.repPair")

  private def repPairsCached(s: SparkSession, dir: String, bands: Int,
      rowsPerBand: Int, threshold: Double): DataFrame =
    repPairCache(s, (dir, bands, rowsPerBand, threshold))(
      minhashPairsFromPosts(repPostings(s, dir), bands, rowsPerBand, threshold)
        .pinned)

  /** The banded MinHash pipeline over an explicit postings frame — the
    * doc-level reference spelling (DedupSpec grades the collapsed lane
    * against it on a planted-clone corpus), and the rep-grain engine of
    * the collapsed `minhashPairs`/`clusterLabels`.
    */
  private[ext] def minhashPairsFromPosts(posts: DataFrame,
      bands: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    val banded = minhashSignatures(posts, bands * rowsPerBand)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))).as("bucket"))))
          .as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))
    // one shuffle on (band, bucket); in-bucket expansion bounds pair count
    // by cluster size and computes the signatures exactly once
    val cand = banded
      .groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(pairsOfSorted(col("ids"))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    verifyPairs(cand, posts)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
  }

  /** SimHash sketch width: TextAnalysis.tokenHash yields 60 usable bits
    * (15 md5 hex digits), so the sketch is 60-bit — bits 60..63 are
    * always clear.
    */
  val SimhashBits = 60

  /** Precomputed bit masks 1L<<0 .. 1L<<59 (bitwise OR-folded — safe under
    * ANSI arithmetic, no additive overflow).
    */
  private val BitMasks: Column = typedLit((0 until SimhashBits).map(b => 1L << b))

  /** 60-bit SimHash of a token array: bit b is set iff the sum over tokens
    * of +-1 (per bit b of the token hash) is positive. Pure projection —
    * zero shuffle; near-dup = small Hamming distance via bit_count(a XOR b).
    */
  def simhash64(tokens: Column): Column = {
    val hashes = transform(tokens, tk => TextAnalysis.tokenHash(tk))
    val bits = transform(sequence(lit(0), lit(SimhashBits - 1)), b => {
      val mask = element_at(BitMasks, b + 1)
      val vote = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(h.bitwiseAND(mask) =!= 0L, 1L).otherwise(-1L))
      when(vote > 0, mask).otherwise(lit(0L))
    })
    aggregate(bits, lit(0L), (acc, m) => acc.bitwiseOR(m))
  }

  /** SimHash sketch per document (rows-only query; DedupSpec asserts the
    * Hamming-distance near-dup property against exact Jaccard, and that
    * this relational form equals the expression form `simhash64`).
    *
    * Relational formulation: explode tokens -> ONE codegen'd tokenHash per
    * occurrence -> 60 `sum(+-1)` votes in a single hash-aggregate (map-side
    * partials) -> OR-fold the positive bits. The expression form evaluates
    * tokenHash (an md5) per token PER BIT under interpreted lambdas —
    * 60x the hashing work; this shape hashes once and lets whole-stage
    * codegen run the votes.
    */
  def simhashSketch(s: SparkSession, dir: String): DataFrame =
    simhashCore(s, dir).orderBy(col("doc_id"))

  /** (doc_id, simhash) without the presentation sort — shared by the
    * sketch query and the band-bucketed near-dup join.
    */
  private def simhashCore(s: SparkSession, dir: String): DataFrame = {
    val toks = docsT(s, dir)
      .select(col("doc_id"), explode(TextAnalysis.wsTokens(lower(col("text")))).as("w"))
      .select(col("doc_id"), TextAnalysis.tokenHash(col("w")).as("th"))
    val votes = (0 until SimhashBits).map { b =>
      sum(when(col("th").bitwiseAND(lit(1L << b)) =!= 0L, 1L).otherwise(-1L)).as(s"v$b")
    }
    toks.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until SimhashBits)
          .map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("simhash"))
  }

  /** SimHash near-duplicate pairs at Hamming distance <= `maxHamming`,
    * found via band buckets — and EXACT, not probabilistic: with the 60
    * sketch bits cut into 4 bands of 15, a pair differing in <= 3 bits
    * can touch at most 3 bands, so by pigeonhole at least one band is
    * bit-identical and the pair lands in that band's bucket. Only
    * (doc_id, band, band-key) rides the candidate shuffle; the full
    * sketches re-join per candidate pair for the Hamming check — the
    * same O(corpus-ids) shuffle shape as MinHash banding, against the
    * all-pairs self-join the oracle can afford at test scale.
    */
  def simhashNearDup(s: SparkSession, dir: String,
      bandBits: Int = 15, maxHamming: Int = 3): DataFrame = {
    val nBands = SimhashBits / bandBits
    require(maxHamming < nBands, "pigeonhole exactness needs maxHamming < nBands")
    // Clone-collapse ON THE SKETCH VALUE (the clusterLabels medicine,
    // strictly more general here): the emitted set depends on doc ids
    // only through the sketch, so docs sharing a sketch are fully
    // interchangeable — band/bucket/Hamming all equal. The banded join
    // therefore runs one REP per DISTINCT sketch (buckets bounded by
    // distinct-sketch counts — at the 100x clone corpus the doc-level
    // buckets were quadratic in the 100-way clone multiplicity and
    // OOM'd a 40 GiB JVM), and the answer reassembles as
    //   - cross-group: every member pair of a rep pair, same hamming;
    //   - in-group: all pairs of a shared-sketch group, hamming 0.
    // Exactness is unchanged: pigeonhole applies at the sketch level.
    val sketchGroups = simhashCore(s, dir)
      .groupBy(col("simhash"))
      .agg(min(col("doc_id")).as("rep"),
        sort_array(collect_list(col("doc_id"))).as("members"))
      .pinned
    // the 8-byte sketch rides the band shuffle next to the rep id so the
    // Hamming check needs NO re-join
    val banded = sketchGroups.select(col("rep").as("doc_id"), col("simhash"),
      posexplode(array((0 until nBands).map(b =>
        shiftright(col("simhash"), b * bandBits)
          .bitwiseAND(lit((1L << bandBits) - 1))): _*)))
      .select(col("doc_id"), col("simhash"), col("pos").as("band"), col("col").as("bkey"))
    val repPairs = banded
      .groupBy(col("band"), col("bkey"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("simhash")))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(pairsOfSorted(col("ids"))).as("p"))
      .select(col("p.doc_a.doc_id").as("doc_a"), col("p.doc_b.doc_id").as("doc_b"),
        bit_count(col("p.doc_a.simhash").bitwiseXOR(col("p.doc_b.simhash")))
          .cast(LongType).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("doc_a", "doc_b")
    val memA = sketchGroups.select(col("rep").as("doc_a"), explode(col("members")).as("m_a"))
    val memB = sketchGroups.select(col("rep").as("doc_b"), explode(col("members")).as("m_b"))
    val cross = repPairs
      .join(memA, "doc_a").join(memB, "doc_b")
      .select(least(col("m_a"), col("m_b")).as("doc_a"),
        greatest(col("m_a"), col("m_b")).as("doc_b"), col("hamming"))
    val inGroup = sketchGroups.filter(size(col("members")) > 1)
      .select(explode(pairsOfSorted(col("members"))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"), lit(0L).as("hamming"))
    cross.unionByName(inGroup)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Connected components over an undirected edge list by min-label
    * propagation WITH pointer jumping: each round a node takes the least
    * of its own label, its neighbors' labels, and the label OF its label
    * (the doubling hop), so convergence needs O(log diameter) rounds
    * instead of O(diameter) — round count, not data volume, is the cost
    * on sparse dup graphs. Every node converges to the SMALLEST id in
    * its component (the canonical-doc convention). The edge list and
    * each round's labels are `localCheckpoint`ed: the edges so rounds do
    * not replay the upstream pair pipeline, the labels so round N's DAG
    * does not replay rounds 1..N-1. Convergence is detected by the
    * EDGE-EQUALITY certificate (r20 optimization round): labels are
    * final iff every edge has equal endpoint labels — an existence
    * probe on the pinned labels — so the previous scheme's extra full
    * propagation round whose only purpose was an unchanged-sum
    * confirmation is gone. The certificate is complete: per-edge
    * equality makes labels constant per component, every label is the
    * id of a node INSIDE its component (initial labels are self-ids;
    * neighbor-min and label-of-label hops only move ids within the
    * component), and labels never increase, so the component's min id m
    * carries a label c ≤ m with c a member id ≥ m — hence c = m, the
    * fixpoint.
    */
  private[ext] def connectedComponents(pairs: DataFrame, maxIters: Int = 50): DataFrame =
    connectedComponentsWithRounds(pairs, maxIters)._1

  /** [[connectedComponents]] exposing the round count (spec certificate
    * that the doubling hop is live: a 1000-node chain must converge in
    * ~log2 rounds, where plain propagation needs ~1000). Non-convergence
    * at the cap THROWS — with the hop, 50 rounds cover components of
    * diameter ~2^49, so hitting the cap means a logic regression, and
    * handing back un-converged labels would silently split clusters
    * (x47/x57/x61/x84/x217 all consume these labels as truth).
    */
  private[ext] def connectedComponentsWithRounds(pairs: DataFrame,
      maxIters: Int = 50): (DataFrame, Int) = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .pinned
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .pinned
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val neighborMin = edges
        .join(labels.select(col("id").as("src"), col("lbl")), "src")
        .groupBy(col("dst").as("id")).agg(min(col("lbl")).as("nmin"))
      // six chained parent hops per round (r19 went 1 → 3, r20 → 6):
      // each hop is one more broadcast join of the tiny label frame, but
      // it multiplies the pointer-jumping contraction per round — the
      // expensive unit here is the ROUND (pin + convergence action +
      // stage scheduling, ~0.5 s of fixed cost on a small graph), not
      // the join. Measured on the x217 rep-pair graph: 4 rounds / 2.2 s
      // with one hop → 3 rounds / 1.75 s with three; the x218 resolve
      // graph still took 4 rounds at three hops, and six cuts it to 3
      // (the last round is always the unchanged-sum confirmation, so 2
      // effective rounds cover parent chains up to 6^2 deep). Labels
      // only ever decrease and the fixpoint (component min) is
      // unchanged, so the unchanged-sum convergence proof carries over
      // verbatim.
      val hops = 6
      val hopped = (1 to hops).foldLeft(
        labels.join(neighborMin, Seq("id"), "left")
          .select(col("id"),
            least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl"),
            col("lbl").as("p0"))) { (df, h) =>
        val parent = labels.select(
          col("id").as(s"p${h - 1}"), col("lbl").as(s"p$h"))
        df.join(parent, Seq(s"p${h - 1}"), "left")
          .select(col("id"),
            least(col("lbl"), coalesce(col(s"p$h"), col("lbl"))).as("lbl"),
            coalesce(col(s"p$h"), col(s"p${h - 1}")).as(s"p$h"))
      }
      val next = hopped.select(col("id"), col("lbl")).pinned
      labels = next
      i += 1
      // edge-equality certificate (see docstring): converged iff no
      // edge has differing endpoint labels — an existence probe (early-
      // exit take(1)) on pinned data, not a full extra round. An empty
      // graph has no edges and converges after its (empty) first round.
      converged = edges
        .join(labels.select(col("id").as("src"), col("lbl").as("ls")), "src")
        .join(labels.select(col("id").as("dst"), col("lbl").as("ld")), "dst")
        .filter(col("ls") =!= col("ld"))
        .isEmpty
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds — " +
          "with the doubling hop this covers diameter ~2^" + (maxIters - 1) +
          ", so the propagation logic has regressed; returning partial " +
          "labels would silently split clusters")
    (labels, i)
  }

  /** The verified near-dup CC labels (x47's core), computed ONCE per
    * (session, dataset) and consumed by every downstream policy operator
    * — x47's cluster resolution, x75's canonical selection, x61's
    * leakage-safe split. The labels are the already-localCheckpointed
    * output of `connectedComponents`, so cached consumers never replay
    * the MinHash pair pipeline or the CC rounds; this is the in-session
    * analogue of materializing the cluster table once (through
    * `VersionedTable` in a real pipeline) and having policies read it,
    * instead of each policy re-deriving the clustering from raw text.
    */
  private val ccCache = SessionMemo[String, DataFrame]("Dedup.cc")

  /** Clone-collapsed (the r15 x86/x98 medicine, measured mandatory at
    * the 100x clone corpus where the doc-level pair graph is quadratic
    * in clone multiplicity — x75 paid 913.9 s riding it): the banded
    * pipeline and the CC rounds run on DISTINCT-text reps only, and the
    * labels expand back through the exact-clone groups afterwards.
    * Semantics-preserving by construction — identical text ⇒ identical
    * shingle set ⇒ identical signature, buckets, and Jaccard, so
    *   - a cross-group member pair is a verified edge iff its rep pair
    *     is (same buckets, same Jaccard),
    *   - an in-group member pair is always an edge (all 32 buckets
    *     shared, Jaccard 1.0),
    * hence doc-level components = rep components expanded through the
    * groups, plus each multi-member group whose rep is pair-isolated as
    * its own component; and because a rep is its group's MINIMUM id,
    * the expanded canonical (min-id) labels are identical too. Groups
    * are restricted to docs that HAVE postings (shingle-less docs never
    * enter the doc-level graph either).
    */
  private[ext] def clusterLabels(s: SparkSession, dir: String): DataFrame =
    ccCache(s, dir) {
      val groups = postedTextGroups(s, dir)
      val repPairs = repPairsCached(s, dir, bands = 32, rowsPerBand = 2,
          threshold = 0.5)
        .select(col("doc_a"), col("doc_b"))
      val repLabels = connectedComponents(repPairs)
      groups
        .join(repLabels.select(col("id").as("rep"), col("lbl")), Seq("rep"), "left")
        .filter(col("lbl").isNotNull || size(col("members")) > 1)
        .select(explode(col("members")).as("id"),
          coalesce(col("lbl"), col("rep")).as("lbl"))
        .pinned
    }

  /** Duplicate-cluster resolution: the verified near-dup pair set
    * (exact Jaccard >= 0.5, same pairs x12 grades) resolved into
    * clusters — per doc: the cluster's canonical (minimum) id and its
    * size. This is the step between pair detection and keeping one copy
    * per group; singleton docs (no near-dup) are not rows here by
    * definition.
    */
  def dupClusters(s: SparkSession, dir: String): DataFrame = {
    val labels = clusterLabels(s, dir)
    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "lbl")
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** The cross-RUN form of `clusterLabels`' in-session cache: publish
    * the verified cluster table as a `VersionedTable` snapshot so later
    * jobs (canonical selection, leakage-safe splits, dedup audits) read
    * the committed clustering instead of re-deriving it — and can PIN a
    * version for a whole multi-job training-data build (every consumer
    * sees the same clustering even if the corpus re-clusters mid-build).
    * Returns the committed version number.
    */
  def materializeClusters(s: SparkSession, dir: String, root: String): Long =
    graft.engine.VersionedTable.commit(dupClusters(s, dir), root)

  /** Read a committed cluster snapshot (latest, or pinned `asOf`). */
  def clustersFromTable(s: SparkSession, root: String,
      asOf: Option[Long] = None): DataFrame =
    graft.engine.VersionedTable.read(s, root, asOf)

  /** Benchmark-contamination screening: for every corpus document, the
    * fraction of its distinct word-trigrams that also occur in a
    * held-out benchmark set (here: docs with id < `benchMax` stand in
    * for the eval set). The benchmark's shingle set is tiny relative to
    * the corpus, so it BROADCASTS into the corpus postings scan — the
    * corpus is never shuffled; per-doc ratios reduce in one
    * hash-aggregate that reuses the postings' doc partitioning. The
    * decontamination filter at 100 TB is exactly this plan with the real
    * eval suites on the broadcast side.
    */
  def contamination(s: SparkSession, dir: String, benchMax: Int = 20): DataFrame = {
    val posts = shinglePostings(s, dir)
    val bench = posts.filter(col("doc_id") < benchMax)
      .select(col("h")).distinct()
      .withColumn("hit", lit(1L))
    posts.filter(col("doc_id") >= benchMax)
      .join(broadcast(bench), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_matched"))
      .select(col("doc_id"), col("n_shingles"), col("n_matched"),
        (col("n_matched").cast(DoubleType) / col("n_shingles").cast(DoubleType))
          .as("contamination_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Incremental dedup — the operational shape of exact dedup inside a
    * daily pipeline: only the INCREMENT (here: doc_id >= `histMax`,
    * standing in for today's partition) is scanned in full; the history
    * participates as its distinct fingerprint set only (at 100 TB: the
    * persisted fingerprint index, bucketed by fingerprint so the probe
    * is co-located — never a rescan of the historical corpus). An
    * increment doc is kept iff its fingerprint is unseen in history AND
    * it is the canonical (minimum-id) copy within the increment itself —
    * the two-level check every batch-append dedup needs.
    */
  def incrementalDedup(s: SparkSession, dir: String, histMax: Int = 400): DataFrame = {
    val fp = docsT(s, dir)
      .select(col("doc_id"), TextAnalysis.fingerprintCol(col("text")).as("fingerprint"))
    val history = fp.filter(col("doc_id") < histMax)
      .select(col("fingerprint")).distinct()
      .withColumn("in_history", lit(true))
    val incr = fp.filter(col("doc_id") >= histMax)
    val wFp = Window.partitionBy(col("fingerprint"))
    incr
      .withColumn("incr_canonical_id", min(col("doc_id")).over(wFp))
      .join(history, Seq("fingerprint"), "left")
      .select(col("doc_id"), col("fingerprint"),
        coalesce(col("in_history"), lit(false)).as("dup_of_history"),
        (col("doc_id") === col("incr_canonical_id")).as("incr_canonical"),
        (coalesce(col("in_history"), lit(false)) === false
          && col("doc_id") === col("incr_canonical_id")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Incremental NEAR-dup detection — the operational form of x12
    * inside a daily append pipeline, and the near-dup counterpart of
    * x59's exact incremental dedup. Only the increment (doc_id >=
    * `histMax`, standing in for today's partition) needs fresh
    * minhashing; the history participates as its (band, bucket, id)
    * index — at 100 TB that index is `bucketBy`-persisted on (band,
    * bucket) like x48's ANN index, so the increment's probe is a
    * co-located join and historical TEXT is only re-read for the few
    * verified candidate pairs. Two candidate legs: increment-vs-history
    * (the probe join) and increment-internal (in-bucket expansion, so a
    * doc submitted twice on the same day is caught the day it lands);
    * history-vs-history pairs are deliberately absent — they were
    * yesterday's output. Verification-grade 32x2 banding (x12's
    * coverage argument: miss probability (1-J^2)^32 <= 1e-4 at J=0.5)
    * makes the emitted set EQUAL the exact Jaccard >= `threshold` pair
    * set with an increment-side member, so the DuckDB twin checks it
    * outright.
    */
  def incrementalNearDup(s: SparkSession, dir: String, histMax: Int = 400,
      bands: Int = 32, rowsPerBand: Int = 2, threshold: Double = 0.5): DataFrame = {
    val posts = shinglePostings(s, dir)
    val histG = textGroups(s, dir, histMax, incrSide = false)
    val incrG = textGroups(s, dir, histMax, incrSide = true)
    val reps = histG.select(col("rep")).unionByName(incrG.select(col("rep")))
      .withColumnRenamed("rep", "doc_id")
    val repPosts = posts.join(reps, Seq("doc_id"), "left_semi")
    val banded = bandedBuckets(repPosts, bands, rowsPerBand)
    // reps keep their id ranges (hist reps < histMax <= incr reps), so
    // the two legs classify by id exactly as the doc-level form did
    val hist = banded.filter(col("doc_id") < histMax)
      .select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
    val incr = banded.filter(col("doc_id") >= histMax)
    // probe leg: every history rep < histMax <= increment rep, so the
    // (hist, incr) orientation IS the canonical doc_a < doc_b order
    val candHist = incr.select(col("band"), col("bucket"), col("doc_id").as("doc_b"))
      .join(hist, Seq("band", "bucket"))
      .select(col("doc_a"), col("doc_b"))
    // increment-internal leg: in-bucket expansion on the (small) delta
    val candIncr = incr
      .groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(pairsOfSorted(col("ids"))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
    val cand = candHist.unionByName(candIncr).dropDuplicates("doc_a", "doc_b")
    val repPairs = verifyPairs(cand, repPosts).filter(col("jaccard") >= threshold)
    expandClonePairs(repPairs, histG, incrG, repPosts, histMax, threshold)
  }

  /** Exact-text clone groups split at the history boundary, one row per
    * (distinct text, side): the group's representative (min doc_id), its
    * sorted member list, and which side it lives on. Grouping key is md5
    * of the lowered text (the x10 exact-dedup content-hash discipline);
    * only (16-byte hash, id) rides the shuffle, never the text. ONE
    * corpus pass, memoized per (session, dataset, histMax) like the
    * shingle cache — the banded lanes call this twice per query and the
    * bench reps many times.
    */
  private val groupCache = SessionMemo[(String, Int), DataFrame]("Dedup.group")

  private def sideTextGroups(s: SparkSession, dir: String, histMax: Int): DataFrame =
    groupCache(s, (dir, histMax))(
      docsT(s, dir)
        .select(col("doc_id"), md5(encode(lower(col("text")), "UTF-8")).as("gk"),
          (col("doc_id") >= histMax).as("incr_side"))
        .groupBy(col("gk"), col("incr_side"))
        .agg(min(col("doc_id")).as("rep"),
          sort_array(collect_list(col("doc_id"))).as("members"))
        .select(col("rep"), col("members"), col("incr_side"))
        .pinned)

  private def textGroups(s: SparkSession, dir: String, histMax: Int,
      incrSide: Boolean): DataFrame =
    sideTextGroups(s, dir, histMax)
      .filter(col("incr_side") === incrSide)
      .select(col("rep"), col("members"))

  /** Dedup-before-fuzzy, the text-lane form of x190's finding (measured
    * at the 100x decade: the doc-level pipeline spent 1,189 s verifying
    * 27.3 M candidate pairs, of which ~25 M were exact-clone pairs with
    * a foregone jaccard of 1.0 — quadratic in the clone multiplicity).
    * The banded pipeline runs on DISTINCT texts only; this expansion
    * maps verified rep pairs back through the clone groups:
    *
    *   - cross-group: every member pair inherits the rep pair's exact
    *     (n_common, jaccard) — clones have identical shingle sets;
    *   - in-group (increment side only): clone pairs are jaccard 1.0
    *     with n_common = the text's own shingle count;
    *   - history-internal pairs stay absent (yesterday's output), and
    *     every emitted pair keeps doc_b >= histMax by construction —
    *     cross pairs pair a hist group with an incr group or two incr
    *     groups, never two hist groups.
    *
    * Identity on a duplicate-free corpus (all groups are singletons).
    */
  private def expandClonePairs(repPairs: DataFrame, histG: DataFrame,
      incrG: DataFrame, repPosts: DataFrame, histMax: Int,
      threshold: Double): DataFrame = {
    val members = histG.unionByName(incrG)
    val memA = members.select(col("rep").as("doc_a"), explode(col("members")).as("m_a"))
    val memB = members.select(col("rep").as("doc_b"), explode(col("members")).as("m_b"))
    val cross = repPairs
      .join(memA, "doc_a").join(memB, "doc_b")
      .select(least(col("m_a"), col("m_b")).as("doc_a"),
        greatest(col("m_a"), col("m_b")).as("doc_b"),
        col("n_common"), col("jaccard"))
    val repCounts = repPosts.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inGroup = incrG.filter(size(col("members")) > 1)
      .select(col("rep").as("doc_id"), explode(pairsOfSorted(col("members"))).as("p"))
      .join(repCounts, "doc_id")
      .select(col("p.doc_a"), col("p.doc_b"), col("n_sh").as("n_common"),
        lit(1.0).as("jaccard"))
      .filter(lit(1.0) >= threshold)
    cross.unionByName(inGroup)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"),
        (col("doc_a") >= histMax).as("incr_internal"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
  }

  /** Session-catalog name for the persisted history band index. EVERY
    * parameter the index content depends on — histMax, the banding
    * geometry, the bucket count — is encoded as its literal value, plus
    * an md5 digest of the dataset path (round-10 discipline: the former
    * tuple-hashCode name could collide between two parameter sets and
    * silently reuse a wrong index; literal encoding makes stale reuse
    * structurally impossible).
    */
  def bandIndexTable(dir: String, histMax: Int, bands: Int = 32,
      rowsPerBand: Int = 2, numBuckets: Int = 8): String =
    // idx2: the index holds distinct-TEXT reps since the clone-collapse
    // rework — the name version bump makes a same-session stale doc-level
    // index structurally unreachable
    s"graft_band_idx2_h${histMax}_b${bands}_r${rowsPerBand}_nb${numBuckets}" +
      s"_d${graft.engine.Bucketing.pathDigest(dir)}"

  /** Materialize the HISTORY's (bucket, band, rep) band index ONCE,
    * `bucketBy(bucket)` — the persisted form x86's scaladoc promises.
    * Indexed at distinct-TEXT grain (one rep per clone group): the
    * clone members never enter the banded join, only the expansion.
    */
  def buildBandIndex(s: SparkSession, dir: String, histMax: Int = 400,
      bands: Int = 32, rowsPerBand: Int = 2, numBuckets: Int = 8): String = {
    val tbl = bandIndexTable(dir, histMax, bands, rowsPerBand, numBuckets)
    if (!s.catalog.tableExists(tbl)) {
      val posts = shinglePostings(s, dir)
      val histReps = textGroups(s, dir, histMax, incrSide = false)
        .select(col("rep").as("doc_id"))
      val idx = bandedBuckets(posts.join(histReps, Seq("doc_id"), "left_semi"),
        bands, rowsPerBand)
      graft.engine.Bucketing.writeBucketed(idx, tbl, "bucket", numBuckets)
    }
    tbl
  }

  /** (doc_id, band, bucket) LSH band keys for a postings frame — shared
    * by the inline and indexed incremental paths and by x12.
    */
  private[ext] def bandedBuckets(posts: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    minhashSignatures(posts, bands * rowsPerBand)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))).as("bucket"))))
          .as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))

  /** x86 against the PERSISTED history index: the increment's band keys
    * probe the bucketed table on the 64-bit bucket hash alone — the
    * bucket column IS the table's bucketing key, so the big (history)
    * side scans WITHOUT an Exchange and only the small delta shuffles
    * to meet it (DedupSpec asserts the plan). Dropping `band` from the
    * join key admits only ~zero-probability 64-bit cross-band hash
    * collisions, and those candidates die in the exact-Jaccard
    * verification — the emitted set still equals x86's, so it shares
    * x86's oracle.
    */
  def incrementalNearDupIndexed(s: SparkSession, dir: String, histMax: Int = 400,
      bands: Int = 32, rowsPerBand: Int = 2, threshold: Double = 0.5): DataFrame = {
    val tbl = buildBandIndex(s, dir, histMax, bands, rowsPerBand)
    val posts = shinglePostings(s, dir)
    val histG = textGroups(s, dir, histMax, incrSide = false)
    val incrG = textGroups(s, dir, histMax, incrSide = true)
    val incr = bandedBuckets(
      posts.join(incrG.select(col("rep").as("doc_id")), Seq("doc_id"), "left_semi"),
      bands, rowsPerBand)
    val hist = s.table(tbl)
      .select(col("bucket"), col("doc_id").as("doc_a"))
    val candHist = incr
      .select(col("bucket"), col("doc_id").as("doc_b"))
      .join(hist, Seq("bucket"))
      .select(col("doc_a"), col("doc_b"))
    val candIncr = incr
      .groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(pairsOfSorted(col("ids"))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
    val cand = candHist.unionByName(candIncr).dropDuplicates("doc_a", "doc_b")
    val reps = histG.select(col("rep")).unionByName(incrG.select(col("rep")))
      .withColumnRenamed("rep", "doc_id")
    val repPosts = posts.join(reps, Seq("doc_id"), "left_semi")
    val repPairs = verifyPairs(cand, repPosts).filter(col("jaccard") >= threshold)
    expandClonePairs(repPairs, histG, incrG, repPosts, histMax, threshold)
  }

  /** Leakage-safe train/val split: assignment is a pure hash of the
    * NEAR-DUP CLUSTER id, not the document id — two near-duplicate
    * documents can never straddle the split boundary (the eval-set
    * contamination x40's per-doc split cannot prevent). Singleton docs
    * are their own cluster (cluster_id = doc_id); the cluster labels are
    * the same verified CC resolution x47 grades, and the bucket hash is
    * the same cross-engine md5-prefix `Sampling.hashBucket` x40 grades —
    * this operator is their composition, shuffled only on id-sized rows.
    */
  def leakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val labels = clusterLabels(s, dir)
    t(s, dir, "documents").select(col("doc_id"))
      .join(labels.select(col("id").as("doc_id"), col("lbl")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
      .withColumn("bucket", graft.ops.Sampling.hashBucket(col("cluster_id"), 100))
      .select(col("doc_id"), col("cluster_id"),
        when(col("bucket") < 80, "train").otherwise("val").as("split"))
      .orderBy(col("doc_id"))
  }

  /** Blocked fuzzy record linkage — the entity-resolution counterpart of
    * document dedup: candidate pairs come from an equality BLOCK key
    * (here nation), the expensive edit-distance runs only within blocks,
    * and pairs at Levenshtein distance <= `maxDist` are linked. The
    * blocking join is the same skew-bounded shape as LSH bucketing: the
    * quadratic pair expansion is confined to block size, never the
    * corpus; at 100 TB the block key is whatever cheap equality evidence
    * exists (zip, sorted-neighborhood window, phonetic code) and the
    * plan is unchanged. `maxKey` pins the graded slice so the output is
    * scale-invariant.
    */
  def fuzzyNameMatch(s: SparkSession, dir: String,
      maxKey: Int = 300, maxDist: Int = 2): DataFrame = {
    val c = t(s, dir, "customer")
      .filter(col("c_custkey") < maxKey)
      .select(col("c_custkey"), col("c_name"),
        col("c_nationkey").cast(LongType).as("block"))
    val a = c.select(col("block"), col("c_custkey").as("key_a"), col("c_name").as("name_a"))
    val b = c.select(col("block"), col("c_custkey").as("key_b"), col("c_name").as("name_b"))
    a.join(b, Seq("block"))
      .filter(col("key_a") < col("key_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast(LongType))
      .filter(col("dist") <= maxDist)
      .select(col("block"), col("key_a"), col("key_b"), col("dist"))
      .orderBy(col("block"), col("key_a"), col("key_b"))
  }

  /** Winnowed fingerprints per document (Schleimer/Wilkerson/Aiken,
    * SIGMOD 2003 — the MOSS local fingerprinting algorithm; public
    * paper): hash every k-word gram, slide a window of `w` consecutive
    * gram hashes, keep each window's MINIMUM. Guarantee: any match of
    * w+k-1 or more consecutive tokens shares at least one selected
    * fingerprint, while only ~2/(w+1) of gram hashes survive — an
    * order-of-magnitude smaller index than the full shingle set for the
    * same long-match recall. The gram hash is the md5-prefix integer
    * both engines compute identically (the x40/x04 trick — xxhash64 has
    * no DuckDB twin). Per-doc window sort only (bounded by document
    * length, never a corpus sort).
    */
  /** Array of k-gram hashes of a token array — md5 of the
    * space-joined gram, reduced to the cross-engine 60-bit integer.
    * Shared by the winnowing pipeline and DedupSpec's subset check.
    *
    * Deliberately ONE md5 per gram: the tempting "hash each token once,
    * fold grams as integer polynomials" spelling nests one higher-order
    * expression inside another, and Catalyst inlines the inner
    * `transform` into every `element_at` reference — re-hashing the
    * whole token array per gram element, a quadratic blowup measured at
    * 13x slower at sf0.1. Gram-text hashing keeps the expression tree
    * flat and codegen-friendly.
    */
  private[ext] def gramHashes(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(sequence(lit(1), size(toks) - (k - 1)),
        i => TextAnalysis.tokenHash(concat_ws(" ", slice(toks, i, lit(k))))))
      .otherwise(array().cast("array<bigint>"))

  /** The (doc_id, pos, h) gram-hash postings, computed once per
    * (session, dataset, k) and checkpointed: the tokenize + per-gram md5
    * pass is the dominant cost of the winnowing (x70) and boilerplate
    * (x87) pipelines, and both consume the identical table. (x85's span
    * audit deliberately does NOT read this cache — its contract is a
    * pruned scan of ~10 documents, plan-gated, which beats even a cached
    * full-corpus lookup.)
    */
  private val gramCache = SessionMemo[(String, Int), DataFrame]("Dedup.gram")

  private[ext] def gramPostings(s: SparkSession, dir: String, k: Int): DataFrame =
    gramCache(s, (dir, k))(
      docsT(s, dir)
        .select(col("doc_id"),
          posexplode(gramHashes(TextAnalysis.wsTokens(lower(col("text"))), k)))
        .select(col("doc_id"), col("pos"), col("col").as("h"))
        .pinned)

  private[ext] def winnowedFingerprints(s: SparkSession, dir: String,
      k: Int = 4, w: Int = 5): DataFrame = {
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-(w - 1).toLong, 0L)
    gramPostings(s, dir, k)
      .withColumn("fp", min(col("h")).over(win))
      // only FULL windows select a fingerprint (pos is 0-based)
      .filter(col("pos") >= w - 1)
      .select(col("doc_id"), col("fp"))
      .dropDuplicates("doc_id", "fp")
  }

  /** Winnowing near-dup top-k: pairs ranked by shared distinct winnowed
    * fingerprints, with overlap = shared / min(|fp_a|, |fp_b|). The
    * candidate index applies the same two-pass df cut as x11 (count df
    * first — O(1) aggregation state on corpus-wide boilerplate grams —
    * then semi-join to rare fingerprints, df in [2, maxDf], before any
    * collect_list), so the pair expansion is bounded by maxDf per
    * fingerprint at any corpus size. Scoring counts RARE shared
    * fingerprints only (boilerplate matches are exactly what winnowing
    * users want ignored); the oracle implements the identical cut.
    */
  /** The winnowing pair index is consumed twice per session — x70 emits
    * it, x85's span audit seeds from it — so the 20-row result is
    * computed once per (session, dataset, maxDf) and checkpointed, the
    * same materialize-once discipline as `clusterLabels`.
    */
  private val winnowCache = SessionMemo[(String, Int), DataFrame]("Dedup.winnow")

  def winnowingTopk(s: SparkSession, dir: String, maxDf: Int = 20): DataFrame =
    winnowCache(s, (dir, maxDf))(
      winnowingTopkPlan(s, dir, maxDf).pinned)

  private def winnowingTopkPlan(s: SparkSession, dir: String, maxDf: Int): DataFrame = {
    val fps = winnowedFingerprints(s, dir)
    val counts = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    val rare = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, maxDf)).select(col("fp"))
    val idx = fps.join(rare, Seq("fp"), "left_semi")
      .groupBy(col("fp")).agg(sort_array(collect_list(col("doc_id"))).as("ids"))
    idx.select(explode(pairsOfSorted(col("ids"))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .join(counts.select(col("doc_id").as("doc_a"), col("n_fp").as("n_fp_a")), "doc_a")
      .join(counts.select(col("doc_id").as("doc_b"), col("n_fp").as("n_fp_b")), "doc_b")
      .withColumn("overlap", col("n_shared").cast(DoubleType) /
        least(col("n_fp_a"), col("n_fp_b")).cast(DoubleType))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("n_fp_a"), col("n_fp_b"), col("overlap"))
      .orderBy(col("n_shared").desc, col("doc_a"), col("doc_b"))
      .limit(20)
  }

  /** Canonical-copy selection POLICY over the resolved duplicate
    * clusters (x47): deduplication keeps the LONGEST member of each
    * cluster (most content preserved — the curation default), ties to
    * the smallest doc_id, instead of x47's bare min-id convention. One
    * per-cluster window over the cluster frame (already tiny relative to
    * the corpus: only docs WITH near-dups are rows); the length join
    * broadcasts cluster ids into the documents scan under AQE.
    */
  def canonicalSelection(s: SparkSession, dir: String): DataFrame = {
    val clusters = dupClusters(s, dir)
    val toks = t(s, dir, "documents").select(col("doc_id"),
      size(TextAnalysis.wsTokens(col("text"))).cast(LongType).as("n_tokens"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_tokens").desc, col("doc_id"))
    clusters.join(toks, "doc_id")
      .withColumn("rnk", row_number().over(w))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("n_tokens"), (col("rnk") === 1).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Overlap-span localization for the top winnowing pairs: not just
    * THAT two documents overlap but WHERE — per pair, doc_a's gram
    * positions whose hash also occurs in doc_b, coalesced into maximal
    * consecutive runs (the gaps-and-islands pattern over match
    * positions). The longest run + k-1 is the longest shared token span
    * — what a dedup audit or a license/provenance review actually reads.
    *
    * The pair list (≤ `topPairs` rows) is checkpointed so the winnowing
    * index is computed exactly once, and its ≤ 2·topPairs doc ids are
    * collected (a bounded audit-sized driver list, like the x48 probe
    * keys) and pushed as an IN filter into the documents scan BEFORE the
    * gram explode — only the audited documents are ever tokenized, and
    * the pruned gram table (a few hundred rows) is checkpointed once and
    * shared by the position side and the hash side. At 100 TB this is a
    * partition-pruned point lookup of ~10 documents, not a corpus scan.
    */
  /** Gram postings for exactly `ids` — the audit-pruned scan x85 runs:
    * the IN filter reaches the parquet scan as a pushed filter, so only
    * the audited documents are read and tokenized (DedupSpec gates the
    * pushed-filter plan shape so the full-corpus regression cannot
    * silently return).
    */
  private[ext] def prunedGrams(s: SparkSession, dir: String,
      ids: Seq[Long], k: Int): DataFrame =
    t(s, dir, "documents")
      .filter(col("doc_id").isin(ids: _*))
      .select(col("doc_id"),
        posexplode(gramHashes(TextAnalysis.wsTokens(lower(col("text"))), k)))
      .select(col("doc_id"), col("pos"), col("col").as("h"))

  def overlapSpans(s: SparkSession, dir: String,
      topPairs: Int = 5, k: Int = 4): DataFrame = {
    val pairs = winnowingTopk(s, dir).limit(topPairs)
      .select(col("doc_a"), col("doc_b"))
    val pairIds: Array[Long] = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct().collect().map(_.getLong(0))
    val grams = prunedGrams(s, dir, pairIds, k).pinned
    val aSide = pairs
      .join(grams.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .select(col("doc_a"), col("doc_b"), col("pos"), col("h"))
    val bHashes = pairs
      .join(grams.select(col("doc_id").as("doc_b"), col("h")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("h")).distinct()
    val w = Window.partitionBy(col("doc_a"), col("doc_b")).orderBy(col("pos"))
    aSide.join(bHashes, Seq("doc_a", "doc_b", "h"), "left_semi")
      .dropDuplicates("doc_a", "doc_b", "pos")
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("run")).as("n_matched_grams"),
        max(col("run")).as("longest_run_grams"))
      .withColumn("longest_span_tokens", col("longest_run_grams") + (k - 1))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Cross-document boilerplate-passage mining — the corpus-level
    * complement of x85's pair-level span audit: positions whose k-gram
    * occurs in >= `minDf` DISTINCT documents are boilerplate evidence
    * (shared disclaimers, footers, license headers — text a curation
    * run strips before training), coalesced per document into maximal
    * consecutive runs (gaps-and-islands) and reported when the run
    * reaches `minRun` grams. The document-frequency aggregate carries
    * O(1) state per gram (the x11 df-cut discipline — never a doc-id
    * list), the semi-join prunes postings BEFORE the per-doc window,
    * and island state is per-document — nothing global at any corpus
    * size.
    */
  def boilerplateSpans(s: SparkSession, dir: String,
      k: Int = 4, minDf: Int = 2, minRun: Int = 3): DataFrame = {
    // the postings feed BOTH the df aggregate and the semi-join probe,
    // and are shared with the winnowing pipeline via the session cache
    // (the at-scale form writes the postings pass to a bucketed table)
    val grams = gramPostings(s, dir, k)
    val common = grams.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("h"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    grams.join(common, Seq("h"), "left_semi")
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).cast(LongType).as("span_start"),
        count(lit(1)).as("span_grams"))
      .filter(col("span_grams") >= minRun)
      .select(col("doc_id"), col("span_start"), col("span_grams"),
        (col("span_grams") + (k - 1)).as("span_tokens"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** x154: dedup-aggressiveness threshold sweep — the policy datasheet
    * that answers "what does raising τ cost" BEFORE a full dedup run:
    * the verified candidate pair set (the x11 df-cut machinery — one
    * pair-finding pass, checkpointed, the expensive leg never reruns
    * per threshold) is swept across τ ∈ {0.50, 0.60, 0.70, 0.80};
    * each point counts qualifying pairs (J ≥ τ evaluated as INTEGERS:
    * 100·|∩| ≥ pct·|∪| — no float Jaccard near the gate) and the
    * documents an order-free drop rule would remove (dropped iff SOME
    * qualifying partner is better under (shingle count desc, doc_id) —
    * the x144 rule family, so the count needs no iteration). The
    * text-lane twin of the x153 recall curve: one pass, N policy
    * points.
    */
  def dedupThresholdSweep(s: SparkSession, dir: String,
      taus: Seq[Long] = Seq(50L, 60L, 70L, 80L)): DataFrame = {
    // r19 optimization round (guide §1.2): the previous shape ran one
    // filter + side-union + distinct + two aggregates PER τ (4 legs,
    // ~18 stages). The τ test `100·n_common ≥ τ·union` is monotone in
    // τ, so each pair qualifies exactly for τ ≤ maxτ = ⌊100·n_common /
    // union⌋ (exact integer DIV — union > 0 since a verified pair
    // shares a shingle), and the τ-independent drop rule means a doc is
    // dropped at τ iff its best dropping partner's pair has maxτ ≥ τ.
    // One pass computes per-pair maxτ and per-doc max-of-maxτ; the
    // sweep is then four conditional counts over two one-row frames —
    // identical integers, ~4 stages.
    val pairs = verifiedPairsCached(s, dir, 20, 3)
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"), col("n_common"))
      .withColumn("max_tau", expr(
        "CAST(n_common * 100 DIV (n_a + n_b - n_common) AS LONG)"))
    val sides = pairs.select(col("doc_a").as("id"), col("n_a").as("n_me"),
        col("n_b").as("n_other"), col("doc_b").as("other"), col("max_tau"))
      .unionByName(pairs.select(col("doc_b").as("id"), col("n_b").as("n_me"),
        col("n_a").as("n_other"), col("doc_a").as("other"), col("max_tau")))
    val docDrop = sides
      .filter(col("n_other") > col("n_me") ||
        (col("n_other") === col("n_me") && col("other") < col("id")))
      .groupBy(col("id")).agg(max(col("max_tau")).as("d_tau"))
    val pAggs = taus.map(pct =>
      sum(when(col("max_tau") >= pct, 1L).otherwise(0L)).as(s"p$pct"))
    val dAggs = taus.map(pct =>
      sum(when(col("d_tau") >= pct, 1L).otherwise(0L)).as(s"d$pct"))
    val pairCounts = pairs.agg(pAggs.head, pAggs.tail: _*)
    val dropCounts = docDrop.agg(dAggs.head, dAggs.tail: _*)
    pairCounts.crossJoin(dropCounts)
      .select(explode(array(taus.map(pct => struct(lit(pct).as("tau_pct"),
        coalesce(col(s"p$pct"), lit(0L)).as("n_pairs"),
        coalesce(col(s"d$pct"), lit(0L)).as("n_docs_dropped"))): _*)).as("r"))
      .select(col("r.tau_pct"), col("r.n_pairs"), col("r.n_docs_dropped"))
      .orderBy(col("tau_pct"))
  }

  /** x149: CCNet-style line-grain exact dedup (Wenzek et al. 2020 §3.1
    * — the pass that strips repeated navigation chrome, cookie banners
    * and boilerplate lines BEFORE any LM scoring): every non-empty
    * trimmed line is hashed corpus-wide, and only its FIRST occurrence
    * (smallest (doc_id, line_no)) survives; blank lines never join a
    * dup class (they are layout, not content — a corpus-wide "first
    * empty line wins" would gut every document below the first).
    * Reported per document: line totals, kept/dropped counts, and the
    * exact surviving character mass — the number CCNet's savings tables
    * are built from. Scale shape: one posexplode, one hash-keyed
    * min-struct aggregate (map-side combinable — O(1) state per
    * distinct line, never a position list), one hash-keyed join back,
    * one doc-grain aggregate; the only wide key is the line hash
    * itself, whose cardinality the dedup is busy shrinking.
    */
  def lineDedup(s: SparkSession, dir: String): DataFrame = {
    val lines = docsT(s, dir)
      .select(col("doc_id"), posexplode(split(col("text"), "\n")).as(Seq("line_no", "line")))
      .withColumn("t", trim(col("line")))
    val nonEmpty = lines.filter(length(col("t")) > 0)
      .withColumn("h", TextAnalysis.tokenHash(col("t")))
    val firsts = nonEmpty.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("line_no"))).as("first"))
      .select(col("h"), col("first").getField("doc_id").as("f_doc"),
        col("first").getField("line_no").as("f_line"))
    val marked = nonEmpty.join(firsts, Seq("h"))
      .withColumn("kept",
        col("doc_id") === col("f_doc") && col("line_no") === col("f_line"))
    val perDoc = marked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_nonempty"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(!col("kept"), 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("kept"), length(col("t")).cast(LongType)).otherwise(0L))
          .as("retained_chars"))
    val totals = lines.groupBy(col("doc_id")).agg(count(lit(1)).as("n_lines"))
    totals.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_nonempty"), lit(0L)).as("n_nonempty"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        coalesce(col("retained_chars"), lit(0L)).as("retained_chars"))
      .orderBy(col("doc_id"))
  }

  /** Split-contamination detection — the eval-integrity companion to
    * x61's leakage-safe split: how many verified near-dup pairs
    * STRADDLE the naive per-document split (x40), i.e. a train document
    * whose near-duplicate sits in val/test. One row: total near-dup
    * pairs, cross-split pairs, and the leak rate — the number that
    * justifies cluster-hashed splitting, measured rather than asserted.
    * Plan: the (tiny) verified pair set takes two broadcastable
    * id→split joins and one global aggregate.
    */
  def splitContamination(s: SparkSession, dir: String): DataFrame = {
    val pairs = minhashPairs(s, dir, bands = 32, rowsPerBand = 2)
      .select(col("doc_a"), col("doc_b"))
    val splits = graft.ops.Sampling.hashSplit(s, dir)
      .select(col("doc_id"), col("split"))
    pairs
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")), "doc_a")
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")), "doc_b")
      .agg(count(lit(1)).as("n_neardup_pairs"),
        sum(when(col("split_a") =!= col("split_b"), 1L).otherwise(0L))
          .cast(LongType).as("n_cross_split"))
      .select(col("n_neardup_pairs"), col("n_cross_split"),
        (col("n_cross_split").cast(DoubleType)
          / col("n_neardup_pairs").cast(DoubleType)).as("leak_rate"))
  }

  /** Sorted-neighborhood record linkage — the classic alternative to
    * x56's equality blocking (Hernández/Stolfo SIGMOD'95): records sort
    * by a key that clusters likely matches (here the name itself) and
    * only pairs within a sliding window of `windowSize` ranks are
    * compared, so candidate count is linear in records instead of
    * quadratic in block size. The window join is spelled as an
    * explode-to-offsets equi-join (each record joins ranks r+1..r+w−1)
    * — a plain shuffle join, no band/range join needed. The global name
    * sort is the method's inherent cost; at scale it is a
    * range-partitioned sort, and everything after it is rank
    * arithmetic. Pairs at Levenshtein <= `maxDist` link.
    */
  def sortedNeighborhood(s: SparkSession, dir: String, windowSize: Int = 5,
      maxKey: Int = 300, maxDist: Int = 2): DataFrame = {
    val ranked = t(s, dir, "customer")
      .filter(col("c_custkey") < maxKey)
      .select(col("c_custkey"), col("c_name"))
      .withColumn("rnk", row_number()
        .over(Window.orderBy(col("c_name"), col("c_custkey"))).cast(LongType))
    val a = ranked
      .withColumn("o", explode(sequence(lit(1), lit(windowSize - 1))))
      .select(col("c_custkey").as("key_a"), col("c_name").as("name_a"),
        (col("rnk") + col("o")).as("rnk_b"))
    a.join(ranked.select(col("c_custkey").as("key_b"), col("c_name").as("name_b"),
        col("rnk").as("rnk_b")), "rnk_b")
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast(LongType))
      .filter(col("dist") <= maxDist)
      .select(least(col("key_a"), col("key_b")).as("key_a"),
        greatest(col("key_a"), col("key_b")).as("key_b"), col("dist"))
      .orderBy(col("key_a"), col("key_b"))
  }

  /** Effective-dataset-size report — what the near-dup policy actually
    * buys: one row with total docs/tokens, clustered docs, docs and
    * tokens surviving the keep-longest canonical policy (x75's keepers
    * plus every unclustered singleton), and the token retention ratio.
    * The headline number a curation review reads before and after a
    * dedup change; consumes the session-materialized cluster labels and
    * the keep flags, reduces in one global aggregate of exact integers.
    */
  def effectiveDatasetSize(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents").select(col("doc_id"),
      size(TextAnalysis.wsTokens(col("text"))).cast(LongType).as("n_tokens"))
    val kept = canonicalSelection(s, dir)
      .select(col("doc_id"), col("keep").as("cluster_keep"))
    toks.join(kept, Seq("doc_id"), "left")
      .select(col("n_tokens"),
        col("cluster_keep").isNotNull.as("clustered"),
        coalesce(col("cluster_keep"), lit(true)).as("keep"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast(LongType).as("n_tokens"),
        sum(when(col("clustered"), 1L).otherwise(0L)).cast(LongType).as("n_clustered_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).cast(LongType).as("n_docs_kept"),
        sum(when(col("keep"), col("n_tokens")).otherwise(0L)).cast(LongType)
          .as("n_tokens_kept"))
      .select(col("n_docs"), col("n_tokens"), col("n_clustered_docs"),
        col("n_docs_kept"), col("n_tokens_kept"),
        (col("n_tokens_kept").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .as("token_retention"))
  }

  /** Cross-source near-duplication matrix — which sources copy from
    * each other: the verified x12 pair set (exact Jaccard >= 0.5)
    * aggregated by unordered source pair, with pair count and the
    * strongest overlap. The provenance diagnostic a curation run reads
    * before deciding which feed to drop; per-pair source lookup is two
    * broadcastable id→source joins on the (tiny) pair set, and
    * max(jaccard) is order-invariant so the frame hash-gates (a MEAN of
    * doubles would sum in partition order and could not).
    */
  def sourceNearDupMatrix(s: SparkSession, dir: String): DataFrame = {
    val pairs = minhashPairs(s, dir, bands = 32, rowsPerBand = 2)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"), col("jaccard"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"), max(col("jaccard")).as("max_jaccard"))
      .orderBy(col("n_pairs").desc, col("source_a"), col("source_b"))
  }

  /** x210: benchmark-contamination detection — the GPT-3 appendix-C /
    * C4-analysis audit: which EVAL documents' n-grams appear anywhere
    * in the TRAINING corpus. `evalSource` plays the held-out benchmark;
    * every eval doc reports its distinct n-gram count, how many of
    * those grams exist in the train side's distinct gram set, the
    * collision fraction, and a threshold verdict. Grain n=4 on this
    * fixture gives a discriminative spread (16/25 docs hit, max 12.5%);
    * real runs use 8-13-gram grains per the papers.
    *
    * Scale shape: the train side reduces to DISTINCT 60-bit gram
    * hashes (one shuffle, the same map-side-combinable fingerprint
    * discipline as dedupExact); the probe is a left-semi-style join of
    * the (tiny) eval gram set against it — eval benchmarks are
    * megabytes, so the join shuffles the eval side and streams train.
    * Nothing ever pairs documents.
    */
  def contaminationReport(s: SparkSession, dir: String, n: Int = 4,
      evalSource: String = "src19", threshold: Double = 0.05): DataFrame = {
    val g = allGrams(s, dir, n)
    contaminationProbe(
      g.filter(col("source") === evalSource).select(col("doc_id"), col("h")),
      g.filter(col("source") =!= evalSource).select(col("h")).distinct(),
      threshold)
  }

  /** The frame-level form (docs: doc_id, source, text) — DedupSpec
    * drives the semantics on hand-built corpora.
    */
  def contaminationOf(docs: DataFrame, n: Int,
      evalSource: String, threshold: Double): DataFrame =
    contaminationProbe(
      gramSet(docs.filter(col("source") === evalSource), n),
      corpusGrams(docs.filter(col("source") =!= evalSource), n),
      threshold)

  private val allGramCache = SessionMemo[(String, Int), DataFrame]("Dedup.allGram")

  /** The corpus's distinct (doc_id, source, gram hash) frame — built
    * and checkpointed ONCE per (session, dir, n) and filtered by every
    * contamination-family registration (x210/x211/x213 each consume
    * train and eval slices of the same frame; at 10x the gram build
    * was ~12 s per pass and the family paid it five times).
    */
  private[graft] def allGrams(s: SparkSession, dir: String, n: Int): DataFrame =
    allGramCache(s, (dir, n)) {
      val docs = docsT(s, dir)
      docs
        .select(col("doc_id"), col("source"),
          explode(wordShingles(TextAnalysis.wsTokens(lower(col("text"))), n)).as("g"))
        .select(col("doc_id"), col("source"), TextAnalysis.tokenHash(col("g")).as("h"))
        .distinct()
        .pinned
    }

  /** Distinct (doc_id, 60-bit n-gram hash) of a (doc_id, text) frame —
    * the probe-side unit (doc grain matters for the per-doc report).
    */
  def gramSet(docs: DataFrame, n: Int): DataFrame = docs
    .select(col("doc_id"),
      explode(wordShingles(TextAnalysis.wsTokens(lower(col("text"))), n)).as("g"))
    .select(col("doc_id"), TextAnalysis.tokenHash(col("g")).as("h"))
    .distinct()

  /** Distinct gram hashes of a corpus WITHOUT the doc grain — the
    * train/index side: one distinct over `h` alone (the per-doc
    * distinct would be a second full-width shuffle the index never
    * reads).
    */
  def corpusGrams(docs: DataFrame, n: Int): DataFrame = docs
    .select(explode(wordShingles(TextAnalysis.wsTokens(lower(col("text"))), n)).as("g"))
    .select(TextAnalysis.tokenHash(col("g")).as("h"))
    .distinct()

  /** x213: DECONTAMINATION — the other direction of x210 and what the
    * GPT-3/PaLM pipelines actually ship: train documents colliding
    * with the eval set are REMOVED (the benchmark must stay held-out,
    * so the training corpus pays, not the eval set). A train doc is
    * contaminated when >= `threshold` of its distinct n-grams appear
    * in the eval gram set. Output is the audit a curation run records:
    * per SOURCE the doc counts kept/dropped and token counts
    * kept/dropped, plus corpus totals — the datasheet row, not the
    * (huge) surviving corpus itself.
    *
    * Scale shape: eval grams are benchmark-sized → the distinct eval
    * gram set broadcasts; each train doc's grams probe it map-side
    * (left-semi), one doc-grain aggregate, one source-grain rollup.
    * The train corpus is read once and never pairs with itself.
    */
  def decontaminateTrain(s: SparkSession, dir: String, n: Int = 4,
      evalSource: String = "src19", threshold: Double = 0.05): DataFrame = {
    val docs = t(s, dir, "documents")
    val g = allGrams(s, dir, n)
    val evalGrams = g.filter(col("source") === evalSource)
      .select(col("h")).distinct()
    val train = docs.filter(col("source") =!= evalSource)
    val trainGrams = g.filter(col("source") =!= evalSource)
      .select(col("doc_id"), col("h"))
    val hits = trainGrams.join(broadcast(evalGrams), Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    val perDoc = trainGrams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("dropped",
        col("n_hit").cast(DoubleType) / col("n_grams").cast(DoubleType)
          >= threshold)
    train
      .select(col("doc_id"), col("source"),
        size(TextAnalysis.wsTokens(lower(col("text")))).cast(LongType)
          .as("n_tokens"))
      .join(perDoc.select(col("doc_id"), col("dropped")), Seq("doc_id"), "left")
      .withColumn("dropped", coalesce(col("dropped"), lit(false)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dropped"), 1L).otherwise(0L)).as("n_dropped"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(when(col("dropped"), col("n_tokens")).otherwise(0L))
          .as("tokens_dropped"))
      .orderBy(col("source"))
  }

  /** Probe eval grams (doc_id, h) against a distinct train gram set. */
  def contaminationProbe(ev: DataFrame, train: DataFrame,
      threshold: Double): DataFrame = {
    val hits = ev.join(train, Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    ev.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("frac",
        col("n_hit").cast(DoubleType) / col("n_grams").cast(DoubleType))
      .select(col("doc_id"), col("n_grams"), col("n_hit"), col("frac"),
        (col("frac") >= threshold).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** x12 is registered with verification-grade banding (32 bands x 2
    * rows — same 64-hash signature as the 16x4 default, but per-pair
    * miss probability (1-J^2)^32 <= 1e-4 at the 0.5 threshold), so the
    * emitted set EQUALS the exact Jaccard >= 0.5 pair set and the DuckDB
    * oracle can check it outright. Production banding stays the caller's
    * choice; DedupSpec separately bounds the default's recall.
    */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x210_contamination" -> ((s: SparkSession, dir: String) => contaminationReport(s, dir)),
    "x213_decontaminate" -> ((s: SparkSession, dir: String) => decontaminateTrain(s, dir)),
    "x70_winnowing_topk" -> ((s: SparkSession, dir: String) => winnowingTopk(s, dir)),
    "x75_canonical_selection" -> (canonicalSelection _),
    "x85_overlap_spans" -> ((s: SparkSession, dir: String) => overlapSpans(s, dir)),
    "x10_dedup_exact" -> (dedupExact _),
    "x11_jaccard_topk" -> ((s: SparkSession, dir: String) => jaccardTopk(s, dir)),
    "x12_minhash_pairs" -> ((s: SparkSession, dir: String) =>
      minhashPairs(s, dir, bands = 32, rowsPerBand = 2)),
    "x13_simhash" -> (simhashSketch _),
    "x44_contamination" -> ((s: SparkSession, dir: String) => contamination(s, dir)),
    "x47_dup_clusters" -> (dupClusters _),
    "x56_fuzzy_match" -> ((s: SparkSession, dir: String) => fuzzyNameMatch(s, dir)),
    "x58_simhash_neardup" -> ((s: SparkSession, dir: String) => simhashNearDup(s, dir)),
    "x59_incremental_dedup" -> ((s: SparkSession, dir: String) => incrementalDedup(s, dir)),
    "x86_incremental_neardup" -> ((s: SparkSession, dir: String) => incrementalNearDup(s, dir)),
    "x87_boilerplate_spans" -> ((s: SparkSession, dir: String) => boilerplateSpans(s, dir)),
    "x90_source_neardup_matrix" -> (sourceNearDupMatrix _),
    "x92_effective_dataset_size" -> (effectiveDatasetSize _),
    "x94_sorted_neighborhood" -> ((s: SparkSession, dir: String) => sortedNeighborhood(s, dir)),
    "x96_split_contamination" -> (splitContamination _),
    "x149_line_dedup" -> (lineDedup _),
    "x154_dedup_sweep" -> ((s: SparkSession, dir: String) => dedupThresholdSweep(s, dir)),
    "x98_incremental_neardup_indexed" ->
      ((s: SparkSession, dir: String) => incrementalNearDupIndexed(s, dir)),
    "x61_leakage_safe_split" -> (leakageSafeSplit _),
    "x62_containment_topk" -> ((s: SparkSession, dir: String) => containmentTopk(s, dir)))

  /** The (doc_id, simhash) sketch as DuckDB CTEs ending in `sk` — shared
    * by the x13 and x58 oracles.
    */
  private def simhashSketchCtes: String = {
    val votes = (0 until SimhashBits)
      .map(b => s"sum(CASE WHEN th & ${1L << b} <> 0 THEN 1 ELSE -1 END) AS v$b")
      .mkString(",\n        ")
    val orBits = (0 until SimhashBits)
      .map(b => s"CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" | ")
    s"""toks AS (
       |  SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS th
       |  FROM (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
       |        FROM documents)),
       |votes AS (
       |  SELECT doc_id,
       |        $votes
       |  FROM toks GROUP BY doc_id),
       |sk AS (SELECT doc_id, CAST($orBits AS BIGINT) AS simhash FROM votes)""".stripMargin
  }

  /** ACCEPTED MISS BOUND for the three MinHash-LSH-gated oracles
    * (x12/x86/x98): their DuckDB twins compute the EXACT Jaccard >=
    * threshold pair set, while the Spark side emits banded candidates
    * exact-verified — so the gate rides on 32x2 banding recovering
    * every qualifying pair. Per-pair miss probability is
    * (1 - J^2)^32: ~1e-4 at J = 0.5, ~8e-3 at J = 0.4 (worst just
    * above threshold). On the pinned test corpora every qualifying
    * pair's J is enumerable and none falls in the risky band, so the
    * gate is stable for the driver's runs; on a NEW or larger corpus a
    * just-above-threshold pair could flip it — that is a property of
    * verification-grade LSH banding, not a bug, and the remedy at
    * adoption time is re-pinning band count to the corpus's threshold
    * margin. The banded-embedding lane (x99/x100) avoids this class
    * entirely by making the twin replicate the CANDIDATE set.
    */
  lazy val oracles: Map[String, String] = Map(
    // x210: identical shingle derivation, the same md5 60-bit gram
    // hash, distinct-per-doc counting, left-join hit test
    "x210_contamination" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    list_transform(generate_series(1, greatest(len(w)-3, 0), 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) AS sh
        |  FROM (SELECT doc_id, source, string_split_regex(trim(lower(text)), '\s+') AS w
        |        FROM documents)
        |  WHERE len(w) >= 4),
        |g AS (
        |  SELECT DISTINCT doc_id, source,
        |    ('0x' || substr(md5(gg), 1, 15))::BIGINT AS h
        |  FROM (SELECT doc_id, source, unnest(sh) AS gg FROM d)),
        |tr AS (SELECT DISTINCT h FROM g WHERE source <> 'src19'),
        |ev AS (SELECT doc_id, h FROM g WHERE source = 'src19'),
        |r AS (
        |  SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN tr.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        |  FROM ev e LEFT JOIN tr ON e.h = tr.h GROUP BY e.doc_id)
        |SELECT doc_id, n_grams, n_hit,
        |  CAST(n_hit AS DOUBLE) / CAST(n_grams AS DOUBLE) AS frac,
        |  CAST(n_hit AS DOUBLE) / CAST(n_grams AS DOUBLE) >= 0.05 AS contaminated
        |FROM r ORDER BY doc_id""".stripMargin,
    // x213: same gram derivation, hit test reversed (train probes the
    // eval gram set), per-source kept/dropped doc + token rollup
    "x213_decontaminate" ->
      """WITH d AS (
        |  SELECT doc_id, source, len(w) AS n_tokens,
        |    list_transform(generate_series(1, greatest(len(w)-3, 0), 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) AS sh
        |  FROM (SELECT doc_id, source, string_split_regex(trim(lower(text)), '\s+') AS w
        |        FROM documents)),
        |g AS (
        |  SELECT DISTINCT doc_id, source,
        |    ('0x' || substr(md5(gg), 1, 15))::BIGINT AS h
        |  FROM (SELECT doc_id, source, unnest(sh) AS gg FROM d WHERE n_tokens >= 4)),
        |ev AS (SELECT DISTINCT h FROM g WHERE source = 'src19'),
        |pd AS (
        |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        |  FROM (SELECT * FROM g WHERE source <> 'src19') t
        |  LEFT JOIN ev ON t.h = ev.h GROUP BY t.doc_id),
        |tr AS (
        |  SELECT d.doc_id, d.source, CAST(d.n_tokens AS BIGINT) AS n_tokens,
        |    coalesce(CAST(pd.n_hit AS DOUBLE) / CAST(pd.n_grams AS DOUBLE) >= 0.05,
        |      FALSE) AS dropped
        |  FROM d LEFT JOIN pd ON d.doc_id = pd.doc_id
        |  WHERE d.source <> 'src19')
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN dropped THEN n_tokens ELSE 0 END) AS BIGINT)
        |    AS tokens_dropped
        |FROM tr GROUP BY source ORDER BY source""".stripMargin,
    // the indexed path emits the identical pair set as x86 (cross-band
    // 64-bit bucket collisions die in exact verification) — same twin
    "x98_incremental_neardup_indexed" -> oraclesBase("x86_incremental_neardup"),
    // x154: the x11 candidate CTEs without the top-20 cut, the same
    // integer τ comparison per sweep point, and the same order-free
    // better-partner drop rule.
    "x154_dedup_sweep" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, greatest(len(w)-2, 0), 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |inv AS (SELECT doc_id, unnest(sh) AS shingle FROM d),
        |dfc AS (SELECT shingle, count(*) AS df FROM inv GROUP BY shingle),
        |inv2 AS (SELECT doc_id, inv.shingle FROM inv
        |         JOIN dfc ON inv.shingle = dfc.shingle WHERE df BETWEEN 2 AND 20),
        |rc AS (SELECT doc_id, count(*) AS nr FROM inv2 GROUP BY doc_id),
        |shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n
        |           FROM inv2 a JOIN inv2 b
        |           ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |           GROUP BY 1, 2),
        |cand AS (SELECT doc_a, doc_b FROM shared
        |         JOIN rc ra ON ra.doc_id = shared.doc_a
        |         JOIN rc rb ON rb.doc_id = shared.doc_b
        |         WHERE n >= least(3, ra.nr, rb.nr)),
        |pv AS (
        |  SELECT c.doc_a, c.doc_b,
        |    CAST(len(list_intersect(da.sh, db.sh)) AS BIGINT) AS n_common,
        |    CAST(len(da.sh) AS BIGINT) AS n_a, CAST(len(db.sh) AS BIGINT) AS n_b
        |  FROM cand c JOIN d da ON da.doc_id = c.doc_a
        |              JOIN d db ON db.doc_id = c.doc_b),
        |ts AS (SELECT CAST(unnest([50, 60, 70, 80]) AS BIGINT) AS tau_pct),
        |q AS (
        |  SELECT ts.tau_pct, pv.doc_a, pv.doc_b, pv.n_a, pv.n_b
        |  FROM pv JOIN ts ON pv.n_common * 100 >= ts.tau_pct * (pv.n_a + pv.n_b - pv.n_common)),
        |dropped AS (
        |  SELECT tau_pct, id FROM (
        |    SELECT tau_pct, doc_a AS id, n_a AS n_me, n_b AS n_other, doc_b AS other FROM q
        |    UNION ALL
        |    SELECT tau_pct, doc_b, n_b, n_a, doc_a FROM q)
        |  WHERE n_other > n_me OR (n_other = n_me AND other < id)
        |  GROUP BY tau_pct, id),
        |np AS (SELECT tau_pct, CAST(count(*) AS BIGINT) AS n_pairs FROM q GROUP BY tau_pct),
        |nd AS (SELECT tau_pct, CAST(count(*) AS BIGINT) AS n_docs_dropped
        |       FROM dropped GROUP BY tau_pct)
        |SELECT ts.tau_pct, coalesce(np.n_pairs, 0) AS n_pairs,
        |  coalesce(nd.n_docs_dropped, 0) AS n_docs_dropped
        |FROM ts LEFT JOIN np USING (tau_pct) LEFT JOIN nd USING (tau_pct)
        |ORDER BY ts.tau_pct""".stripMargin,
    // x149: the identical md5-keyed first-occurrence rule — blank
    // trimmed lines bypass the dup classes, positions are 0-based on
    // both sides (unnest ordinality minus 1). First occurrence is the
    // lexicographic struct min, the exact mirror of the Spark side's
    // min(struct(doc_id, line_no)) — no integer radix, so the rule
    // holds for any line count or doc_id magnitude.
    "x149_line_dedup" ->
      """WITH lines AS (
        |  SELECT doc_id, i - 1 AS line_no, l, trim(l) AS t
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
        |       LATERAL (SELECT unnest(ls) AS l,
        |                       unnest(generate_series(1, len(ls))) AS i)),
        |ne AS (
        |  SELECT doc_id, line_no, t,
        |    ('0x' || substr(md5(t), 1, 15))::BIGINT AS h
        |  FROM lines WHERE length(t) > 0),
        |firsts AS (
        |  SELECT h, min({'d': doc_id, 'l': line_no}) AS f
        |  FROM ne GROUP BY h),
        |marked AS (
        |  SELECT ne.doc_id, ne.line_no, ne.t,
        |    ne.doc_id = fs.f.d AND ne.line_no = fs.f.l AS kept
        |  FROM ne JOIN firsts fs USING (h)),
        |per_doc AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_nonempty,
        |    CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |    CAST(sum(CASE WHEN NOT kept THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |    CAST(sum(CASE WHEN kept THEN length(t) ELSE 0 END) AS BIGINT) AS retained_chars
        |  FROM marked GROUP BY doc_id),
        |totals AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines FROM lines GROUP BY doc_id)
        |SELECT t.doc_id, t.n_lines,
        |  coalesce(p.n_nonempty, 0) AS n_nonempty,
        |  coalesce(p.n_kept, 0) AS n_kept,
        |  coalesce(p.n_dropped, 0) AS n_dropped,
        |  coalesce(p.retained_chars, 0) AS retained_chars
        |FROM totals t LEFT JOIN per_doc p USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    // composes the x12 pair SQL with x40's split CASE (same md5 bucket)
    "x96_split_contamination" ->
      s"""WITH p AS (${oraclesBase("x12_minhash_pairs")}),
         |sp AS (
         |  SELECT doc_id,
         |    CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 80 THEN 'train'
         |         WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents)
         |SELECT count(*) AS n_neardup_pairs,
         |  CAST(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_split,
         |  CAST(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS leak_rate
         |FROM p JOIN sp a ON a.doc_id = p.doc_a
         |       JOIN sp b ON b.doc_id = p.doc_b""".stripMargin,
    "x94_sorted_neighborhood" ->
      """WITH ranked AS (
        |  SELECT c_custkey, c_name,
        |    CAST(row_number() OVER (ORDER BY c_name, c_custkey) AS BIGINT) AS rnk
        |  FROM customer WHERE c_custkey < 300),
        |cand AS (
        |  SELECT a.c_custkey AS ka, a.c_name AS na,
        |         b.c_custkey AS kb, b.c_name AS nb
        |  FROM ranked a JOIN ranked b
        |    ON b.rnk - a.rnk BETWEEN 1 AND 4)
        |SELECT least(ka, kb) AS key_a, greatest(ka, kb) AS key_b,
        |  CAST(levenshtein(na, nb) AS BIGINT) AS dist
        |FROM cand WHERE levenshtein(na, nb) <= 2
        |ORDER BY key_a, key_b""".stripMargin,
    "x90_source_neardup_matrix" ->
      s"""WITH p AS (${oraclesBase("x12_minhash_pairs")})
         |SELECT least(da.source, db.source) AS source_a,
         |  greatest(da.source, db.source) AS source_b,
         |  count(*) AS n_pairs, max(p.jaccard) AS max_jaccard
         |FROM p
         |JOIN documents da ON da.doc_id = p.doc_a
         |JOIN documents db ON db.doc_id = p.doc_b
         |GROUP BY 1, 2
         |ORDER BY n_pairs DESC, source_a, source_b""".stripMargin,
    "x85_overlap_spans" ->
      s"""WITH topk AS (${oraclesBase("x70_winnowing_topk")}),
         |top5 AS (SELECT doc_a, doc_b FROM topk
         |         ORDER BY n_shared DESC, doc_a, doc_b LIMIT 5),
         |toks2 AS (
         |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, i AS pos,
         |    ('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]), 1, 15))::BIGINT AS h
         |  FROM toks2, LATERAL (SELECT unnest(generate_series(1, len(ws) - 3)) AS i)
         |  WHERE len(ws) >= 4),
         |aside AS (
         |  SELECT DISTINCT p.doc_a, p.doc_b, ga.pos
         |  FROM top5 p JOIN g ga ON ga.doc_id = p.doc_a
         |  WHERE EXISTS (SELECT 1 FROM g gb
         |                WHERE gb.doc_id = p.doc_b AND gb.h = ga.h)),
         |r AS (
         |  SELECT doc_a, doc_b, pos,
         |    pos - row_number() OVER (PARTITION BY doc_a, doc_b ORDER BY pos) AS grp
         |  FROM aside),
         |runs AS (SELECT doc_a, doc_b, grp, count(*) AS run FROM r GROUP BY 1, 2, 3)
         |SELECT doc_a, doc_b,
         |  CAST(sum(run) AS BIGINT) AS n_matched_grams,
         |  max(run) AS longest_run_grams,
         |  max(run) + 3 AS longest_span_tokens
         |FROM runs GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin,
    "x75_canonical_selection" ->
      s"""WITH base AS (${oraclesBase("x47_dup_clusters")}),
         |toks AS (
         |  SELECT doc_id,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |r AS (
         |  SELECT base.doc_id, base.cluster_id, base.cluster_size, toks.n_tokens,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY n_tokens DESC, doc_id) AS rnk
         |  FROM base JOIN toks USING (doc_id))
         |SELECT doc_id, cluster_id, cluster_size, n_tokens, rnk = 1 AS keep
         |FROM r ORDER BY doc_id""".stripMargin,
    "x92_effective_dataset_size" ->
      s"""WITH base AS (${oraclesBase("x47_dup_clusters")}),
         |toks AS (
         |  SELECT doc_id,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |kept AS (
         |  SELECT doc_id, rnk = 1 AS cluster_keep FROM (
         |    SELECT base.doc_id,
         |      row_number() OVER (PARTITION BY cluster_id
         |        ORDER BY n_tokens DESC, base.doc_id) AS rnk
         |    FROM base JOIN toks USING (doc_id))),
         |f AS (
         |  SELECT t.n_tokens,
         |    k.cluster_keep IS NOT NULL AS clustered,
         |    COALESCE(k.cluster_keep, TRUE) AS keep
         |  FROM toks t LEFT JOIN kept k USING (doc_id))
         |SELECT count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN clustered THEN 1 ELSE 0 END) AS BIGINT) AS n_clustered_docs,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
         |  CAST(sum(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT) AS n_tokens_kept,
         |  CAST(sum(CASE WHEN keep THEN n_tokens ELSE 0 END) AS DOUBLE)
         |    / CAST(sum(n_tokens) AS DOUBLE) AS token_retention
         |FROM f""".stripMargin) ++ oraclesBase

  private lazy val oraclesBase: Map[String, String] = Map(
    "x70_winnowing_topk" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, i AS pos,
        |    ('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]), 1, 15))::BIGINT AS h
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ws) - 3)) AS i)
        |  WHERE len(ws) >= 4),
        |wins AS (
        |  SELECT doc_id, pos,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS fp
        |  FROM grams),
        |fps AS (SELECT DISTINCT doc_id, fp FROM wins WHERE pos >= 5),
        |cnt AS (SELECT doc_id, count(*) AS n_fp FROM fps GROUP BY doc_id),
        |rare AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM fps GROUP BY fp)
        |         WHERE df BETWEEN 2 AND 20),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        |  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  JOIN rare r ON r.fp = a.fp
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT doc_a, doc_b, n_shared, ca.n_fp AS n_fp_a, cb.n_fp AS n_fp_b,
        |  CAST(n_shared AS DOUBLE) / CAST(least(ca.n_fp, cb.n_fp) AS DOUBLE) AS overlap
        |FROM pairs
        |JOIN cnt ca ON ca.doc_id = doc_a
        |JOIN cnt cb ON cb.doc_id = doc_b
        |ORDER BY n_shared DESC, doc_a, doc_b LIMIT 20""".stripMargin,
    "x10_dedup_exact" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint,
        |  count(*) OVER (PARTITION BY md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))) AS n_copies,
        |  min(doc_id) OVER (PARTITION BY md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))) AS canonical_doc_id,
        |  doc_id = min(doc_id) OVER (PARTITION BY md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))) AS is_canonical
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x11_jaccard_topk" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, greatest(len(w)-2, 0), 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |inv AS (SELECT doc_id, unnest(sh) AS shingle FROM d),
        |dfc AS (SELECT shingle, count(*) AS df FROM inv GROUP BY shingle),
        |inv2 AS (SELECT doc_id, inv.shingle FROM inv
        |         JOIN dfc ON inv.shingle = dfc.shingle WHERE df BETWEEN 2 AND 20),
        |rc AS (SELECT doc_id, count(*) AS nr FROM inv2 GROUP BY doc_id),
        |shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n
        |           FROM inv2 a JOIN inv2 b
        |           ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |           GROUP BY 1, 2),
        |cand AS (SELECT doc_a, doc_b FROM shared
        |         JOIN rc ra ON ra.doc_id = shared.doc_a
        |         JOIN rc rb ON rb.doc_id = shared.doc_b
        |         WHERE n >= least(3, ra.nr, rb.nr))
        |SELECT doc_a, doc_b,
        |  CAST(len(list_intersect(da.sh, db.sh)) AS BIGINT) AS n_common,
        |  CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
        |    / CAST(len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh)) AS DOUBLE) AS jaccard
        |FROM cand JOIN d da ON da.doc_id = doc_a JOIN d db ON db.doc_id = doc_b
        |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20""".stripMargin,
    // x62: identical df-cut candidate generation as x11; containment
    // denominator min(|A|,|B|) instead of the union
    "x62_containment_topk" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, greatest(len(w)-2, 0), 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |inv AS (SELECT doc_id, unnest(sh) AS shingle FROM d),
        |dfc AS (SELECT shingle, count(*) AS df FROM inv GROUP BY shingle),
        |inv2 AS (SELECT doc_id, inv.shingle FROM inv
        |         JOIN dfc ON inv.shingle = dfc.shingle WHERE df BETWEEN 2 AND 20),
        |rc AS (SELECT doc_id, count(*) AS nr FROM inv2 GROUP BY doc_id),
        |shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n
        |           FROM inv2 a JOIN inv2 b
        |           ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |           GROUP BY 1, 2),
        |cand AS (SELECT doc_a, doc_b FROM shared
        |         JOIN rc ra ON ra.doc_id = shared.doc_a
        |         JOIN rc rb ON rb.doc_id = shared.doc_b
        |         WHERE n >= least(3, ra.nr, rb.nr))
        |SELECT doc_a, doc_b,
        |  CAST(len(list_intersect(da.sh, db.sh)) AS BIGINT) AS n_common,
        |  CAST(least(len(da.sh), len(db.sh)) AS BIGINT) AS n_min,
        |  CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
        |    / CAST(least(len(da.sh), len(db.sh)) AS DOUBLE) AS containment
        |FROM cand JOIN d da ON da.doc_id = doc_a JOIN d db ON db.doc_id = doc_b
        |ORDER BY containment DESC, doc_a, doc_b LIMIT 20""".stripMargin,
    // the exact Jaccard >= 0.5 pair set over the FULL inverted index (no
    // df cut: completeness matters here) — x12's high-recall banding must
    // reproduce it exactly
    "x12_minhash_pairs" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, greatest(len(w)-2, 0), 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |inv AS (SELECT doc_id, unnest(sh) AS shingle FROM d),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM inv a JOIN inv b
        |         ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
        |scored AS (
        |  SELECT doc_a, doc_b,
        |    CAST(len(list_intersect(da.sh, db.sh)) AS BIGINT) AS n_common,
        |    CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
        |      / CAST(len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh)) AS DOUBLE) AS jaccard
        |  FROM cand JOIN d da ON da.doc_id = doc_a JOIN d db ON db.doc_id = doc_b)
        |SELECT doc_a, doc_b, n_common, jaccard FROM scored
        |WHERE jaccard >= 0.5
        |ORDER BY jaccard DESC, doc_a, doc_b""".stripMargin,
    // identical gram hashing to x85's twin but 0-based positions (i-1)
    // so span_start compares against Spark's posexplode directly
    "x87_boilerplate_spans" ->
      """WITH toks2 AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    ('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]), 1, 15))::BIGINT AS h
        |  FROM toks2, LATERAL (SELECT unnest(generate_series(1, len(ws) - 3)) AS i)
        |  WHERE len(ws) >= 4),
        |common AS (
        |  SELECT h FROM (
        |    SELECT h, count(DISTINCT doc_id) AS df FROM g GROUP BY h)
        |  WHERE df >= 2),
        |isl AS (
        |  SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM g WHERE h IN (SELECT h FROM common))
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |  count(*) AS span_grams, count(*) + 3 AS span_tokens
        |FROM isl GROUP BY doc_id, grp HAVING count(*) >= 3
        |ORDER BY doc_id, span_start""".stripMargin,
    // the exact pair set restricted to pairs with an increment-side
    // member (doc_b >= 400 suffices: doc_a < doc_b, so doc_b is the
    // increment member of every mixed pair)
    "x86_incremental_neardup" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, greatest(len(w)-2, 0), 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |inv AS (SELECT doc_id, unnest(sh) AS shingle FROM d),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM inv a JOIN inv b
        |         ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |         WHERE b.doc_id >= 400),
        |scored AS (
        |  SELECT doc_a, doc_b,
        |    CAST(len(list_intersect(da.sh, db.sh)) AS BIGINT) AS n_common,
        |    CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
        |      / CAST(len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh)) AS DOUBLE) AS jaccard
        |  FROM cand JOIN d da ON da.doc_id = doc_a JOIN d db ON db.doc_id = doc_b)
        |SELECT doc_a, doc_b, n_common, jaccard, doc_a >= 400 AS incr_internal
        |FROM scored WHERE jaccard >= 0.5
        |ORDER BY jaccard DESC, doc_a, doc_b""".stripMargin,
    // transitive closure by recursive CTE — an independent execution
    // strategy for the same component semantics the iterative
    // min-label propagation computes
    "x47_dup_clusters" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, greatest(len(w)-2, 0), 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |inv AS (SELECT doc_id, unnest(sh) AS shingle FROM d),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM inv a JOIN inv b
        |         ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
        |p AS (
        |  SELECT doc_a, doc_b
        |  FROM cand JOIN d da ON da.doc_id = doc_a JOIN d db ON db.doc_id = doc_b
        |  WHERE CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
        |      / CAST(len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh)) AS DOUBLE) >= 0.5),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
        |          UNION SELECT doc_b, doc_a FROM p),
        |reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |lbl AS (
        |  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        |  FROM reach GROUP BY src)
        |SELECT doc_id, cluster_id,
        |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
        |FROM lbl ORDER BY doc_id""".stripMargin,
    "x44_contamination" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, greatest(len(w)-2, 0), 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |inv AS (SELECT doc_id, unnest(sh) AS shingle FROM d),
        |bench AS (SELECT DISTINCT shingle FROM inv WHERE doc_id < 20)
        |SELECT i.doc_id,
        |  count(*) AS n_shingles,
        |  CAST(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        |  CAST(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS contamination_ratio
        |FROM inv i LEFT JOIN bench b ON i.shingle = b.shingle
        |WHERE i.doc_id >= 20
        |GROUP BY i.doc_id ORDER BY i.doc_id""".stripMargin,
    // SimHash IS SQL-expressible: both engines share the md5-prefix token
    // hash, the +-1 votes are 60 conditional sums in one GROUP BY, and the
    // sketch is the OR of the positive bits' masks. Upgrades x13 from
    // rows-only to a full hash-compared oracle.
    "x13_simhash" ->
      s"""WITH $simhashSketchCtes
         |SELECT doc_id, simhash
         |FROM sk ORDER BY doc_id""".stripMargin,
    // the oracle affords the all-pairs self-join the banded plan avoids
    "x58_simhash_neardup" ->
      s"""WITH $simhashSketchCtes
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sk a JOIN sk b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    "x61_leakage_safe_split" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, greatest(len(w)-2, 0), 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |inv AS (SELECT doc_id, unnest(sh) AS shingle FROM d),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM inv a JOIN inv b
        |         ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
        |p AS (
        |  SELECT doc_a, doc_b
        |  FROM cand JOIN d da ON da.doc_id = doc_a JOIN d db ON db.doc_id = doc_b
        |  WHERE CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
        |      / CAST(len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh)) AS DOUBLE) >= 0.5),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
        |          UNION SELECT doc_b, doc_a FROM p),
        |reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |lbl AS (
        |  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        |  FROM reach GROUP BY src),
        |cl AS (
        |  SELECT dd.doc_id, coalesce(l.cluster_id, dd.doc_id) AS cluster_id
        |  FROM documents dd LEFT JOIN lbl l ON dd.doc_id = l.doc_id)
        |SELECT doc_id, cluster_id,
        |  CASE WHEN ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 80
        |       THEN 'train' ELSE 'val' END AS split
        |FROM cl ORDER BY doc_id""".stripMargin,
    "x59_incremental_dedup" ->
      """WITH fp AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint
        |  FROM documents),
        |hist AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id < 400),
        |incr AS (
        |  SELECT doc_id, fingerprint,
        |    min(doc_id) OVER (PARTITION BY fingerprint) AS incr_canonical_id
        |  FROM fp WHERE doc_id >= 400)
        |SELECT i.doc_id, i.fingerprint,
        |  h.fingerprint IS NOT NULL AS dup_of_history,
        |  i.doc_id = i.incr_canonical_id AS incr_canonical,
        |  h.fingerprint IS NULL AND i.doc_id = i.incr_canonical_id AS keep
        |FROM incr i LEFT JOIN hist h ON i.fingerprint = h.fingerprint
        |ORDER BY i.doc_id""".stripMargin,
    "x56_fuzzy_match" ->
      """WITH c AS (
        |  SELECT c_custkey, c_name, CAST(c_nationkey AS BIGINT) AS block
        |  FROM customer WHERE c_custkey < 300)
        |SELECT a.block AS block, a.c_custkey AS key_a, b.c_custkey AS key_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM c a JOIN c b ON a.block = b.block AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 2
        |ORDER BY a.block, key_a, key_b""".stripMargin)
}
