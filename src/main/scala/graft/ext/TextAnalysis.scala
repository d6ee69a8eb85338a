package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.engine.{SessionMemo, Tables}
import graft.engine.Pin.PinOps
import graft.plans.TopKPerKey

/** Text-analysis operators for LLM training-data pipelines over the
  * `documents` table: token counting, quality scoring, language ID, and
  * document fingerprinting. Everything is built-in column expressions
  * (whole-stage codegen, no UDFs) and purely per-row — embarrassingly
  * parallel, no shuffle at 100 TB beyond the final aggregation, filters
  * and projections push down to the parquet scan.
  */
object TextAnalysis {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.splitCorpus(s, dir, n)

  /** Whitespace tokens of `text`. */
  def wsTokens(c: Column): Column = split(trim(c), "\\s+")

  /** BPE-ish lexer: letter runs, digit runs, single punctuation marks. */
  val BpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def bpeTokens(c: Column): Column = regexp_extract_all(c, lit(BpePattern), lit(0))

  /** Count of BPE tokens via the native one-pass expression — the token
    * COUNT never needs the match array `size(bpeTokens(...))` would
    * build per row (FunctionsSpec proves equality with that spelling).
    */
  def bpeTokenCountCol(c: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      graft.functions.BpeTokenCount(ColumnBridge.expression(c)))
  }

  /** Per-language stopword marker lists for the language-ID heuristic. */
  val LangStops: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "you", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "se", "no"),
    "de" -> Seq("der", "die", "und", "den", "von", "zu", "das", "mit", "sich", "nicht"),
    "fr" -> Seq("le", "la", "de", "et", "un", "que", "pour", "dans", "est", "pas"))

  /** Tokens matching a fixed list — `filter` keeps repeats (ratio needs
    * token occurrences, not distinct hits).
    */
  private def hits(tokens: Column, words: Seq[String]): Column =
    size(filter(tokens, w => w.isInCollection(words))).cast(LongType)

  /** The x02 stoplist, shared with the SQL twin ([[StopListSql]]). */
  private val StopList = Seq("the", "a", "and", "of", "to", "in", "is")

  /** Session-scoped memo of the doc-grain filter legs the curation
    * composites share (x54/x63 LM scores, x03 language ID, x71 Gopher
    * flags): x155's funnel, x136's agreement matrix, x147's weak labels
    * and x74's manifest all re-derive the SAME per-doc frames — at the
    * 100x corpus the bigram-LM leg alone is three shuffle joins at
    * bigram grain, paid once per consumer without the memo. Values are
    * pinned doc-grain frames (a few narrow columns per document — MBs
    * at sf0.1, low GBs at a 100 TB corpus fraction of distinct docs),
    * keyed by (session, dir, leg). Leg builds nest (the x63 build
    * consumes the cached x54 leg), which the seam allows.
    * [[graft.engine.SessionMemo.reset]] makes an in-session corpus
    * rewrite observable.
    */
  private val legCache = SessionMemo[(String, String), DataFrame]("TextAnalysis.leg")

  private def cachedLeg(s: SparkSession, dir: String, key: String)
      (build: => DataFrame): DataFrame =
    legCache(s, (dir, key))(build.pinned)

  /** The four curation counters in ONE native code-point scan
    * ([[graft.functions.QualityCounts]]) — the r20-seed fix for the
    * quality family's three-regex-passes-per-document constant (x02's
    * single projection measured 42 s at the 100x corpus, dominated by
    * regexp_extract_all materializing every punctuation char as its own
    * array element). Values identical to the regex spellings
    * (FunctionsSpec pins the equivalence, the x02/x05/x89/x109 oracles
    * gate it end-to-end).
    */
  private def qcCol(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.QualityCounts(
      ColumnBridge.expression(text), StopList))
  }

  /** Token counting: whitespace tokens + a BPE-ish regex lexer. */
  def tokenCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        size(wsTokens(col("text"))).cast(LongType).as("n_tokens_ws"),
        bpeTokenCountCol(col("text")).cast(LongType).as("n_tokens_bpe"),
        length(col("text")).cast(LongType).as("n_chars_calc"))
      .orderBy(col("doc_id"))

  /** Quality scoring: length, punctuation ratio, stopword ratio, and a
    * boolean keep/drop verdict — the standard pre-training corpus filter.
    */
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    val qc = qcCol(col("text"))
    val nChars = qc.getField("n_chars")
    val nToks = qc.getField("n_tokens")
    val nPunct = qc.getField("n_punct")
    val nStop = qc.getField("n_stop")
    t(s, dir, "documents")
      .select(
        col("doc_id"), nChars.as("n_chars_calc"), nToks.as("n_tokens"),
        (nPunct.cast(DoubleType) / nChars.cast(DoubleType)).as("punct_ratio"),
        (nStop.cast(DoubleType) / nToks.cast(DoubleType)).as("stopword_ratio"),
        (nChars >= 100 && nChars <= 5000 && nToks >= 20 &&
          (nPunct.cast(DoubleType) / nChars.cast(DoubleType)) < lit(0.1)).as("quality_ok"))
      .orderBy(col("doc_id"))
  }

  /** Language ID: n-gram/stopword-hit heuristic. CJK characters short-
    * circuit to zh; otherwise argmax of per-language stopword hits with a
    * fixed priority tie-break; no hits at all -> 'und'.
    *
    * Shape: the per-language hit counts come from exploding tokens
    * against a broadcast (word, lang) marker table and pivoting — all
    * codegen'd — instead of 4 interpreted `filter` lambdas per row.
    * Docs whose tokens hit nothing drop out of the aggregate and rejoin
    * with zero counts through the left join.
    */
  def langId(s: SparkSession, dir: String): DataFrame =
    langIdCore(s, dir).orderBy(col("doc_id"))

  /** Cached UNORDERED x03 frame — the memo deliberately excludes the
    * lane's presentation sort: a pinned frame materializes its sort
    * physically (one global sort per leg, per corpus), while every
    * composite consumer joins on doc_id and the optimizer would have
    * eliminated that sort anyway (EliminateSorts under a join).
    */
  private def langIdCore(s: SparkSession, dir: String): DataFrame =
    cachedLeg(s, dir, "langId") {
      val docs = t(s, dir, "documents")
      docs.select(col("doc_id"), col("lang"))
        .join(langDetected(docs.select(col("doc_id"), col("text"))), Seq("doc_id"))
        .select(col("doc_id"), col("lang").as("lang_labeled"),
          col("lang_detected"), col("n_cjk"))
    }

  /** Core of `langId` over any (doc_id, text) frame — shared with
    * `corpusCurate`, which runs it post-filter over the survivors only.
    */
  private def langDetected(docs: DataFrame): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    val langs = LangStops.map(_._1)
    val stops = LangStops.flatMap { case (lang, words) => words.map(w => (w, lang)) }
      .toDF("w", "stop_lang")
    val hitCounts = docs
      .select(col("doc_id"), explode(wsTokens(lower(col("text")))).as("w"))
      .join(broadcast(stops), "w")
      .groupBy(col("doc_id"))
      .pivot("stop_lang", langs)
      .agg(count(lit(1)))
    val scores = langs.map(l => l -> coalesce(col(l), lit(0L)))
    val best = greatest(scores.map(_._2): _*)
    val pick = scores.foldRight(lit("und")) { case ((lang, score), acc) =>
      when(score === best && best > 0, lit(lang)).otherwise(acc)
    }
    val cjk = size(regexp_extract_all(col("text"), lit("[\\x{4e00}-\\x{9fff}]"), lit(0))).cast(LongType)
    docs.join(hitCounts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(cjk > 0, lit("zh")).otherwise(pick).as("lang_detected"),
        cjk.as("n_cjk"))
  }

  /** Canonical fingerprint: md5 over lowercased alphanumerics — the exact-
    * dedup key (whitespace/punctuation-insensitive). The normalization is
    * the native CanonicalAlnum expression (one codegen'd byte pass;
    * FunctionsSpec proves equality with the regexp_replace spelling the
    * oracle uses).
    */
  def fingerprintCol(c: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    md5(ColumnBridge.column(
      graft.functions.CanonicalAlnum(ColumnBridge.expression(c))).cast("binary"))
  }

  /** Per-token 60-bit hash both engines can compute identically: the first
    * 15 hex digits of md5, parsed as an integer.
    */
  def tokenHash(w: Column): Column =
    conv(substring(md5(w.cast("binary")), 1, 15), 16, 10).cast(LongType)

  /** Document fingerprinting: canonical md5 + a polynomial rolling hash of
    * the token stream (order-sensitive, unlike the bag-of-words md5).
    * Folded mod 1e9+7 so the BIGINT multiply-add never overflows (Spark 4
    * runs ANSI mode: 64-bit overflow throws, it does not wrap).
    *
    * Shape: tokens are exploded so the per-token md5 runs codegen'd once
    * per token; the order-sensitive fold then runs over an array of
    * plain longs (re-ordered by position after collect_list), keeping the
    * interpreted lambda to cheap arithmetic. Same result as folding the
    * token array directly, ~6x faster at sf0.1.
    */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    // one scan partition of text, ~50x CPU amplification in the
    // explode+md5 below — split by cores first (the x210 trap)
    t(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        fingerprintCol(col("text")).as("fingerprint"),
        posexplode(wsTokens(col("text"))))
      .select(col("doc_id"), col("fingerprint"), col("pos"),
        tokenHash(col("col")).as("th"))
      .groupBy(col("doc_id"), col("fingerprint"))
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("pos"), col("th")))),
          x => x.getField("th")),
        lit(1125899906842597L),
        (acc, h) => (acc * lit(31L) + h) % lit(1000000007L)).as("rolling_hash"))
      .select(col("doc_id"), col("fingerprint"), col("rolling_hash"))
      .orderBy(col("doc_id"))
  }

  /** Repetition metrics — the C4/RefinedWeb-style quality signal exact
    * dedup misses: a document that repeats ITSELF. Per doc: the fraction
    * of duplicated word-trigrams (1 - distinct/total) and the most
    * frequent single token's share of all tokens. Shaped for codegen:
    * one posexplode + a lead window builds occurrence-counted trigrams
    * (the shinglePostings shape WITHOUT the per-doc dedup), and both
    * ratios reduce in ordinary hash-aggregates — no interpreted array
    * lambdas per doc.
    */
  def repetitionMetrics(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), posexplode(wsTokens(lower(col("text")))))
      .withColumnRenamed("col", "tok")
    // One pass for both metrics (r20 optimization round, guide §2.4/§1.2):
    // a trigram's first token IS the row's token, so distinct trigrams of a
    // doc partition by first token and countDistinct(tri) decomposes over
    // (doc_id, tok) groups — the same groups the top-token count needs.
    // Previously the text was exploded twice into two shuffle chains
    // (window + per-doc agg; per-(doc,tok) agg + per-doc agg) joined on
    // doc_id; now one explode feeds the window, and both aggregations reuse
    // its hash partitioning (HashPartitioning(doc_id) satisfies the
    // (doc_id, tok) clustering), so only the window exchange remains.
    // Counts are the same exact integers: tri is null past the doc tail
    // (the old filter), count(tri) skips nulls, and docs with no trigram
    // (under 3 tokens) are dropped at the end like the old inner join did.
    toks
      .withColumn("t1", lead(col("tok"), 1).over(w))
      .withColumn("t2", lead(col("tok"), 2).over(w))
      .select(col("doc_id"), col("tok"),
        when(col("t2").isNotNull,
          concat_ws(" ", col("tok"), col("t1"), col("t2"))).as("tri"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"), count(col("tri")).as("n_tri"),
        countDistinct(col("tri")).as("n_dist"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_tri")).as("n_trigrams"), sum(col("n_dist")).as("n_distinct"),
        max(col("c")).as("top_token_count"), sum(col("c")).as("n_tokens"))
      .filter(col("n_trigrams") > 0L)
      .select(col("doc_id"),
        col("n_trigrams"), col("n_distinct"),
        ((col("n_trigrams") - col("n_distinct")).cast(DoubleType) /
          col("n_trigrams").cast(DoubleType)).as("dup_trigram_ratio"),
        (col("top_token_count").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .as("top_token_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Composite corpus curation — the end-to-end filter a pre-training
    * pipeline runs: keep documents that pass the quality gate, detect as
    * English, and are the canonical copy of their duplicate group. The
    * legs are individually oracle-verified (x02/x03/x10); here they FUSE
    * into one scan: quality + fingerprint in a single projection, the
    * canonical-copy window, and language ID over the SURVIVORS only —
    * the cheap per-row gates prune before the explode/pivot leg, and the
    * document text is scanned twice total instead of once per leg.
    */
  /** The x02/x05 quality gate as a reusable predicate (chars in
    * [100, 5000], >= 20 tokens, punctuation ratio < 0.1) — shared by the
    * batch curation and the streaming ingest lane so both admit exactly
    * the same documents.
    */
  def qualityOkCol(text: Column): Column = {
    val qc = qcCol(text)
    val nChars = qc.getField("n_chars")
    val nToks = qc.getField("n_tokens")
    val nPunct = qc.getField("n_punct")
    nChars >= 100 && nChars <= 5000 && nToks >= 20 &&
      (nPunct.cast(DoubleType) / nChars.cast(DoubleType)) < lit(0.1)
  }

  def corpusCurate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nToks = qcCol(col("text")).getField("n_tokens")
    val qualityOk = qualityOkCol(col("text"))
    val survivors = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), nToks.as("n_tokens"),
        qualityOk.as("quality_ok"), fingerprintCol(col("text")).as("fp"))
      .withColumn("is_canonical",
        col("doc_id") === min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .filter(col("quality_ok") && col("is_canonical"))
      .select(col("doc_id"), col("text"), col("n_tokens"))
    survivors.select(col("doc_id"), col("n_tokens"))
      .join(langDetected(survivors.select(col("doc_id"), col("text"))), "doc_id")
      .filter(col("lang_detected") === "en")
      .select(col("doc_id"), col("n_tokens"), col("lang_detected"))
      .orderBy(col("doc_id"))
  }

  /** Per-source curation datasheet — the "datasheet for datasets"
    * summary a training-data build publishes alongside the corpus: for
    * every source, document/token counts, exact-duplicate and
    * quality-failure counts (the same verified x10 canonical-fingerprint
    * and x02 quality formulas), tokens surviving both gates, and the
    * keep ratio. Canonicality is CORPUS-global (a source holding the
    * later copy of a cross-source duplicate is the one charged for it);
    * everything reduces in one hash-aggregate per source after the
    * fingerprint window, and every ratio is one double division of
    * exact integer sums so the frame hash-gates.
    */
  def curationDatasheet(s: SparkSession, dir: String): DataFrame =
    datasheetAgg(datasheetRows(s, dir).groupBy(col("source")))
      .orderBy(col("source"))

  /** The per-document curation facts shared by x89 and x109: token
    * count, quality verdict (x02's formula), and CORPUS-global
    * canonicality (x10's fingerprint — a source or split holding the
    * later copy of a duplicate is the one charged for it).
    */
  private def datasheetRows(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qc = qcCol(col("text"))
    val nToks = qc.getField("n_tokens")
    t(s, dir, "documents")
      .select(col("source"), col("doc_id"), nToks.as("n_tokens"),
        qualityOkCol(col("text")).as("quality_ok"),
        fingerprintCol(col("text")).as("fp"))
      .withColumn("is_canonical",
        col("doc_id") === min(col("doc_id")).over(Window.partitionBy(col("fp"))))
  }

  private def datasheetAgg(
      grouped: org.apache.spark.sql.RelationalGroupedDataset): DataFrame =
    grouped.agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast(LongType).as("n_tokens"),
        sum(when(!col("is_canonical"), 1L).otherwise(0L)).cast(LongType).as("n_exact_dups"),
        sum(when(!col("quality_ok"), 1L).otherwise(0L)).cast(LongType).as("n_quality_fail"),
        sum(when(col("is_canonical") && col("quality_ok"), col("n_tokens"))
          .otherwise(0L)).cast(LongType).as("n_tokens_kept"))
      .withColumn("keep_ratio",
        col("n_tokens_kept").cast(DoubleType) / col("n_tokens").cast(DoubleType))

  /** Split-aware curation datasheet — the datasheet a run publishes
    * AFTER split assignment (x89 × x40): per (split, source), the same
    * verified doc/token/dup/quality accounting, answering the question
    * an eval owner actually asks ("what survives curation in MY
    * split?"). Split is the deterministic per-doc hash bucket; swapping
    * in the cluster-hashed leakage-safe assignment (x61) is a one-line
    * change since both are pure projections. Canonicality stays
    * corpus-global, so a duplicate straddling splits is charged to the
    * split holding the later copy.
    */
  def splitDatasheet(s: SparkSession, dir: String): DataFrame = {
    val split = when(graft.ops.Sampling.hashBucket(col("doc_id"), 100) < 80, "train")
      .when(graft.ops.Sampling.hashBucket(col("doc_id"), 100) < 90, "val")
      .otherwise("test")
    datasheetAgg(datasheetRows(s, dir)
      .withColumn("split", split)
      .groupBy(col("split"), col("source")))
      .orderBy(col("split"), col("source"))
  }

  /** BPE first-merge candidates — the statistic a byte-pair-encoding
    * tokenizer trainer computes each round: adjacent CHARACTER-pair
    * frequencies inside words, weighted by word frequency (Sennrich
    * ACL'16). The top pair IS the first merge; the ranked table is the
    * training signal, reported for the top `k` (count desc, pair asc —
    * a total order, so it hash-gates). Plan: one word-histogram
    * aggregate (vocab-sized), then pairs explode from the DISTINCT
    * vocabulary — corpus token volume never re-enters; the weighted
    * count is an exact integer sum.
    */
  def bpeFirstMerges(s: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val vocab = t(s, dir, "documents")
      .select(explode(wsTokens(lower(col("text")))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    vocab
      .filter(length(col("w")) >= 2)
      .select(col("w"), col("freq"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(col("w").substr(col("i"), lit(1)).as("left_sym"),
        col("w").substr(col("i") + 1, lit(1)).as("right_sym"),
        col("freq"))
      .groupBy(col("left_sym"), col("right_sym"))
      .agg(sum(col("freq")).cast(LongType).as("pair_count"))
      .orderBy(col("pair_count").desc, col("left_sym"), col("right_sym"))
      .limit(k)
  }

  /** Iterative BPE merge TRAINING (extends x97's single round into the
    * real trainer loop — Sennrich ACL'16 §3.2): `rounds` merge rounds,
    * each counting adjacent-symbol pair frequencies over the word
    * histogram, choosing the top pair (count desc, pair asc — a total
    * order, so the emitted merge table hash-gates), and rewriting every
    * word's symbol sequence with a left-to-right non-overlapping merge
    * fold. Output: the ordered merge table (merge_rank, left_sym,
    * right_sym, pair_count) — the artifact a tokenizer trainer ships.
    *
    * Scale shape: corpus-sized work happens ONCE (the word histogram);
    * every round after that is VOCAB-sized (the Sennrich trick — real
    * BPE trainers operate on the histogram, never re-touch the corpus).
    * The chosen pair stays distributed: a 1-row broadcast cross join,
    * not a driver collect. Each round's rewritten vocab is eagerly
    * localCheckpoint'ed — two consumers per round (next round's pair
    * count + the merge apply) would otherwise re-execute the whole
    * prefix chain, doubling work per round. The merge application is a
    * codegen-free fold but runs over vocab rows only; its semantics
    * (greedy left-to-right, merged symbols immediately eligible for the
    * NEXT position's compare) are byte-identical to the DuckDB twin's
    * list_reduce.
    */
  def bpeTrainMerges(s: SparkSession, dir: String, rounds: Int = 8): DataFrame =
    bpeTrain(s, dir, rounds)._1

  /** x101/x102 share one training run per (session, dataset, rounds):
    * (ordered merge table, vocab with every merge applied).
    */
  private val bpeCache = SessionMemo[(String, Int), (DataFrame, DataFrame)]("TextAnalysis.bpe")

  private def bpeTrain(s: SparkSession, dir: String,
      rounds: Int): (DataFrame, DataFrame) =
    bpeCache(s, (dir, rounds)) {
      var words = t(s, dir, "documents")
        .select(explode(wsTokens(lower(col("text")))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
        .select(col("w"), col("freq"),
          expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").as("syms"))
        .pinned
      val merges = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      for (r <- 1 to rounds) {
        val top = words
          .filter(size(col("syms")) >= 2)
          .select(col("freq"), explode(expr("sequence(1, size(syms) - 1)")).as("i"),
            col("syms"))
          .select(element_at(col("syms"), col("i")).as("left_sym"),
            element_at(col("syms"), col("i") + 1).as("right_sym"), col("freq"))
          .groupBy(col("left_sym"), col("right_sym"))
          .agg(sum(col("freq")).cast(LongType).as("pair_count"))
          .orderBy(col("pair_count").desc, col("left_sym"), col("right_sym"))
          .limit(1)
          .pinned // 1 row, consumed twice (output + apply)
        merges += top.select(lit(r.toLong).as("merge_rank"),
          col("left_sym"), col("right_sym"), col("pair_count"))
        words = words
          .crossJoin(broadcast(top.select(col("left_sym"), col("right_sym"))))
          .select(col("w"), col("freq"), expr(
            """aggregate(syms, cast(array() as array<string>),
              |  (acc, x) -> CASE
              |    WHEN size(acc) > 0 AND element_at(acc, -1) = left_sym AND x = right_sym
              |    THEN concat(slice(acc, 1, size(acc) - 1),
              |                array(concat(left_sym, right_sym)))
              |    ELSE concat(acc, array(x)) END)""".stripMargin).as("syms"))
          .pinned
      }
      (merges.reduce(_ unionByName _).orderBy(col("merge_rank")), words)
    }

  /** BPE ENCODING report — what applying the trained merge table buys:
    * the corpus re-tokenized under the x101 merges (every word's symbol
    * sequence after all `rounds` rewrites, weighted by word frequency)
    * reduced to the tokenizer-evaluation headline: vocabulary size,
    * whitespace-token/character/BPE-token totals, characters per BPE
    * token (the compression statistic tokenizer cards report) and BPE
    * tokens per word. Encoding at scale is the same fold the trainer
    * uses — vocab-sized work, corpus totals via exact integer sums, the
    * two ratios single double divisions so the row hash-gates.
    */
  def bpeEncodeReport(s: SparkSession, dir: String, rounds: Int = 8): DataFrame = {
    val words = bpeTrain(s, dir, rounds)._2
    words
      .agg(
        count(lit(1)).as("n_vocab_words"),
        sum(col("freq")).cast(LongType).as("n_ws_tokens"),
        sum(col("freq") * length(col("w"))).cast(LongType).as("n_chars"),
        sum(col("freq") * size(col("syms"))).cast(LongType).as("n_bpe_tokens"))
      .select(col("n_vocab_words"), col("n_ws_tokens"), col("n_chars"),
        col("n_bpe_tokens"),
        (col("n_chars").cast(DoubleType) / col("n_bpe_tokens").cast(DoubleType))
          .as("chars_per_bpe_token"),
        (col("n_bpe_tokens").cast(DoubleType) / col("n_ws_tokens").cast(DoubleType))
          .as("bpe_tokens_per_word"))
  }

  /** x121: per-source tokenizer FERTILITY under the x101-trained BPE
    * merges — the tokenizer-eval a mixture designer reads before fixing
    * sampling weights: a source whose text costs more BPE tokens per
    * word (high fertility) or fewer chars per token is under-served by
    * the vocabulary, and its token budget buys less text. Shape: the
    * per-(source, word) histogram (one hash-aggregate over the exploded
    * corpus) joins the TRAINED words table — vocabulary-sized, so
    * broadcast — and reduces per source with exact integer sums; the
    * corpus is touched once beyond the cached training pass.
    */
  def bpeFertilityBySource(s: SparkSession, dir: String,
      rounds: Int = 8): DataFrame = {
    val trained = bpeTrain(s, dir, rounds)._2
      .select(col("w"), size(col("syms")).cast(LongType).as("n_syms"))
    val srcWords = t(s, dir, "documents")
      .select(col("source"), explode(wsTokens(lower(col("text")))).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("sfreq"))
    srcWords.join(broadcast(trained), "w")
      .groupBy(col("source"))
      .agg(
        sum(col("sfreq")).cast(LongType).as("n_words"),
        sum(col("sfreq") * length(col("w"))).cast(LongType).as("n_chars"),
        sum(col("sfreq") * col("n_syms")).cast(LongType).as("n_bpe_tokens"))
      .select(col("source"), col("n_words"), col("n_chars"), col("n_bpe_tokens"),
        (col("n_chars").cast(DoubleType) / col("n_bpe_tokens").cast(DoubleType))
          .as("chars_per_bpe_token"),
        (col("n_bpe_tokens").cast(DoubleType) / col("n_words").cast(DoubleType))
          .as("bpe_tokens_per_word"))
      .orderBy(col("source"))
  }

  /** Vocabulary growth curve (the Heaps'-law table): distinct-token
    * vocabulary size after each tenth of the corpus in doc_id order —
    * the dataset-diversity measure scaling-law estimates read (a
    * flattening curve says more of the same data buys little). Pure
    * integer derivation: each token's FIRST document (min doc_id — one
    * hash-aggregate over the postings), ranked against the doc spine,
    * bucketed by prefix decile with integer ceiling arithmetic, then a
    * 10-row cumulative window. The only global sort is over the id-only
    * doc spine (at extreme scale: metadata or an approx-quantile cut,
    * same downstream arithmetic).
    */
  def vocabGrowth(s: SparkSession, dir: String, steps: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val ranked = docs.withColumn("rnk",
      row_number().over(Window.orderBy(col("doc_id"))).cast(LongType))
    val totals = ranked.agg(max(col("rnk")).as("n_docs"))
    val firstSeen = t(s, dir, "documents")
      .select(col("doc_id"), explode(wsTokens(lower(col("text")))).as("w"))
      .groupBy(col("w")).agg(min(col("doc_id")).as("first_id"))
      .join(ranked.select(col("doc_id").as("first_id"), col("rnk")), "first_id")
    val perBucket = firstSeen.crossJoin(broadcast(totals))
      // bucket = ceil(rnk * steps / n) in exact integer arithmetic
      .select(expr(s"(rnk * $steps + n_docs - 1) DIV n_docs").as("step"))
      .groupBy(col("step")).agg(count(lit(1)).as("new_tokens"))
    val spine = s.range(1, steps + 1).toDF("step")
      .crossJoin(broadcast(totals))
      .select(col("step"), expr(s"(step * n_docs) DIV $steps").as("n_docs_prefix"))
    val w = Window.orderBy(col("step"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(perBucket, Seq("step"), "left")
      .select(col("step"), col("n_docs_prefix"),
        coalesce(col("new_tokens"), lit(0L)).as("new_tokens"))
      .withColumn("vocab_size", sum(col("new_tokens")).over(w).cast(LongType))
      .orderBy(col("step"))
  }

  /** x151: Zipf frequency-octave audit — the rank-frequency health
    * check that does NOT need a float log: every vocabulary token lands
    * in octave ⌊log₂(count)⌋, computed as the length of the count's
    * binary rendering minus one (`conv(c,10,2)` / `bin(c)` — pure
    * integer string ops, identical in both engines; no log2 boundary
    * rounding to trust). A Zipf-shaped corpus shows type counts
    * decaying geometrically across octaves while each octave carries
    * comparable occurrence mass; a pathological corpus (mass collapsed
    * into a handful of mega-tokens, or a long tail of near-singletons
    * from encoding noise) bends the profile immediately. Output per
    * octave: the [2^o, 2^{o+1}) bound, distinct types, total
    * occurrences, and the top-down cumulative occurrence mass — every
    * value an exact BIGINT. One token-count aggregate (map-side
    * combinable) + a ≤64-row octave rollup: free at any corpus size.
    */
  def freqOctaves(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = t(s, dir, "documents")
      .select(explode(wsTokens(lower(col("text")))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("octave").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    freq
      .withColumn("octave", (length(conv(col("c"), 10, 2)) - 1).cast(LongType))
      .groupBy(col("octave"))
      .agg(count(lit(1)).as("n_types"), sum(col("c")).as("n_occ"))
      .withColumn("lo", expr("shiftleft(1L, CAST(octave AS INT))"))
      .withColumn("cum_occ_from_top", sum(col("n_occ")).over(w).cast(LongType))
      .select(col("octave"), col("lo"), col("n_types"), col("n_occ"),
        col("cum_occ_from_top"))
      .orderBy(col("octave"))
  }

  /** Suffix-stripping token normalizer (stemming-lite): the first
    * matching rule of ies->y, sses->ss, trailing-s (not ss), -ing, -ed,
    * each guarded so the stem keeps >= 3 characters. Pure string CASE —
    * deliberately portable (the DuckDB twin is the same CASE, no
    * engine-specific stemmer), codegen'd, shuffle-free.
    */
  def normalizeToken(w: Column): Column = {
    val len = length(w)
    when(len > 4 && w.endsWith("ies"), concat(w.substr(lit(1), len - 3), lit("y")))
      .when(len > 5 && w.endsWith("sses"), w.substr(lit(1), len - 2))
      .when(len > 3 && w.endsWith("s") && !w.endsWith("ss"), w.substr(lit(1), len - 1))
      .when(len > 5 && w.endsWith("ing"), w.substr(lit(1), len - 3))
      .when(len > 4 && w.endsWith("ed"), w.substr(lit(1), len - 2))
      .otherwise(w)
  }

  /** Normalized vocabulary: top-k stems by corpus frequency — the
    * vocab histogram after suffix folding (runs/running/run collapse).
    */
  def stemVocabTopk(s: SparkSession, dir: String, k: Int = 30): DataFrame =
    t(s, dir, "documents")
      .select(explode(wsTokens(lower(col("text")))).as("w"))
      .select(normalizeToken(col("w")).as("stem"))
      .groupBy(col("stem"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("stem"))
      .limit(k)

  /** Vocabulary histogram: top-k tokens by corpus frequency (ties broken
    * lexicographically) — the token-frequency table every corpus
    * analysis starts from. Explode + count is one shuffle with map-side
    * partials; the top-k is a TakeOrdered, no global sort.
    */
  def vocabTopk(s: SparkSession, dir: String, k: Int = 30): DataFrame =
    t(s, dir, "documents")
      .select(explode(wsTokens(lower(col("text")))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(k)

  /** TF-IDF-lite: top terms per document scored tf x N/df — the idf is
    * the exact rational N/df rather than log(N/df) (libm log is not
    * bit-reproducible across engines; the rational form is, and is
    * monotone in df, so rankings are the classic ones). One exploded
    * token pass feeds both the tf aggregate and the df aggregate; the
    * corpus size joins in as a lazy 1-row cross join, never a driver
    * collect.
    */
  def tfidfTopTerms(s: SparkSession, dir: String,
      maxDocId: Int = 20, k: Int = 3): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), explode(wsTokens(lower(col("text")))).as("term"))
    val tf = toks.filter(col("doc_id") < maxDocId)
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = toks.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term").crossJoin(n)
      .withColumn("tfidf",
        (col("tf") * col("n_docs")).cast(DoubleType) / col("df").cast(DoubleType))
    TopKPerKey.ranked(scored, Seq(col("doc_id")), Seq(col("tfidf").desc, col("term")), k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"), col("tfidf"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Bigram language-model scoring — the perplexity-proxy quality filter
    * (the CCNet/KenLM idea): score each document by how predictable its
    * token stream is under a corpus-wide bigram MLE model,
    * P(w2|w1) = c(w1 w2) / c(w1). The score is the arithmetic mean of
    * the per-bigram probabilities rather than mean log-prob: +,-,*,/ are
    * IEEE-exact and cross-engine reproducible, libm `log` is not, and
    * the mean is monotone enough to rank gibberish below fluent text.
    *
    * Shape: bigrams come from the native `WordNGrams` generator (no
    * window Exchange to rebuild adjacency); the model tables reduce with
    * map-side partials; the per-doc mean folds the probabilities in
    * ascending value order (array_sort ↔ ORDER BY p) so the double sum
    * is order-pinned and matches DuckDB's `list_reduce` bitwise.
    */
  def bigramLmScore(s: SparkSession, dir: String): DataFrame =
    bigramLmCore(s, dir).orderBy(col("doc_id"))

  /** Cached UNORDERED x54 frame (see [[langIdCore]] for why the memo
    * excludes the presentation sort).
    */
  private def bigramLmCore(s: SparkSession, dir: String): DataFrame = cachedLeg(s, dir, "bigramLm") {
    import org.apache.spark.sql.graft.ColumnBridge
    val ngrams = ColumnBridge.column(
      graft.functions.WordNGrams(ColumnBridge.expression(lower(col("text"))), 2))
    val bi = t(s, dir, "documents")
      .select(col("doc_id"), ngrams)
      .select(col("doc_id"),
        substring_index(col("ngram"), " ", 1).as("w1"),
        substring_index(col("ngram"), " ", -1).as("w2"))
    val uni = t(s, dir, "documents")
      .select(explode(wsTokens(lower(col("text")))).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val big = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    bi.join(big, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .withColumn("p", col("c2").cast(DoubleType) / col("c1").cast(DoubleType))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (aggregate(array_sort(collect_list(col("p"))), lit(0.0d), (a, b) => a + b)
          / count(lit(1)).cast(DoubleType)).as("avg_p"))
  }

  /** LM-score quality gate: rank every document by its x54 bigram-LM
    * score WITHIN its language (LM probabilities are not comparable
    * across languages — a per-language percentile is the principled
    * cut), drop the bottom quartile. `percent_rank` over
    * (avg_p, doc_id) is (rank-1)/(n-1) — exact integer division, so the
    * doubles match DuckDB bitwise. The window partitions by language, so
    * the sort is per-group and distributed, not a global single-partition
    * order; at 100 TB the same plan holds (a language is the natural
    * balance unit, and a skewed giant language falls back to the
    * approx-quantile threshold + filter spelling).
    */
  def lmQualityFilter(s: SparkSession, dir: String): DataFrame =
    lmQualityCore(s, dir).orderBy(col("doc_id"))

  /** Cached UNORDERED x63 frame (see [[langIdCore]] for why the memo
    * excludes the presentation sort).
    */
  private def lmQualityCore(s: SparkSession, dir: String): DataFrame = cachedLeg(s, dir, "lmQuality") {
    val lang = t(s, dir, "documents").select(col("doc_id"), col("lang"))
    val w = Window.partitionBy(col("lang")).orderBy(col("avg_p"), col("doc_id"))
    val wLang = Window.partitionBy(col("lang"))
    bigramLmCore(s, dir)
      .join(lang, "doc_id")
      .withColumn("pct_rank", percent_rank().over(w))
      // a singleton language has percent_rank 0.0 (the 1-row partition's
      // only rank) — without the n=1 guard the quartile cut would delete
      // the sole document of every rare language, inverting the intent
      .withColumn("keep",
        col("pct_rank") >= 0.25 || count(lit(1)).over(wLang) === 1)
      .select(col("doc_id"), col("lang"), col("avg_p"), col("pct_rank"), col("keep"))
  }

  /** Per-document bigram novelty: the share of a doc's DISTINCT bigrams
    * that occur in no other document (corpus df = 1). High novelty =
    * genuinely new text; low novelty = boilerplate recombination. The
    * memorization-risk screen next to x43's within-doc repetition: one
    * distinct-bigram shuffle + one df aggregate, both codegen'd.
    */
  def bigramNovelty(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val ngrams = ColumnBridge.column(
      graft.functions.WordNGrams(ColumnBridge.expression(lower(col("text"))), 2))
    val posts = t(s, dir, "documents")
      .select(col("doc_id"), ngrams)
      .dropDuplicates("doc_id", "ngram")
    val dfc = posts.groupBy(col("ngram")).agg(count(lit(1)).as("df"))
    posts.join(dfc, "ngram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams_distinct"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_ratio",
        col("n_novel").cast(DoubleType) / col("n_bigrams_distinct").cast(DoubleType))
      .orderBy(col("doc_id"))
  }

  /** Token-length histogram in power-of-two buckets with cumulative
    * document share — the length-distribution report sequence packing
    * and curriculum schedules are provisioned from. The bucket is
    * floor(log2(n_tokens)) computed EXACTLY as `length(bin(n)) - 1`
    * (binary-string length): float log2 rounds 2^k to k-epsilon on one
    * engine and not the other, so the bit spelling is the only
    * hash-gateable one. One projection + one tiny aggregate.
    */
  def lengthHistogram(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val docs = t(s, dir, "documents")
      .select((length(bin(size(wsTokens(col("text"))).cast(LongType))) - 1)
        .cast(LongType).as("bucket"),
        size(wsTokens(col("text"))).cast(LongType).as("n_tokens"))
    val total = docs.agg(count(lit(1)).as("n_total"))
    docs.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .crossJoin(broadcast(total))
      .withColumn("cum_docs", sum(col("n_docs")).over(w))
      .select(col("bucket"), col("n_docs"), col("total_tokens"),
        (col("cum_docs").cast(DoubleType) / col("n_total").cast(DoubleType))
          .as("cum_share"))
      .orderBy(col("bucket"))
  }

  /** Collocation extraction: top-k bigrams by pointwise lift
    * P(w1 w2) / (P(w1) P(w2)) = c2·N1² / (N2·c1(w1)·c1(w2)) over pairs
    * seen at least `minCount` times. The ranking needs no logarithm
    * (lift order = PMI order), and the double arithmetic multiplies the
    * exact counts in a pinned association order so both engines produce
    * the identical IEEE value. Corpus totals ride a lazy 1-row broadcast
    * cross join, never a collect.
    */
  def pmiTopk(s: SparkSession, dir: String, minCount: Int = 5, k: Int = 30): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val ngrams = ColumnBridge.column(
      graft.functions.WordNGrams(ColumnBridge.expression(lower(col("text"))), 2))
    val bi = t(s, dir, "documents")
      .select(ngrams)
      .select(substring_index(col("ngram"), " ", 1).as("w1"),
        substring_index(col("ngram"), " ", -1).as("w2"))
    val uni = t(s, dir, "documents")
      .select(explode(wsTokens(lower(col("text")))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val totals = uni.agg(sum(col("c1")).cast(LongType).as("n1"))
      .crossJoin(bi.groupBy().agg(count(lit(1)).as("n2")))
    bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
      .join(uni.select(col("w").as("w1"), col("c1").as("c_w1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c1").as("c_w2")), "w2")
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("n_pair"),
        (col("n_pair").cast(DoubleType) * col("n1").cast(DoubleType) * col("n1").cast(DoubleType)
          / (col("n2").cast(DoubleType) * col("c_w1").cast(DoubleType) * col("c_w2").cast(DoubleType)))
          .as("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** The full preprocessing run a pre-training corpus goes through,
    * composed from individually-verified legs: exact-dedup to canonical
    * copies, quality-gate, keep English, assign deterministic
    * train/val/test splits, then report per-split document and token
    * budgets — the numbers a training run is provisioned from.
    */
  def corpusPipeline(s: SparkSession, dir: String): DataFrame =
    corpusCurate(s, dir)
      .join(graft.ops.Sampling.hashSplit(s, dir).select(col("doc_id"), col("split")), "doc_id")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .orderBy(col("split"))

  /** The Gopher repetition-free stopword list (public: Rae et al. 2021,
    * "Scaling Language Models: ... Gopher", §A.1.1) — a doc must contain
    * at least two of these to count as running prose.
    */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style document quality rules (Rae et al. 2021 §A.1.1, public
    * paper; the same heuristics power MassiveWeb/C4-style corpus
    * filtering): word-count bounds, mean word length in [3,10], symbol
    * (#/ellipsis)-to-word ratio, bullet-line and ellipsis-line caps, a
    * floor on words containing an alphabetic character, and a >=2
    * stopword-hit floor. Every metric is computed in one codegen'd
    * projection from exact integer counts; each double is a single
    * division of exact integers so the flags and ratios hash-gate
    * cross-engine. No shuffle at all — this is a pure map over the
    * corpus, the shape you want in front of a 100 TB filter.
    */
  def gopherRules(s: SparkSession, dir: String): DataFrame =
    gopherCore(s, dir).orderBy(col("doc_id"))

  private def gopherCore(s: SparkSession, dir: String): DataFrame = {
    val toks = wsTokens(lower(col("text")))
    val lines = split(col("text"), "\n")
    val nWords = size(toks).cast(LongType)
    val sumLen = aggregate(toks, lit(0L), (acc, w) => acc + length(w).cast(LongType))
    val meanLen = sumLen.cast(DoubleType) / nWords.cast(DoubleType)
    val nSymbol = (size(regexp_extract_all(col("text"), lit("#"), lit(0))) +
      size(regexp_extract_all(col("text"), lit("\\.\\.\\."), lit(0)))).cast(LongType)
    val symbolRatio = nSymbol.cast(DoubleType) / nWords.cast(DoubleType)
    val nLines = size(lines).cast(LongType)
    val bulletRatio = size(filter(lines, l => l.rlike("^\\s*[-*•]")))
      .cast(DoubleType) / nLines.cast(DoubleType)
    val ellipsisRatio = size(filter(lines, l => l.rlike("\\.\\.\\.\\s*$")))
      .cast(DoubleType) / nLines.cast(DoubleType)
    val alphaRatio = size(filter(toks, w => w.rlike("[a-z]")))
      .cast(DoubleType) / nWords.cast(DoubleType)
    val stopHits = hits(toks, GopherStops)
    val rWordCount = nWords.between(50L, 100000L)
    val rMeanLen = meanLen >= 3.0 && meanLen <= 10.0
    val rSymbol = symbolRatio <= 0.1
    val rBullet = bulletRatio <= 0.9
    val rEllipsis = ellipsisRatio <= 0.3
    val rAlpha = alphaRatio >= 0.8
    val rStop = stopHits >= 2L
    t(s, dir, "documents")
      .select(col("doc_id"), nWords.as("n_words"), meanLen.as("mean_word_len"),
        symbolRatio.as("symbol_ratio"), alphaRatio.as("alpha_ratio"),
        stopHits.as("stop_hits"),
        rWordCount.as("r_word_count"), rMeanLen.as("r_mean_len"),
        rSymbol.as("r_symbol"), rBullet.as("r_bullet"),
        rEllipsis.as("r_ellipsis"), rAlpha.as("r_alpha"), rStop.as("r_stop"),
        (rWordCount && rMeanLen && rSymbol && rBullet &&
          rEllipsis && rAlpha && rStop).as("keep"))
  }

  /** [[gopherRules]] through the session leg memo — the spelling the
    * composites (x147/x155/x74/x136) consume. The public lane stays the
    * pure un-pinned map so its no-shuffle plan remains inspectable
    * (RelationalPlanSpec pins that shape) and a standalone x71 run
    * never pays a materialization it does not need.
    */
  private def gopherRulesCached(s: SparkSession, dir: String): DataFrame =
    cachedLeg(s, dir, "gopher")(gopherCore(s, dir))

  /** x147: weak-supervision quality classifier — the CCNet/GPT-3 recipe
    * (train a cheap linear classifier on rule-derived labels, score the
    * whole corpus) with integer-exact arithmetic so the gate is a hash,
    * not a tolerance. Labels come from the verified Gopher pass (x71
    * `keep`); the training split is the even doc_ids; features are
    * per-doc whitespace-token frequencies over a df≥2 training
    * vocabulary (the df cut bounds the weight table — the Dedup
    * posting-list discipline — which is what makes the score join
    * broadcastable at corpus scale). Per-token weight is the NB
    * log-odds' exact integer surrogate: with Laplace-smoothed class
    * likelihoods p=(pos_t+1)/(P+V), q=(neg_t+1)/(N+V), the weight is
    * the cross-multiplied numerator difference
    * (pos_t+1)·(N+V) − (neg_t+1)·(P+V) — same sign as log(p/q),
    * common positive denominator dropped, no float log anywhere. A doc
    * scores Σ tf·weight (BIGINT-exact: weights ≤ ~1e11, tf sums ≤ ~1e3
    * at sf0.1; a petabyte corpus moves this to DECIMAL(38,0));
    * predicted_keep = score > 0 (equal-prior NB — the prior is one
    * constant the threshold absorbs). Scale shape: train is two
    * aggregations over the token-frequency frame, score is one
    * broadcast join + one map-side-combinable sum; the corpus text is
    * tokenized once and never shuffled at token grain twice.
    */
  def nbQualityScore(s: SparkSession, dir: String): DataFrame = {
    val labels = gopherRulesCached(s, dir).select(col("doc_id"), col("keep"))
    // pinned (r19 optimization round): `tf` feeds the training side AND
    // the scoring join — two tokenize+aggregate passes without the
    // checkpoint
    val tf = t(s, dir, "documents")
      .select(col("doc_id"), explode(wsTokens(lower(col("text")))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      .pinned
    val train = tf.join(labels, "doc_id")
      .filter(pmod(col("doc_id"), lit(2L)) === 0L)
    // tf is (doc_id, w)-distinct, so df per token is a plain count
    val vocab = train.groupBy(col("w"))
      .agg(count(lit(1)).as("df"),
        sum(when(col("keep"), col("tf")).otherwise(0L)).as("pos_t"),
        sum(when(!col("keep"), col("tf")).otherwise(0L)).as("neg_t"))
      .filter(col("df") >= 2L)
    val tot = vocab.agg(sum(col("pos_t")).as("p_tot"),
      sum(col("neg_t")).as("n_tot"), count(lit(1)).as("v"))
    val weights = vocab.crossJoin(broadcast(tot))
      .select(col("w"),
        ((col("pos_t") + lit(1L)) * (col("n_tot") + col("v")) -
          (col("neg_t") + lit(1L)) * (col("p_tot") + col("v"))).as("wt"))
    val scored = tf.join(broadcast(weights), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_vocab_tokens"),
        sum(col("tf") * col("wt")).as("score"))
    labels.join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(2L)) === 0L, lit("train"))
          .otherwise(lit("heldout")).as("split"),
        coalesce(col("n_vocab_tokens"), lit(0L)).as("n_vocab_tokens"),
        coalesce(col("score"), lit(0L)).as("score"),
        (coalesce(col("score"), lit(0L)) > 0L).as("predicted_keep"),
        col("keep").as("weak_keep"))
      .orderBy(col("doc_id"))
  }

  /** x155: curation survival funnel — the stage-by-stage attrition
    * report every dataset paper publishes (RefinedWeb table 2,
    * Dolma §4): documents flowing through the VERIFIED gates in
    * pipeline order — Gopher rules (x71) → language agreement (x03,
    * detected == labeled) → exact-dedup canonical (x10) → per-language
    * LM quartile (x63; docs the LM cannot score count as dropped, the
    * x136 convention) — with per-stage entering/surviving/dropped
    * counts. Each leg keeps its own oracle; the funnel's twin is
    * composed from the same SQL bodies, so a drift in any leg fails
    * both gates (the x74 discipline). Shape: four doc-grain flag
    * projections, one join chain, one global aggregate, a 4-row
    * unpivot — nothing wider than a doc_id join at any scale.
    */
  def curationFunnel(s: SparkSession, dir: String): DataFrame = {
    val g = gopherRulesCached(s, dir).select(col("doc_id"), col("keep").as("kg"))
    val l = langIdCore(s, dir).select(col("doc_id"),
      (col("lang_detected") === col("lang_labeled")).as("kl"))
    val c = Dedup.dedupExact(s, dir).select(col("doc_id"), col("is_canonical").as("kc"))
    val lm = lmQualityCore(s, dir).select(col("doc_id"), col("keep").as("km"))
    // pinned: the 4-stage unpivot below references this 1-row aggregate
    // from four union branches, and column pruning specializes each
    // branch's subtree (different nX columns survive) so exchange reuse
    // cannot deduplicate them — unpinned, the whole leg-join chain runs
    // four times
    val a = g.join(l, "doc_id").join(c, "doc_id").join(lm, Seq("doc_id"), "left")
      .agg(count(lit(1)).as("n0"),
        sum(when(col("kg"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("kg") && col("kl"), 1L).otherwise(0L)).as("n2"),
        sum(when(col("kg") && col("kl") && col("kc"), 1L).otherwise(0L)).as("n3"),
        sum(when(col("kg") && col("kl") && col("kc") &&
          coalesce(col("km"), lit(false)), 1L).otherwise(0L)).as("n4"))
      .pinned
    Seq(("1_gopher", "n0", "n1"), ("2_lang", "n1", "n2"),
        ("3_canonical", "n2", "n3"), ("4_lm_quartile", "n3", "n4"))
      .map { case (stage, in, out) =>
        a.select(lit(stage).as("stage"), col(in).as("n_in"), col(out).as("n_out"),
          (col(in) - col(out)).as("n_dropped"))
      }.reduce(_ unionByName _).orderBy(col("stage"))
  }

  /** End-to-end curation manifest — the full training-data recipe
    * composed from individually-verified legs: Gopher quality rules
    * (x71) ∧ exact-dedup canonical survivors (x10) ∧ temperature-scaled
    * language mixture membership (x73), then the surviving docs packed
    * into per-language 4096-token bins (the x46 contiguous-fill
    * discipline) — the manifest a dataloader provisions shards from.
    * Every leg keeps its own oracle; this composition gets its own twin
    * built from the same three SQL bodies, so a drift in any leg fails
    * BOTH the leg's gate and this one.
    */
  def curationManifest(s: SparkSession, dir: String, budget: Long = 4096L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keepQ = gopherRulesCached(s, dir).select(col("doc_id"), col("keep").as("keep_q"))
    val canon = Dedup.dedupExact(s, dir).select(col("doc_id"), col("is_canonical"))
    val mix = graft.ops.Sampling.temperatureMixture(s, dir)
      .select(col("doc_id"), col("lang"), col("keep").as("keep_m"))
    val toks = t(s, dir, "documents").select(col("doc_id"),
      size(wsTokens(col("text"))).cast(LongType).as("n_tokens"))
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    mix.join(keepQ, "doc_id").join(canon, "doc_id").join(toks, "doc_id")
      .filter(col("keep_m") && col("keep_q") && col("is_canonical"))
      .withColumn("tokens_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin", floor(col("tokens_before") / budget))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("bin_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("lang"), col("bin"))
  }

  /** Language-ID confusion matrix: counts per (labeled, detected) pair
    * plus each labeled language's recall — the evaluation report that
    * turns x03's per-doc output into a quality number per language. One
    * cell-grain aggregate over the verified x03 leg + a broadcast of
    * row totals; recall is a single division of exact counts.
    */
  def langConfusion(s: SparkSession, dir: String): DataFrame = {
    val cells = langIdCore(s, dir)
      .groupBy(col("lang_labeled"), col("lang_detected"))
      .agg(count(lit(1)).as("n_docs"))
    val rowTot = cells.groupBy(col("lang_labeled")).agg(sum(col("n_docs")).as("row_tot"))
    cells.join(broadcast(rowTot), "lang_labeled")
      .select(col("lang_labeled"), col("lang_detected"), col("n_docs"),
        (col("lang_labeled") === col("lang_detected")).as("is_correct"),
        (col("n_docs").cast(DoubleType) / col("row_tot").cast(DoubleType)).as("share"))
      .orderBy(col("lang_labeled"), col("lang_detected"))
  }

  /** Intra-document repeated-window removal (the within-doc half of the
    * Gopher/MassiveText repetition filters): the token stream chunks
    * into fixed 10-token windows, a window whose exact text appeared
    * EARLIER in the same document is marked removed, and the report
    * carries window/removal counts plus the cleaned token count. All
    * windows of one doc stay in one group — the dedup is a per-doc
    * min-window-id aggregate, never a corpus-wide shuffle of text (only
    * (doc_id, window) rows move, and only within the doc key).
    */
  def repeatedWindowRemoval(s: SparkSession, dir: String, winTokens: Int = 10): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), posexplode(wsTokens(lower(col("text")))))
      .select(col("doc_id"), col("pos"), col("col").as("w"))
      .withColumn("win_id", (col("pos") / winTokens).cast(LongType))
    val wins = toks.groupBy(col("doc_id"), col("win_id"))
      .agg(count(lit(1)).as("n_toks"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("w")))),
          e => e.getField("w"))).as("win_text"))
    val firstSeen = wins.groupBy(col("doc_id"), col("win_text"))
      .agg(min(col("win_id")).as("first_win"))
    wins.join(firstSeen, Seq("doc_id", "win_text"))
      .withColumn("removed", col("win_id") > col("first_win"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("removed"), 1L).otherwise(0L)).as("n_removed"),
        sum(when(!col("removed"), col("n_toks")).otherwise(0L)).as("n_tokens_clean"))
      .orderBy(col("doc_id"))
  }

  /** The native NFC expression as a Column (same bridge as
    * [[fingerprintCol]]).
    */
  def nfcCol(c: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.NfcNormalize(ColumnBridge.expression(c)))
  }

  /** x118: Unicode-normalization-aware dedup keys. A multilingual crawl
    * spells the same text in different code-point sequences ("é" as
    * U+00E9 or as "e"+U+0301), so hash-keyed dedup under-merges unless
    * keys are NFC-normalized first. The fixture corpus is ASCII, so the
    * two spellings are constructed IN-QUERY (identically on both
    * engines: a composed literal vs a combining-mark literal prefixed
    * to each document) and the query witnesses, per document, that (a)
    * the raw spellings hash apart, (b) the NFC'd spellings hash
    * together, and (c) NFC shortens the decomposed form by exactly the
    * combining mark. The normalization is the native codegen'd
    * [[graft.functions.NfcNormalize]] (JDK `java.text.Normalizer`);
    * DuckDB's built-in `nfc_normalize` is the twin — a real Unicode
    * table walk gated cross-engine, not a stub.
    */
  def nfcDedup(s: SparkSession, dir: String, maxDoc: Int = 100): DataFrame = {
    // escapes, not glyphs: the two prefixes MUST differ at the code-point
    // level (composed U+00E9 vs "e" + combining U+0301) and an editor
    // would render them identically
    val composed = concat(lit("caf\u00e9 "), col("text"))
    val decomposed = concat(lit("cafe\u0301 "), col("text"))
    t(s, dir, "documents").filter(col("doc_id") < maxDoc)
      .select(col("doc_id"),
        length(decomposed).cast(LongType).as("n_raw_chars"),
        length(nfcCol(decomposed)).cast(LongType).as("n_nfc_chars"),
        md5(nfcCol(decomposed).cast("binary")).as("nfc_md5"),
        (md5(nfcCol(composed).cast("binary"))
          === md5(nfcCol(decomposed).cast("binary"))).as("spellings_agree"),
        (md5(composed.cast("binary"))
          =!= md5(decomposed.cast("binary"))).as("raw_differs"))
      .orderBy(col("doc_id"))
  }

  /** x125: DSIR-style importance weights (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling" — public
    * arXiv:2302.03169): weight each raw-corpus document by how much its
    * token distribution looks like a TARGET domain, here the designated
    * high-quality source set. Per-token ratio under Laplace-smoothed
    * unigram models, kept log-free for cross-engine bit equality:
    * r(w) = p_tgt(w)/p_raw(w) = ((c_tgt+1)·(R+V)) / ((c_raw+1)·(T+V)),
    * all-integer numerator/denominator (exact in BIGINT) with ONE double
    * division; the per-doc weight is the ascending-order-pinned mean of
    * r(w) over the document's tokens — monotone in the classic mean
    * log-ratio for ranking purposes. Scale shape: two token-count
    * aggregates (map-side partials), a vocab-sized ratio table joined
    * back on the token key, one per-doc fold — no driver collect, no
    * cross product; at 100 TB the products want DECIMAL(38,0), noted
    * inline.
    */
  def dsirWeights(s: SparkSession, dir: String,
      targetSources: Seq[String] = Seq("src0", "src1", "src2", "src3")): DataFrame = {
    // (r19 optimization round: a pin here was A/B'd and REVERTED — the
    // exploded token frame is wide enough that checkpointing it costs
    // more than the three recomputed tokenize passes at this row size)
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(wsTokens(lower(col("text")))).as("w"))
    val raw = toks.groupBy(col("w")).agg(count(lit(1)).as("c_raw"))
    val tgt = toks.filter(col("source").isin(targetSources: _*))
      .groupBy(col("w")).agg(count(lit(1)).as("c_tgt"))
    val stats = raw.agg(count(lit(1)).as("v"), sum(col("c_raw")).as("r_total"))
    val tstat = tgt.agg(sum(col("c_tgt")).as("t_total"))
    // BIGINT products stay exact to ~9.2e18; a 100 TB corpus (1e14 tokens)
    // overflows them — swap the casts to DECIMAL(38,0) there.
    val ratio = raw.join(tgt, Seq("w"), "left").na.fill(0L, Seq("c_tgt"))
      .crossJoin(broadcast(stats)).crossJoin(broadcast(tstat))
      .select(col("w"),
        (((col("c_tgt") + lit(1L)) * (col("r_total") + col("v"))).cast(DoubleType) /
          ((col("c_raw") + lit(1L)) * (col("t_total") + col("v"))).cast(DoubleType))
          .as("r"))
    toks.join(ratio, Seq("w"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        (aggregate(array_sort(collect_list(col("r"))), lit(0.0), (a, v) => a + v)
          / count(lit(1)).cast(DoubleType)).as("imp_weight"))
      .withColumn("is_target", col("source").isin(targetSources: _*))
      .select(col("doc_id"), col("source"), col("is_target"), col("n_tokens"),
        col("imp_weight"))
      .orderBy(col("doc_id"))
  }

  /** x126: pairwise total-variation distance between per-source unigram
    * distributions — the mixture-design matrix (which sources are
    * near-duplicates of each other's token distribution, which add
    * diversity). TV(a,b) = ½·Σ_w |p_a(w) − p_b(w)| is computed EXACTLY:
    * the summand |c_a(w)·N_b − c_b(w)·N_a| is integer (order-free BIGINT
    * sum — no float-fold pinning needed at all), and the single closing
    * division by 2·N_a·N_b is the only double op. Missing (source,token)
    * cells are materialized via a vocab×source grid (vocab-linear, source
    * count is a small constant — scale-safe; DECIMAL(38,0) at extreme
    * token counts as in x125).
    */
  def sourceTvDistance(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("source"), explode(wsTokens(lower(col("text")))).as("w"))
    val cnt = toks.groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val vocab = cnt.select(col("w")).distinct()
    val grid = vocab.crossJoin(broadcast(tot))
      .join(cnt, Seq("source", "w"), "left").na.fill(0L, Seq("c"))
    val a = grid.select(col("w"), col("source").as("source_a"),
      col("c").as("c_a"), col("n").as("n_a"))
    val b = grid.select(col("w"), col("source").as("source_b"),
      col("c").as("c_b"), col("n").as("n_b"))
    a.join(b, Seq("w")).filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"), col("n_a"), col("n_b"))
      .agg(sum(abs(col("c_a") * col("n_b") - col("c_b") * col("n_a"))).as("sum_abs"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        (col("sum_abs").cast(DoubleType) /
          (lit(2.0) * (col("n_a") * col("n_b")).cast(DoubleType))).as("tv"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** x131: CCNet-style perplexity bucketing (Wenzek et al. 2020,
    * arXiv:1911.00359): split each language's documents into
    * head/middle/tail TERCILES of the x54 bigram-LM score (head = most
    * fluent under the corpus LM — CCNet's "keep head, inspect middle,
    * drop tail" recipe) and report the per-(lang, bucket) corpus slice a
    * mixture designer reads: doc count, token budget, and the score
    * range. `ntile(3)` is exact integer bucketing (both engines follow
    * the SQL-standard first-(n mod k)-groups-get-one-extra rule) over the
    * per-language (avg_p desc, doc_id) order; the bucket mean folds in
    * pinned ascending order. The window partitions by language, so the
    * sort is per-group and distributed — the x63 discipline; a skewed
    * giant language falls back to the approx-percentile spelling at
    * extreme scale.
    */
  def ccnetBuckets(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        size(wsTokens(lower(col("text")))).cast(LongType).as("n_tokens"))
    val w = Window.partitionBy(col("lang")).orderBy(col("avg_p").desc, col("doc_id"))
    bigramLmCore(s, dir)
      .join(docs, "doc_id")
      .withColumn("bucket", ntile(3).over(w).cast(LongType))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        (aggregate(array_sort(collect_list(col("avg_p"))), lit(0.0), (a, b) => a + b)
          / count(lit(1)).cast(DoubleType)).as("mean_p"),
        min(col("avg_p")).as("min_p"), max(col("avg_p")).as("max_p"))
      .select(col("lang"), col("bucket"),
        when(col("bucket") === 1, lit("head"))
          .when(col("bucket") === 2, lit("middle"))
          .otherwise(lit("tail")).as("bucket_name"),
        col("n_docs"), col("total_tokens"), col("mean_p"), col("min_p"), col("max_p"))
      .orderBy(col("lang"), col("bucket"))
  }

  /** x133: held-out interpolated LM scoring — the production form of the
    * x54 quality filter: the model trains on one fold (doc_id mod 5 ≠ 4)
    * and scores the OTHER (mod 5 = 4), so every probability is
    * out-of-fold (x54's in-fold MLE rewards memorized text; a real
    * curation LM never scores its own training data). Per held-out
    * bigram, Jelinek–Mercer interpolation with unigram-Laplace backoff:
    * p = λ·p_bi + (1−λ)·p_uni, λ = 0.75, p_bi = c₂/c₁ when the train
    * corpus saw the bigram (else 0 — the backoff case, counted per doc),
    * p_uni = (c_uni(w₂)+1)/(N+V). All counts are exact integers; each
    * term is two divisions and one fused λ-tree of correctly-rounded
    * double ops, and the per-doc mean folds ascending — bit-equal
    * cross-engine. Shape: train-side model aggregates reduce map-side;
    * held-out bigrams left-join the model tables on their token keys
    * (vocab-sized, shuffle-joined at scale); no collect.
    */
  def heldoutLmScore(s: SparkSession, dir: String, lambda: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val ngrams = ColumnBridge.column(
      graft.functions.WordNGrams(ColumnBridge.expression(lower(col("text"))), 2))
    val docs = t(s, dir, "documents")
    val isHeld = pmod(col("doc_id"), lit(5L)) === lit(4L)
    val bi = docs.select(col("doc_id"), ngrams)
      .select(col("doc_id"),
        substring_index(col("ngram"), " ", 1).as("w1"),
        substring_index(col("ngram"), " ", -1).as("w2"))
    val uni = docs.filter(!isHeld)
      .select(explode(wsTokens(lower(col("text")))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val stats = uni.agg(sum(col("cu")).as("n_tok"), count(lit(1)).as("v"))
    val big = bi.filter(!isHeld).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    val c1 = uni.select(col("w").as("w1"), col("cu").as("c1"))
    val cu2 = uni.select(col("w").as("w2"), col("cu").as("cu2"))
    val pBi = when(col("c2").isNull || col("c1").isNull, lit(0.0))
      .otherwise(col("c2").cast(DoubleType) / col("c1").cast(DoubleType))
    val pUni = (coalesce(col("cu2"), lit(0L)) + lit(1L)).cast(DoubleType) /
      (col("n_tok") + col("v")).cast(DoubleType)
    bi.filter(isHeld)
      .join(big, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .join(cu2, Seq("w2"), "left")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (lit(lambda) * pBi + lit(1.0 - lambda) * pUni).as("p"),
        col("c2").isNull.as("backoff"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("backoff"), 1L).otherwise(0L)).as("n_backoff"),
        (aggregate(array_sort(collect_list(col("p"))), lit(0.0), (a, b) => a + b)
          / count(lit(1)).cast(DoubleType)).as("avg_p"))
      .orderBy(col("doc_id"))
  }

  /** x136: filter-agreement matrix — the audit a curation stack runs
    * before composing its gates (the WIMBD/Dolma finding that nominally
    * similar quality filters keep very different corpora): for each pair
    * of the three independent doc-grain filters (the x02 heuristic
    * predicate, the x71 Gopher rules, the x63 per-language LM quartile
    * cut), the 2×2 keep/drop contingency counts and the Jaccard overlap
    * of the kept sets. Docs a filter cannot score (LM: no bigrams) count
    * as dropped BY THAT FILTER — stated policy, spelled identically in
    * both engines via the left-join + coalesce(false). Three doc-grain
    * flag projections (each its own already-audited plan), one
    * doc_id-keyed join, one 6-row aggregate: the matrix costs one corpus
    * pass per filter at any scale, and the integer cells are order-free.
    */
  def filterAgreement(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
      .select(col("doc_id"), qualityOkCol(col("text")).as("k_heuristic"))
    val flags = base
      .join(gopherRulesCached(s, dir).select(col("doc_id"), col("keep").as("k_gopher")),
        Seq("doc_id"), "left")
      .join(lmQualityCore(s, dir).select(col("doc_id"), col("keep").as("k_lm")),
        Seq("doc_id"), "left")
      .na.fill(false, Seq("k_gopher", "k_lm"))
      // pinned for the same reason as the x155 funnel: three union
      // branches below each reference this doc-grain flag frame, and
      // per-branch pruning defeats exchange reuse — unpinned, the
      // heuristic scan and both leg joins run three times
      .pinned
    val pairs = Seq(("gopher", "heuristic", "k_gopher", "k_heuristic"),
      ("gopher", "lm", "k_gopher", "k_lm"),
      ("heuristic", "lm", "k_heuristic", "k_lm"))
    pairs.map { case (a, b, ka, kb) =>
      flags.select(lit(a).as("filter_a"), lit(b).as("filter_b"),
        col(ka).as("ka"), col(kb).as("kb"))
    }.reduce(_ unionByName _)
      .groupBy(col("filter_a"), col("filter_b"))
      .agg(sum(when(col("ka") && col("kb"), 1L).otherwise(0L)).as("n_both_keep"),
        sum(when(col("ka") && !col("kb"), 1L).otherwise(0L)).as("n_only_a"),
        sum(when(!col("ka") && col("kb"), 1L).otherwise(0L)).as("n_only_b"),
        sum(when(!col("ka") && !col("kb"), 1L).otherwise(0L)).as("n_neither"))
      .select(col("filter_a"), col("filter_b"), col("n_both_keep"),
        col("n_only_a"), col("n_only_b"), col("n_neither"),
        when(col("n_both_keep") + col("n_only_a") + col("n_only_b") === 0,
          lit(null).cast(DoubleType))
          .otherwise(col("n_both_keep").cast(DoubleType) /
            (col("n_both_keep") + col("n_only_a") + col("n_only_b")).cast(DoubleType))
          .as("kept_jaccard"))
      .orderBy(col("filter_a"), col("filter_b"))
  }

  /** x139: held-out Kneser–Ney scoring — the standard n-gram smoothing
    * (absolute discount D = 0.75 with continuation-probability backoff)
    * on the same out-of-fold protocol as x133, completing the LM family
    * the quality lane compares: x54 in-fold MLE, x133 Jelinek–Mercer,
    * x139 KN. Per held-out bigram:
    * p = max(c₂−D,0)/tc(w₁) + D·n₁₊(w₁·)/tc(w₁) · p_cont(w₂), with
    * tc(w₁) = Σ_w c₂(w₁,w) (the bigram-context total — the correct KN
    * denominator, NOT the unigram count), n₁₊(w₁·) = distinct
    * continuations, p_cont(w₂) = n₁₊(·w₂)/|bigram types|; an unseen
    * context backs off to p_cont alone (documented; both engines spell
    * the same CASE). All counts exact integers; the discount tree is one
    * fixed sequence of correctly-rounded double ops; per-doc mean folds
    * ascending. Shape: three model aggregates off the one bigram
    * histogram, token-keyed left joins — the x133 plan with one more
    * vocab-sized leg.
    */
  def knLmScore(s: SparkSession, dir: String, discount: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val ngrams = ColumnBridge.column(
      graft.functions.WordNGrams(ColumnBridge.expression(lower(col("text"))), 2))
    val docs = t(s, dir, "documents")
    val isHeld = pmod(col("doc_id"), lit(5L)) === lit(4L)
    val bi = docs.select(col("doc_id"), ngrams)
      .select(col("doc_id"),
        substring_index(col("ngram"), " ", 1).as("w1"),
        substring_index(col("ngram"), " ", -1).as("w2"))
    val big = bi.filter(!isHeld).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    val ctx = big.groupBy(col("w1"))
      .agg(sum(col("c2")).as("tc"), count(lit(1)).as("n1"))
    val cont = big.groupBy(col("w2")).agg(count(lit(1)).as("contw"))
    val tot = big.agg(count(lit(1)).as("nbig"))
    val pCont = coalesce(col("contw"), lit(0L)).cast(DoubleType) /
      col("nbig").cast(DoubleType)
    val d = lit(discount)
    val pKn = when(col("tc").isNull, pCont)
      .otherwise(
        greatest(coalesce(col("c2"), lit(0L)).cast(DoubleType) - d, lit(0.0))
          / col("tc").cast(DoubleType)
          + (d * col("n1").cast(DoubleType) / col("tc").cast(DoubleType)) * pCont)
    bi.filter(isHeld)
      .join(big, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), pKn.as("p"), col("tc").isNull.as("unseen_ctx"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("unseen_ctx"), 1L).otherwise(0L)).as("n_unseen_ctx"),
        (aggregate(array_sort(collect_list(col("p"))), lit(0.0), (a, b) => a + b)
          / count(lit(1)).cast(DoubleType)).as("avg_p"))
      .orderBy(col("doc_id"))
  }

  /** x199: TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004) —
    * PageRank over the word co-occurrence graph: adjacent-token pairs
    * (window 2) co-occurring ≥ 2 times form symmetric edges; 5
    * integer-grid PageRank rounds (the x82 discipline: rank_q on the
    * 10^9 grid, floor-div contributions, 15/85 damping in integer
    * percent) rank the vocabulary; top 20 by (rank, word). The
    * unsupervised keyword surface next to the frequency (x06) and
    * tf-idf (x07) views — TextRank promotes words that sit in many
    * distinct contexts, not merely frequent ones.
    *
    * Shape: tokenization is one projection; the adjacency self-join is
    * keyed on (doc_id, pos) — never wider than the token stream; each
    * PageRank round is one edge join + one dst aggregate over the
    * ≥2-count pruned graph (vocabulary-sized, tiny vs the corpus);
    * per-round localCheckpoint keeps plans linear. Final top-20 is a
    * TakeOrderedAndProject.
    */
  def textrankKeywords(s: SparkSession, dir: String, iters: Int = 5,
      minCo: Long = 2L, topN: Int = 20): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(wsTokens(lower(col("text")))).as(Seq("pos", "w")))
    // lead() over the (doc, pos) window instead of a positional
    // self-join (r20 optimization round, guide §2.4, the x43 treatment):
    // the successor of pos is pos+1 by construction, so one explode +
    // one window exchange replaces two explode scans and the join's
    // exchanges; pair multiset identical.
    val adj = toks
      .withColumn("w2", lead(col("w"), 1).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .filter(col("w2").isNotNull && col("w") =!= col("w2"))
      .select(least(col("w"), col("w2")).as("pa"),
        greatest(col("w"), col("w2")).as("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCo)
    val edges = adj.select(col("pa").as("src"), col("pb").as("dst"))
      .union(adj.select(col("pb").as("src"), col("pa").as("dst")))
      .pinned
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("degree"))
      .pinned
    // degree attached to the edge list once before the loop (r19
    // optimization round — the x82 treatment: one join + one aggregate
    // per rank step instead of two joins; `rank_q DIV degree` per edge
    // row is the same integer division, contribution sums
    // order-independent, every iteration bit-identical)
    val edgesDeg = edges
      .join(deg.select(col("src").as("eds"), col("degree")),
        edges("src") === col("eds"))
      .select(col("src"), col("dst"), col("degree"))
      .pinned
    // No per-iteration pin (r20): each pr_i is consumed exactly once —
    // by pr_{i+1}'s contribution join (and the last by the top-N join)
    // — so the chain is linear and one final action computes every
    // iteration's exchanges exactly once; the five pins were five extra
    // driver actions buying no reuse. (Lineage depth is a fixed 5
    // iterations, not data-dependent.)
    var pr = deg.select(col("src").as("word"), lit(1000000000L).as("rank_q"))
    (1 to iters).foreach { _ =>
      val contrib = pr
        .join(edgesDeg, pr("word") === edgesDeg("src"))
        .select(col("dst"), expr("rank_q DIV degree").as("cq"))
        .groupBy(col("dst")).agg(sum(col("cq")).as("contrib"))
      pr = deg.select(col("src").as("word"))
        .join(contrib.select(col("dst").as("word"), col("contrib")),
          Seq("word"), "left")
        .select(col("word"), (lit(150000000L) +
          expr("(85 * coalesce(contrib, 0)) DIV 100")).as("rank_q"))
    }
    val scored = pr.join(deg.select(col("src").as("word"), col("degree")), Seq("word"))
    TopKPerKey.ranked(scored, Nil, Seq(col("rank_q").desc, col("word")), topN, "pos")
      .select(col("pos"), col("word"), col("degree"), col("rank_q"),
        (col("rank_q").cast("double") / 1e9).as("rank"))
      .orderBy(col("pos"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x199_textrank_keywords" -> ((s: SparkSession, dir: String) => textrankKeywords(s, dir)),
    "x139_kn_lm" -> ((s: SparkSession, dir: String) => knLmScore(s, dir)),
    "x136_filter_agreement" -> (filterAgreement _),
    "x131_ccnet_buckets" -> (ccnetBuckets _),
    "x133_heldout_lm" -> ((s: SparkSession, dir: String) => heldoutLmScore(s, dir)),
    "x125_dsir_weights" -> ((s: SparkSession, dir: String) => dsirWeights(s, dir)),
    "x126_source_tv" -> (sourceTvDistance _),
    "x121_bpe_fertility" -> ((s: SparkSession, dir: String) => bpeFertilityBySource(s, dir)),
    "x118_nfc_dedup" -> ((s: SparkSession, dir: String) => nfcDedup(s, dir)),
    "x80_repeated_windows" -> ((s: SparkSession, dir: String) => repeatedWindowRemoval(s, dir)),
    "x79_lang_confusion" -> (langConfusion _),
    "x71_gopher_rules" -> (gopherRules _),
    "x147_nb_quality" -> (nbQualityScore _),
    "x155_curation_funnel" -> (curationFunnel _),
    "x74_curation_manifest" -> ((s: SparkSession, dir: String) => curationManifest(s, dir)),
    "x45_corpus_pipeline" -> (corpusPipeline _),
    "x01_token_count" -> (tokenCount _),
    "x02_quality_score" -> (qualityScore _),
    "x03_lang_id" -> (langId _),
    "x04_fingerprint" -> (fingerprint _),
    "x05_corpus_curation" -> (corpusCurate _),
    "x06_vocab_topk" -> ((s: SparkSession, dir: String) => vocabTopk(s, dir)),
    "x07_tfidf_topterms" -> ((s: SparkSession, dir: String) => tfidfTopTerms(s, dir)),
    "x43_repetition" -> (repetitionMetrics _),
    "x49_stem_vocab" -> ((s: SparkSession, dir: String) => stemVocabTopk(s, dir)),
    "x54_bigram_lm" -> (bigramLmScore _),
    "x63_lm_quality_filter" -> (lmQualityFilter _),
    "x65_bigram_novelty" -> (bigramNovelty _),
    "x67_length_histogram" -> (lengthHistogram _),
    "x68_pmi_topk" -> ((s: SparkSession, dir: String) => pmiTopk(s, dir)),
    "x89_curation_datasheet" -> (curationDatasheet _),
    "x93_vocab_growth" -> ((s: SparkSession, dir: String) => vocabGrowth(s, dir)),
    "x151_freq_octaves" -> (freqOctaves _),
    "x97_bpe_first_merges" -> ((s: SparkSession, dir: String) => bpeFirstMerges(s, dir)),
    "x101_bpe_train_merges" -> ((s: SparkSession, dir: String) => bpeTrainMerges(s, dir)),
    "x102_bpe_encode_report" -> ((s: SparkSession, dir: String) => bpeEncodeReport(s, dir)),
    "x109_split_datasheet" -> (splitDatasheet _))

  private val StopListSql = "'the','a','and','of','to','in','is'"

  /** The x54 per-doc bigram-LM score as standalone DuckDB SQL — shared by
    * the x54 oracle and the x63 quality-filter oracle that wraps it.
    */
  private val BigramLmSql: String =
    """WITH toks AS (
      |  SELECT doc_id, w, i AS pos
      |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
      |        FROM documents),
      |       LATERAL (SELECT unnest(ws) AS w, unnest(generate_series(1, len(ws))) AS i)),
      |bi AS (
      |  SELECT doc_id, w AS w1,
      |    lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      |  FROM toks QUALIFY w2 IS NOT NULL),
      |uni AS (SELECT w AS w1, count(*) AS c1 FROM toks GROUP BY w),
      |big AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2),
      |scored AS (
      |  SELECT bi.doc_id, CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE) AS p
      |  FROM bi JOIN big USING (w1, w2) JOIN uni USING (w1))
      |SELECT doc_id, count(*) AS n_bigrams,
      |  list_reduce(list_prepend(0.0, list(p ORDER BY p)), (a, b) -> a + b)
      |    / CAST(count(*) AS DOUBLE) AS avg_p
      |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The x71 Gopher-rules output as standalone DuckDB SQL — shared by
    * the x71 oracle and the x74 curation-manifest oracle that wraps it.
    */
  private val GopherSql: String = {
      val stops = GopherStops.map(w => s"'$w'").mkString(",")
      s"""WITH d AS (
         |  SELECT doc_id,
         |    string_split_regex(trim(lower(text)), '\\s+') AS toks,
         |    string_split(text, chr(10)) AS lines,
         |    len(regexp_extract_all(text, '#'))
         |      + len(regexp_extract_all(text, '\\.\\.\\.')) AS n_symbol
         |  FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE)
         |      / CAST(len(toks) AS DOUBLE) AS mean_word_len,
         |    CAST(n_symbol AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS symbol_ratio,
         |    CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
         |      / CAST(len(toks) AS DOUBLE) AS alpha_ratio,
         |    CAST(len(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*•]'))) AS DOUBLE)
         |      / CAST(len(lines) AS DOUBLE) AS bullet_ratio,
         |    CAST(len(list_filter(lines, l -> regexp_matches(l, '\\.\\.\\.\\s*$$'))) AS DOUBLE)
         |      / CAST(len(lines) AS DOUBLE) AS ellipsis_ratio,
         |    CAST(len(list_filter(toks, w -> w IN ($stops))) AS BIGINT) AS stop_hits
         |  FROM d)
         |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_ratio, stop_hits,
         |  n_words BETWEEN 50 AND 100000 AS r_word_count,
         |  mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS r_mean_len,
         |  symbol_ratio <= 0.1 AS r_symbol,
         |  bullet_ratio <= 0.9 AS r_bullet,
         |  ellipsis_ratio <= 0.3 AS r_ellipsis,
         |  alpha_ratio >= 0.8 AS r_alpha,
         |  stop_hits >= 2 AS r_stop,
         |  ((n_words BETWEEN 50 AND 100000) AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
         |    AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9 AND ellipsis_ratio <= 0.3
         |    AND alpha_ratio >= 0.8 AND stop_hits >= 2) AS keep
         |FROM m ORDER BY doc_id""".stripMargin
    }

  private val baseOracles: Map[String, String] = Map(
    "x01_token_count" ->
      """SELECT doc_id,
        |  len(string_split_regex(trim(text), '\s+')) AS n_tokens_ws,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_tokens_bpe,
        |  CAST(length(text) AS BIGINT) AS n_chars_calc
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x02_quality_score" ->
      s"""SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars_calc,
         |  len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / CAST(length(text) AS DOUBLE) AS punct_ratio,
         |  CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), w -> w IN ($StopListSql))) AS DOUBLE)
         |    / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS stopword_ratio,
         |  (length(text) >= 100 AND length(text) <= 5000
         |    AND len(string_split_regex(trim(text), '\\s+')) >= 20
         |    AND CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / CAST(length(text) AS DOUBLE) < 0.1) AS quality_ok
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x03_lang_id" -> {
      val hitsSql = TextAnalysis.LangStops.map { case (lang, words) =>
        val list = words.map(w => s"'$w'").mkString(",")
        s"len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), w -> w IN ($list)))"
      }
      val best = s"greatest(${hitsSql.mkString(", ")})"
      val pick = TextAnalysis.LangStops.zip(hitsSql).reverse
        .foldLeft("'und'") { case (acc, ((lang, _), h)) =>
          s"CASE WHEN $h = $best AND $best > 0 THEN '$lang' ELSE $acc END"
        }
      s"""SELECT doc_id, lang AS lang_labeled,
         |  CASE WHEN len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) > 0 THEN 'zh'
         |       ELSE $pick END AS lang_detected,
         |  len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS n_cjk
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "x04_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint,
        |  list_reduce(list_prepend(1125899906842597::BIGINT,
        |    list_transform(string_split_regex(trim(text), '\s+'),
        |      w -> ('0x' || substr(md5(w), 1, 15))::BIGINT)),
        |    (acc, h) -> (acc * 31 + h) % 1000000007) AS rolling_hash
        |FROM documents ORDER BY doc_id""".stripMargin)

  /** x05 composes the already-verified x02/x03/x10 oracle SQL as
    * subqueries — one definition per leg, no duplication to drift.
    */
  /** x101's twin: the trainer loop UNROLLED into CTEs — one
    * (pair-count, top-1, rewrite) triple per merge round, with the
    * rewrite as a list_reduce whose CASE is byte-identical to the Spark
    * fold. NOTE the pair extraction unnests positions in a SUBQUERY and
    * indexes in the outer select — the LATERAL-over-list-index spelling
    * hits a DuckDB 1.0.0 internal error (Vector::Reference type
    * assertion).
    */
  private def bpeOracleCtes(rounds: Int): String = {
    val parts = scala.collection.mutable.ArrayBuffer(
      """w0 AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS freq,
        |    list_transform(generate_series(1, len(w)), i -> substr(w, i, 1)) AS syms
        |  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w FROM documents)
        |  GROUP BY w)""".stripMargin)
    for (r <- 1 to rounds) {
      parts += s"""p$r AS (
        |  SELECT syms[i] AS left_sym, syms[i + 1] AS right_sym,
        |    CAST(sum(freq) AS BIGINT) AS pair_count
        |  FROM (SELECT freq, syms, unnest(generate_series(1, len(syms) - 1)) AS i FROM w${r - 1})
        |  GROUP BY 1, 2)""".stripMargin
      parts += s"""m$r AS (
        |  SELECT CAST($r AS BIGINT) AS merge_rank, left_sym, right_sym, pair_count
        |  FROM p$r ORDER BY pair_count DESC, left_sym, right_sym LIMIT 1)""".stripMargin
      parts += s"""w$r AS (
        |  SELECT w, freq,
        |    list_reduce(list_transform(syms, s -> [s]),
        |      (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = m$r.left_sym AND x[1] = m$r.right_sym
        |        THEN list_append(acc[1:len(acc)-1], m$r.left_sym || m$r.right_sym)
        |        ELSE list_concat(acc, x) END) AS syms
        |  FROM w${r - 1}, m$r)""".stripMargin
    }
    "WITH " + parts.mkString(",\n")
  }

  private def bpeTrainOracle(rounds: Int): String = {
    val sel = (1 to rounds).map(r => s"SELECT * FROM m$r").mkString(" UNION ALL ")
    bpeOracleCtes(rounds) + s"\nSELECT * FROM ($sel) ORDER BY merge_rank"
  }

  private def bpeEncodeOracle(rounds: Int): String =
    bpeOracleCtes(rounds) +
      s"""
         |SELECT CAST(count(*) AS BIGINT) AS n_vocab_words,
         |  CAST(sum(freq) AS BIGINT) AS n_ws_tokens,
         |  CAST(sum(freq * len(w)) AS BIGINT) AS n_chars,
         |  CAST(sum(freq * len(syms)) AS BIGINT) AS n_bpe_tokens,
         |  CAST(sum(freq * len(w)) AS DOUBLE) / CAST(sum(freq * len(syms)) AS DOUBLE)
         |    AS chars_per_bpe_token,
         |  CAST(sum(freq * len(syms)) AS DOUBLE) / CAST(sum(freq) AS DOUBLE)
         |    AS bpe_tokens_per_word
         |FROM w$rounds""".stripMargin

  /** x121's twin: the x102 unrolled-merge CTE chain, re-aggregated per
    * source through a (source, word) histogram join.
    */
  private def bpeFertilityOracle(rounds: Int): String =
    bpeOracleCtes(rounds) +
      s""",
         |src AS (
         |  SELECT source, w, count(*) AS sfreq FROM (
         |    SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
         |    FROM documents)
         |  GROUP BY source, w)
         |SELECT s.source,
         |  CAST(sum(s.sfreq) AS BIGINT) AS n_words,
         |  CAST(sum(s.sfreq * len(s.w)) AS BIGINT) AS n_chars,
         |  CAST(sum(s.sfreq * len(t.syms)) AS BIGINT) AS n_bpe_tokens,
         |  CAST(sum(s.sfreq * len(s.w)) AS DOUBLE)
         |    / CAST(sum(s.sfreq * len(t.syms)) AS DOUBLE) AS chars_per_bpe_token,
         |  CAST(sum(s.sfreq * len(t.syms)) AS DOUBLE)
         |    / CAST(sum(s.sfreq) AS DOUBLE) AS bpe_tokens_per_word
         |FROM src s JOIN w$rounds t ON t.w = s.w
         |GROUP BY s.source ORDER BY s.source""".stripMargin

  /** x199's twin: the same tokenization, windowed adjacency, ≥2 pruning,
    * and 5 unrolled integer PageRank rounds (the x82 oracle idioms).
    */
  private def textrankOracle(iters: Int, topN: Int): String = {
    val steps = (1 to iters).map { i =>
      val prev = s"pr${i - 1}"
      s"""pr$i AS MATERIALIZED (
         |  SELECT d.src AS word,
         |    150000000 + (85 * COALESCE(c.contrib, 0)) // 100 AS rank_q
         |  FROM deg d LEFT JOIN (
         |    SELECT e.dst, CAST(sum(p.rank_q // dg.degree) AS BIGINT) AS contrib
         |    FROM $prev p
         |    JOIN deg dg ON dg.src = p.word
         |    JOIN edges e ON e.src = p.word
         |    GROUP BY e.dst) c ON c.dst = d.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id, i - 1 AS pos, ws[i] AS w FROM (
       |    SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
       |    FROM documents),
       |    LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)),
       |adj AS MATERIALIZED (
       |  SELECT least(a.w, b.w) AS pa, greatest(a.w, b.w) AS pb
       |  FROM toks a JOIN toks b
       |    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
       |  WHERE a.w <> b.w
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |edges AS MATERIALIZED (
       |  SELECT pa AS src, pb AS dst FROM adj
       |  UNION ALL SELECT pb, pa FROM adj),
       |deg AS MATERIALIZED (SELECT src, count(*) AS degree FROM edges GROUP BY 1),
       |pr0 AS (SELECT src AS word, CAST(1000000000 AS BIGINT) AS rank_q FROM deg),
       |$steps
       |SELECT CAST(row_number() OVER (ORDER BY p.rank_q DESC, p.word) AS INT)
       |    AS pos,
       |  p.word, d.degree, p.rank_q,
       |  CAST(p.rank_q AS DOUBLE) / 1e9 AS rank
       |FROM pr$iters p JOIN deg d ON d.src = p.word
       |ORDER BY p.rank_q DESC, p.word LIMIT $topN""".stripMargin
  }

  val oracles: Map[String, String] = baseOracles +
    ("x199_textrank_keywords" -> textrankOracle(5, 20)) +
    // x136: the three filters' own oracle CTEs spliced verbatim (Gopher,
    // LM-quartile) plus the x02 predicate; unscoreable docs coalesce to
    // dropped in both engines.
    ("x136_filter_agreement" ->
      s"""WITH g AS ($GopherSql),
         |s54 AS ($BigramLmSql),
         |lmranked AS (
         |  SELECT s54.doc_id,
         |    percent_rank() OVER (PARTITION BY d.lang ORDER BY s54.avg_p, s54.doc_id) AS pct_rank,
         |    count(*) OVER (PARTITION BY d.lang) AS n_lang
         |  FROM s54 JOIN documents d ON d.doc_id = s54.doc_id),
         |f AS (
         |  SELECT d.doc_id,
         |    (length(d.text) >= 100 AND length(d.text) <= 5000
         |      AND len(string_split_regex(trim(d.text), '\\s+')) >= 20
         |      AND CAST(len(regexp_extract_all(d.text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
         |        / CAST(length(d.text) AS DOUBLE) < 0.1) AS k_heuristic,
         |    coalesce(g.keep, false) AS k_gopher,
         |    coalesce(r.pct_rank >= 0.25 OR r.n_lang = 1, false) AS k_lm
         |  FROM documents d
         |  LEFT JOIN g ON g.doc_id = d.doc_id
         |  LEFT JOIN lmranked r ON r.doc_id = d.doc_id),
         |p AS (
         |  SELECT 'gopher' AS filter_a, 'heuristic' AS filter_b, k_gopher AS ka, k_heuristic AS kb FROM f
         |  UNION ALL SELECT 'gopher', 'lm', k_gopher, k_lm FROM f
         |  UNION ALL SELECT 'heuristic', 'lm', k_heuristic, k_lm FROM f)
         |SELECT filter_a, filter_b,
         |  CAST(sum(CASE WHEN ka AND kb THEN 1 ELSE 0 END) AS BIGINT) AS n_both_keep,
         |  CAST(sum(CASE WHEN ka AND NOT kb THEN 1 ELSE 0 END) AS BIGINT) AS n_only_a,
         |  CAST(sum(CASE WHEN NOT ka AND kb THEN 1 ELSE 0 END) AS BIGINT) AS n_only_b,
         |  CAST(sum(CASE WHEN NOT ka AND NOT kb THEN 1 ELSE 0 END) AS BIGINT) AS n_neither,
         |  CASE WHEN sum(CASE WHEN ka OR kb THEN 1 ELSE 0 END) = 0 THEN NULL
         |       ELSE CAST(sum(CASE WHEN ka AND kb THEN 1 ELSE 0 END) AS DOUBLE)
         |         / CAST(sum(CASE WHEN ka OR kb THEN 1 ELSE 0 END) AS DOUBLE) END AS kept_jaccard
         |FROM p GROUP BY filter_a, filter_b ORDER BY filter_a, filter_b""".stripMargin) +
    // x131: the x54 scoring CTE re-bucketed with the SQL-standard ntile —
    // identical tercile boundaries, pinned-fold bucket means.
    ("x131_ccnet_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id, w, i AS pos
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
        |        FROM documents),
        |       LATERAL (SELECT unnest(ws) AS w, unnest(generate_series(1, len(ws))) AS i)),
        |bi AS (
        |  SELECT doc_id, w AS w1,
        |    lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM toks QUALIFY w2 IS NOT NULL),
        |uni AS (SELECT w AS w1, count(*) AS c1 FROM toks GROUP BY w),
        |big AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2),
        |scored AS (
        |  SELECT bi.doc_id, CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE) AS p
        |  FROM bi JOIN big USING (w1, w2) JOIN uni USING (w1)),
        |perdoc AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(0.0, list(p ORDER BY p)), (a, b) -> a + b)
        |      / CAST(count(*) AS DOUBLE) AS avg_p
        |  FROM scored GROUP BY doc_id),
        |docs AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |bucketed AS (
        |  SELECT d.lang, p.avg_p, d.n_tokens,
        |    CAST(ntile(3) OVER (PARTITION BY d.lang
        |      ORDER BY p.avg_p DESC, p.doc_id) AS BIGINT) AS bucket
        |  FROM perdoc p JOIN docs d USING (doc_id))
        |SELECT lang, bucket,
        |  CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket_name,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  list_reduce(list_prepend(0.0, list(avg_p ORDER BY avg_p)), (a, b) -> a + b)
        |    / CAST(count(*) AS DOUBLE) AS mean_p,
        |  min(avg_p) AS min_p, max(avg_p) AS max_p
        |FROM bucketed GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin) +
    // x139: the x133 held-out protocol under Kneser–Ney — same fold CTEs,
    // the KN discount tree spelled with the identical CASE/CAST sequence.
    ("x139_kn_lm" ->
      """WITH toks AS (
        |  SELECT doc_id, w, i AS pos
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
        |        FROM documents),
        |       LATERAL (SELECT unnest(ws) AS w, unnest(generate_series(1, len(ws))) AS i)),
        |bi AS (
        |  SELECT doc_id, w AS w1,
        |    lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM toks QUALIFY w2 IS NOT NULL),
        |big AS (SELECT w1, w2, count(*) AS c2 FROM bi WHERE doc_id % 5 <> 4 GROUP BY w1, w2),
        |ctx AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS tc, count(*) AS n1 FROM big GROUP BY w1),
        |cont AS (SELECT w2, count(*) AS contw FROM big GROUP BY w2),
        |tot AS (SELECT count(*) AS nbig FROM big),
        |scored AS (
        |  SELECT h.doc_id,
        |    CASE WHEN ctx.tc IS NULL
        |      THEN CAST(coalesce(cont.contw, 0) AS DOUBLE) / CAST(nbig AS DOUBLE)
        |      ELSE greatest(CAST(coalesce(big.c2, 0) AS DOUBLE) - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE))
        |          / CAST(ctx.tc AS DOUBLE)
        |        + (CAST(0.75 AS DOUBLE) * CAST(ctx.n1 AS DOUBLE) / CAST(ctx.tc AS DOUBLE))
        |          * (CAST(coalesce(cont.contw, 0) AS DOUBLE) / CAST(nbig AS DOUBLE)) END AS p,
        |    ctx.tc IS NULL AS unseen_ctx
        |  FROM bi h
        |  LEFT JOIN big ON big.w1 = h.w1 AND big.w2 = h.w2
        |  LEFT JOIN ctx ON ctx.w1 = h.w1
        |  LEFT JOIN cont ON cont.w2 = h.w2
        |  CROSS JOIN tot
        |  WHERE h.doc_id % 5 = 4)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(CASE WHEN unseen_ctx THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen_ctx,
        |  list_reduce(list_prepend(0.0, list(p ORDER BY p)), (a, b) -> a + b)
        |    / CAST(count(*) AS DOUBLE) AS avg_p
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin) +
    // x133: out-of-fold scoring — train CTEs filter doc_id % 5 <> 4, the
    // held-out bigrams left-join them; identical λ-tree and backoff CASE.
    ("x133_heldout_lm" ->
      """WITH toks AS (
        |  SELECT doc_id, w, i AS pos
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
        |        FROM documents),
        |       LATERAL (SELECT unnest(ws) AS w, unnest(generate_series(1, len(ws))) AS i)),
        |bi AS (
        |  SELECT doc_id, w AS w1,
        |    lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM toks QUALIFY w2 IS NOT NULL),
        |uni AS (SELECT w, count(*) AS cu FROM toks WHERE doc_id % 5 <> 4 GROUP BY w),
        |stats AS (SELECT sum(cu) AS n_tok, count(*) AS v FROM uni),
        |big AS (SELECT w1, w2, count(*) AS c2 FROM bi WHERE doc_id % 5 <> 4 GROUP BY w1, w2),
        |scored AS (
        |  SELECT h.doc_id,
        |    CAST(0.75 AS DOUBLE) * (CASE WHEN big.c2 IS NULL OR u1.cu IS NULL THEN CAST(0 AS DOUBLE)
        |      ELSE CAST(big.c2 AS DOUBLE) / CAST(u1.cu AS DOUBLE) END)
        |    + CAST(0.25 AS DOUBLE) * (CAST(coalesce(u2.cu, 0) + 1 AS DOUBLE)
        |        / CAST(n_tok + v AS DOUBLE)) AS p,
        |    big.c2 IS NULL AS backoff
        |  FROM bi h
        |  LEFT JOIN big ON big.w1 = h.w1 AND big.w2 = h.w2
        |  LEFT JOIN uni u1 ON u1.w = h.w1
        |  LEFT JOIN uni u2 ON u2.w = h.w2
        |  CROSS JOIN stats
        |  WHERE h.doc_id % 5 = 4)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(CASE WHEN backoff THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff,
        |  list_reduce(list_prepend(0.0, list(p ORDER BY p)), (a, b) -> a + b)
        |    / CAST(count(*) AS DOUBLE) AS avg_p
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin) +
    // x125: Laplace-ratio mean with the pinned ascending fold; the
    // integer products mirror the Spark BIGINT arithmetic exactly.
    ("x125_dsir_weights" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
        |raw AS (SELECT w, count(*) AS c_raw FROM toks GROUP BY w),
        |tgt AS (SELECT w, count(*) AS c_tgt FROM toks
        |        WHERE source IN ('src0','src1','src2','src3') GROUP BY w),
        |stats AS (SELECT count(*) AS v, sum(c_raw) AS r_total FROM raw),
        |tstat AS (SELECT sum(c_tgt) AS t_total FROM tgt),
        |ratio AS (
        |  SELECT raw.w,
        |    CAST((coalesce(c_tgt, 0) + 1) * (r_total + v) AS DOUBLE)
        |      / CAST((c_raw + 1) * (t_total + v) AS DOUBLE) AS r
        |  FROM raw LEFT JOIN tgt ON raw.w = tgt.w CROSS JOIN stats CROSS JOIN tstat)
        |SELECT doc_id, source,
        |  source IN ('src0','src1','src2','src3') AS is_target,
        |  count(*) AS n_tokens,
        |  list_reduce(list_prepend(0.0, list(r ORDER BY r)), (a, v) -> a + v)
        |    / CAST(count(*) AS DOUBLE) AS imp_weight
        |FROM toks JOIN ratio ON toks.w = ratio.w
        |GROUP BY doc_id, source ORDER BY doc_id""".stripMargin) +
    // x126: integer TV numerator (order-free sum), one closing double
    // division — the whole matrix is exact.
    ("x126_source_tv" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
        |cnt AS (SELECT source, w, count(*) AS c FROM toks GROUP BY source, w),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY source),
        |vocab AS (SELECT DISTINCT w FROM cnt),
        |grid AS (
        |  SELECT vocab.w, tot.source, tot.n, coalesce(cnt.c, 0) AS c
        |  FROM vocab CROSS JOIN tot
        |  LEFT JOIN cnt ON cnt.source = tot.source AND cnt.w = vocab.w)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  a.n AS n_a, b.n AS n_b,
        |  CAST(sum(abs(a.c * b.n - b.c * a.n)) AS DOUBLE)
        |    / (CAST(2 AS DOUBLE) * CAST(a.n * b.n AS DOUBLE)) AS tv
        |FROM grid a JOIN grid b ON a.w = b.w AND a.source < b.source
        |GROUP BY a.source, b.source, a.n, b.n
        |ORDER BY source_a, source_b""".stripMargin) +
    ("x121_bpe_fertility" -> bpeFertilityOracle(8)) +
    // x118: chr() builds the same two code-point sequences the Spark
    // literals carry; nfc_normalize is DuckDB's own Unicode table walk.
    ("x118_nfc_dedup" ->
      """WITH v AS (
        |  SELECT doc_id,
        |    'caf' || chr(233) || ' ' || text AS composed,
        |    'cafe' || chr(769) || ' ' || text AS decomposed
        |  FROM documents WHERE doc_id < 100)
        |SELECT doc_id,
        |  CAST(length(decomposed) AS BIGINT) AS n_raw_chars,
        |  CAST(length(nfc_normalize(decomposed)) AS BIGINT) AS n_nfc_chars,
        |  md5(nfc_normalize(decomposed)) AS nfc_md5,
        |  md5(nfc_normalize(composed)) = md5(nfc_normalize(decomposed)) AS spellings_agree,
        |  md5(composed) <> md5(decomposed) AS raw_differs
        |FROM v ORDER BY doc_id""".stripMargin) +
    ("x101_bpe_train_merges" -> bpeTrainOracle(8)) +
    ("x102_bpe_encode_report" -> bpeEncodeOracle(8)) +
    ("x97_bpe_first_merges" ->
      """WITH v AS (
        |  SELECT w, count(*) AS freq FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |    FROM documents)
        |  GROUP BY w),
        |p AS (
        |  SELECT substr(w, i, 1) AS left_sym, substr(w, i + 1, 1) AS right_sym, freq
        |  FROM v, LATERAL (SELECT unnest(generate_series(1, length(w) - 1)) AS i)
        |  WHERE length(w) >= 2)
        |SELECT left_sym, right_sym, CAST(sum(freq) AS BIGINT) AS pair_count
        |FROM p GROUP BY 1, 2
        |ORDER BY pair_count DESC, left_sym, right_sym LIMIT 20""".stripMargin) +
    ("x93_vocab_growth" ->
      """WITH ranked AS (
        |  SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS rnk
        |  FROM documents),
        |t AS (SELECT max(rnk) AS n_docs FROM ranked),
        |fs AS (
        |  SELECT w, min(doc_id) AS first_id FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |    FROM documents)
        |  GROUP BY w),
        |pb AS (
        |  SELECT (r.rnk * 10 + t.n_docs - 1) // t.n_docs AS step,
        |    count(*) AS new_tokens
        |  FROM fs JOIN ranked r ON r.doc_id = fs.first_id, t
        |  GROUP BY 1),
        |spine AS (
        |  SELECT s AS step, (s * t.n_docs) // 10 AS n_docs_prefix
        |  FROM (SELECT unnest(generate_series(1, 10)) AS s), t)
        |SELECT sp.step, sp.n_docs_prefix,
        |  CAST(COALESCE(pb.new_tokens, 0) AS BIGINT) AS new_tokens,
        |  CAST(sum(COALESCE(pb.new_tokens, 0)) OVER (ORDER BY sp.step
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab_size
        |FROM spine sp LEFT JOIN pb ON pb.step = sp.step
        |ORDER BY sp.step""".stripMargin) +
    // composes the x02 quality formula + the x10 canonical fingerprint
    // per source — the same verified leg SQL, aggregated
    ("x109_split_datasheet" ->
      """WITH f AS (
        |  SELECT source, doc_id,
        |    CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 80 THEN 'train'
        |         WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90 THEN 'val'
        |         ELSE 'test' END AS split,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    (length(text) >= 100 AND length(text) <= 5000
        |     AND len(string_split_regex(trim(text), '\s+')) >= 20
        |     AND CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
        |         / CAST(length(text) AS DOUBLE) < 0.1) AS quality_ok,
        |    md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
        |  FROM documents),
        |c AS (
        |  SELECT *, doc_id = min(doc_id) OVER (PARTITION BY fp) AS is_canonical
        |  FROM f)
        |SELECT split, source,
        |  count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN NOT is_canonical THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dups,
        |  CAST(sum(CASE WHEN NOT quality_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_fail,
        |  CAST(sum(CASE WHEN is_canonical AND quality_ok THEN n_tokens ELSE 0 END) AS BIGINT) AS n_tokens_kept,
        |  CAST(sum(CASE WHEN is_canonical AND quality_ok THEN n_tokens ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(n_tokens) AS DOUBLE) AS keep_ratio
        |FROM c GROUP BY split, source ORDER BY split, source""".stripMargin) +
    ("x89_curation_datasheet" ->
      """WITH f AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    (length(text) >= 100 AND length(text) <= 5000
        |     AND len(string_split_regex(trim(text), '\s+')) >= 20
        |     AND CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
        |         / CAST(length(text) AS DOUBLE) < 0.1) AS quality_ok,
        |    md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
        |  FROM documents),
        |c AS (
        |  SELECT *, doc_id = min(doc_id) OVER (PARTITION BY fp) AS is_canonical
        |  FROM f)
        |SELECT source,
        |  count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN NOT is_canonical THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dups,
        |  CAST(sum(CASE WHEN NOT quality_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_fail,
        |  CAST(sum(CASE WHEN is_canonical AND quality_ok THEN n_tokens ELSE 0 END) AS BIGINT) AS n_tokens_kept,
        |  CAST(sum(CASE WHEN is_canonical AND quality_ok THEN n_tokens ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(n_tokens) AS DOUBLE) AS keep_ratio
        |FROM c GROUP BY source ORDER BY source""".stripMargin) +
    ("x06_vocab_topk" ->
      """SELECT token, count(*) AS n_occurrences
        |FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |      FROM documents)
        |GROUP BY token ORDER BY n_occurrences DESC, token LIMIT 30""".stripMargin) +
    ("x49_stem_vocab" ->
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
        |stems AS (
        |  SELECT CASE
        |    WHEN length(w) > 4 AND w LIKE '%ies' THEN substr(w, 1, length(w)-3) || 'y'
        |    WHEN length(w) > 5 AND w LIKE '%sses' THEN substr(w, 1, length(w)-2)
        |    WHEN length(w) > 3 AND w LIKE '%s' AND w NOT LIKE '%ss' THEN substr(w, 1, length(w)-1)
        |    WHEN length(w) > 5 AND w LIKE '%ing' THEN substr(w, 1, length(w)-3)
        |    WHEN length(w) > 4 AND w LIKE '%ed' THEN substr(w, 1, length(w)-2)
        |    ELSE w END AS stem
        |  FROM toks)
        |SELECT stem, count(*) AS n_occurrences
        |FROM stems GROUP BY stem
        |ORDER BY n_occurrences DESC, stem LIMIT 30""".stripMargin) +
    ("x07_tfidf_topterms" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE doc_id < 20 GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df
        |       FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    CAST(tf.tf * n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
        |  FROM scored)
        |SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df, tfidf
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin) +
    ("x43_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, w, i AS pos
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
        |        FROM documents),
        |       LATERAL (SELECT unnest(ws) AS w, unnest(generate_series(1, len(ws))) AS i)),
        |tri AS (
        |  SELECT doc_id,
        |    w || ' ' || lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos)
        |      || ' ' || lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS tri,
        |    lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
        |  FROM toks),
        |trig AS (
        |  SELECT doc_id, count(*) AS n_trigrams, count(DISTINCT tri) AS n_distinct
        |  FROM tri WHERE t2 IS NOT NULL GROUP BY doc_id),
        |tt AS (
        |  SELECT doc_id,
        |    CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_token_ratio
        |  FROM (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY doc_id, w)
        |  GROUP BY doc_id)
        |SELECT doc_id, n_trigrams, CAST(n_distinct AS BIGINT) AS n_distinct,
        |  CAST(n_trigrams - n_distinct AS DOUBLE) / CAST(n_trigrams AS DOUBLE) AS dup_trigram_ratio,
        |  top_token_ratio
        |FROM trig JOIN tt USING (doc_id) ORDER BY doc_id""".stripMargin) +
    ("x05_corpus_curation" ->
      (s"SELECT doc_id, q.n_tokens, l.lang_detected" +
        s" FROM (${baseOracles("x02_quality_score")}) q" +
        s" JOIN (${baseOracles("x03_lang_id")}) l USING (doc_id)" +
        s" JOIN (${Dedup.oracles("x10_dedup_exact")}) d USING (doc_id)" +
        " WHERE q.quality_ok AND d.is_canonical AND l.lang_detected = 'en'" +
        " ORDER BY doc_id")) +
    ("x80_repeated_windows" ->
      """WITH toks AS (
        |  SELECT doc_id, w, i - 1 AS pos
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
        |        FROM documents),
        |       LATERAL (SELECT unnest(ws) AS w, unnest(generate_series(1, len(ws))) AS i)),
        |wins AS (
        |  SELECT doc_id, CAST(FLOOR(pos / 10) AS BIGINT) AS win_id,
        |    count(*) AS n_toks,
        |    string_agg(w, ' ' ORDER BY pos) AS win_text
        |  FROM toks GROUP BY 1, 2),
        |fs AS (
        |  SELECT doc_id, win_text, min(win_id) AS first_win
        |  FROM wins GROUP BY 1, 2)
        |SELECT wins.doc_id, count(*) AS n_windows,
        |  CAST(sum(CASE WHEN win_id > first_win THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  CAST(sum(CASE WHEN win_id > first_win THEN 0 ELSE n_toks END) AS BIGINT) AS n_tokens_clean
        |FROM wins JOIN fs USING (doc_id, win_text)
        |GROUP BY wins.doc_id ORDER BY doc_id""".stripMargin) +
    ("x79_lang_confusion" -> {
      s"""WITH l AS (${baseOracles("x03_lang_id")}),
         |cells AS (
         |  SELECT lang_labeled, lang_detected, count(*) AS n_docs
         |  FROM l GROUP BY 1, 2),
         |r AS (SELECT lang_labeled, CAST(sum(n_docs) AS BIGINT) AS row_tot
         |      FROM cells GROUP BY 1)
         |SELECT cells.lang_labeled, lang_detected, n_docs,
         |  lang_labeled = lang_detected AS is_correct,
         |  CAST(n_docs AS DOUBLE) / CAST(row_tot AS DOUBLE) AS share
         |FROM cells JOIN r USING (lang_labeled)
         |ORDER BY lang_labeled, lang_detected""".stripMargin
    }) +
    ("x71_gopher_rules" -> GopherSql) +
    // x155: the four gates' own oracle SQL spliced verbatim (Gopher,
    // x03 lang agreement, x10 canonical, x54+quartile LM), cumulative
    // conjunctions, 4-row unpivot. Unscoreable docs drop at the LM
    // stage in both engines.
    ("x155_curation_funnel" ->
      s"""WITH g AS ($GopherSql),
         |l AS (${baseOracles("x03_lang_id")}),
         |c AS (${Dedup.oracles("x10_dedup_exact")}),
         |s54 AS ($BigramLmSql),
         |lmr AS (
         |  SELECT s54.doc_id,
         |    percent_rank() OVER (PARTITION BY d.lang ORDER BY s54.avg_p, s54.doc_id) AS pct_rank,
         |    count(*) OVER (PARTITION BY d.lang) AS n_lang
         |  FROM s54 JOIN documents d ON d.doc_id = s54.doc_id),
         |f AS (
         |  SELECT g.doc_id, g.keep AS kg,
         |    l.lang_detected = l.lang_labeled AS kl,
         |    c.is_canonical AS kc,
         |    coalesce(lmr.pct_rank >= 0.25 OR lmr.n_lang = 1, FALSE) AS km
         |  FROM g JOIN l USING (doc_id) JOIN c USING (doc_id)
         |  LEFT JOIN lmr ON lmr.doc_id = g.doc_id),
         |a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n0,
         |    CAST(sum(CASE WHEN kg THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(sum(CASE WHEN kg AND kl THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         |    CAST(sum(CASE WHEN kg AND kl AND kc THEN 1 ELSE 0 END) AS BIGINT) AS n3,
         |    CAST(sum(CASE WHEN kg AND kl AND kc AND km THEN 1 ELSE 0 END) AS BIGINT) AS n4
         |  FROM f)
         |SELECT stage, n_in, n_out, n_in - n_out AS n_dropped FROM (
         |  SELECT '1_gopher' AS stage, n0 AS n_in, n1 AS n_out FROM a
         |  UNION ALL SELECT '2_lang', n1, n2 FROM a
         |  UNION ALL SELECT '3_canonical', n2, n3 FROM a
         |  UNION ALL SELECT '4_lm_quartile', n3, n4 FROM a)
         |ORDER BY stage""".stripMargin) +
    // x151: the identical binary-rendering octave (bin == conv base-2,
    // both minimal-length), shifts for the bound, one ≤64-row window.
    ("x151_freq_octaves" ->
      """WITH freq AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |        FROM documents)
        |  GROUP BY w),
        |oct AS (
        |  SELECT CAST(length(bin(c)) - 1 AS BIGINT) AS octave,
        |    CAST(count(*) AS BIGINT) AS n_types,
        |    CAST(sum(c) AS BIGINT) AS n_occ
        |  FROM freq GROUP BY 1)
        |SELECT octave, CAST(CAST(1 AS BIGINT) << octave AS BIGINT) AS lo,
        |  n_types, n_occ,
        |  CAST(sum(n_occ) OVER (ORDER BY octave DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_occ_from_top
        |FROM oct ORDER BY octave""".stripMargin) +
    // x147: the Gopher labels spliced verbatim, the same df≥2 training
    // vocabulary (tf is (doc_id, w)-distinct, so df is count(*)), the
    // same cross-multiplied integer weights, and the same left-join
    // zero-coalesce for docs with no in-vocabulary tokens.
    ("x147_nb_quality" ->
      s"""WITH g AS ($GopherSql),
         |lab AS (SELECT doc_id, keep FROM g),
         |toks AS (
         |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
         |  FROM documents),
         |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
         |       FROM toks GROUP BY doc_id, w),
         |train AS (
         |  SELECT tf.doc_id, tf.w, tf.tf, lab.keep
         |  FROM tf JOIN lab USING (doc_id) WHERE tf.doc_id % 2 = 0),
         |vocab AS (
         |  SELECT w,
         |    CAST(sum(CASE WHEN keep THEN tf ELSE 0 END) AS BIGINT) AS pos_t,
         |    CAST(sum(CASE WHEN NOT keep THEN tf ELSE 0 END) AS BIGINT) AS neg_t
         |  FROM train GROUP BY w HAVING count(*) >= 2),
         |tot AS (
         |  SELECT CAST(sum(pos_t) AS BIGINT) AS p_tot,
         |    CAST(sum(neg_t) AS BIGINT) AS n_tot,
         |    CAST(count(*) AS BIGINT) AS v
         |  FROM vocab),
         |wt AS (
         |  SELECT w, (pos_t + 1) * (n_tot + v) - (neg_t + 1) * (p_tot + v) AS wt
         |  FROM vocab CROSS JOIN tot),
         |sc AS (
         |  SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_vocab_tokens,
         |    CAST(sum(tf.tf * wt.wt) AS BIGINT) AS score
         |  FROM tf JOIN wt USING (w) GROUP BY tf.doc_id)
         |SELECT l.doc_id,
         |  CASE WHEN l.doc_id % 2 = 0 THEN 'train' ELSE 'heldout' END AS split,
         |  coalesce(s.n_vocab_tokens, 0) AS n_vocab_tokens,
         |  coalesce(s.score, 0) AS score,
         |  coalesce(s.score, 0) > 0 AS predicted_keep,
         |  l.keep AS weak_keep
         |FROM lab l LEFT JOIN sc s USING (doc_id)
         |ORDER BY l.doc_id""".stripMargin) +
    ("x74_curation_manifest" ->
      s"""WITH g AS ($GopherSql),
         |c AS (${Dedup.oracles("x10_dedup_exact")}),
         |m AS (${graft.ops.Sampling.oracles("x73_temperature_mixture")}),
         |docs AS (
         |  SELECT doc_id,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |kept AS (
         |  SELECT m.doc_id, m.lang, docs.n_tokens
         |  FROM m JOIN g USING (doc_id) JOIN c USING (doc_id) JOIN docs USING (doc_id)
         |  WHERE m.keep AND g.keep AND c.is_canonical),
         |pk AS (
         |  SELECT lang, doc_id, n_tokens,
         |    COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
         |  FROM kept)
         |SELECT lang, CAST(FLOOR(tokens_before / 4096) AS BIGINT) AS bin,
         |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM pk GROUP BY 1, 2 ORDER BY lang, bin""".stripMargin) +
    ("x54_bigram_lm" -> BigramLmSql) +
    // x63 wraps the x54 scoring verbatim in a per-language percent_rank
    // (rank-1)/(n-1) — exact integer division on both engines; the n=1
    // guard keeps the sole document of a singleton language
    ("x63_lm_quality_filter" ->
      s"""WITH s54 AS ($BigramLmSql),
         |ranked AS (
         |  SELECT s54.doc_id, d.lang, s54.avg_p,
         |    percent_rank() OVER (PARTITION BY d.lang ORDER BY s54.avg_p, s54.doc_id) AS pct_rank,
         |    count(*) OVER (PARTITION BY d.lang) AS n_lang
         |  FROM s54 JOIN documents d ON d.doc_id = s54.doc_id)
         |SELECT doc_id, lang, avg_p, pct_rank, (pct_rank >= 0.25 OR n_lang = 1) AS keep
         |FROM ranked ORDER BY doc_id""".stripMargin) +
    ("x65_bigram_novelty" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, greatest(len(w)-1, 0), 1),
        |      i -> w[i] || ' ' || w[i+1])) AS bg
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents)
        |  WHERE len(w) >= 2),
        |inv AS (SELECT doc_id, unnest(bg) AS ngram FROM d),
        |dfc AS (SELECT ngram, count(*) AS df FROM inv GROUP BY ngram)
        |SELECT doc_id, count(*) AS n_bigrams_distinct,
        |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS novelty_ratio
        |FROM inv JOIN dfc USING (ngram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) +
    // x67: floor(log2) via binary-string length — float log2 is not
    // cross-engine exact at powers of two
    ("x67_length_histogram" ->
      """WITH d AS (
        |  SELECT CAST(length(bin(CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT))) - 1 AS BIGINT) AS bucket,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |h AS (SELECT bucket, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        |      FROM d GROUP BY bucket),
        |t AS (SELECT count(*) AS n_total FROM d)
        |SELECT bucket, n_docs, total_tokens,
        |  CAST(sum(n_docs) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |    / CAST(n_total AS DOUBLE) AS cum_share
        |FROM h, t ORDER BY bucket""".stripMargin) +
    ("x68_pmi_topk" ->
      """WITH toks AS (
        |  SELECT doc_id, w, i AS pos
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
        |        FROM documents),
        |       LATERAL (SELECT unnest(ws) AS w, unnest(generate_series(1, len(ws))) AS i)),
        |bi AS (
        |  SELECT doc_id, w AS w1,
        |    lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM toks QUALIFY w2 IS NOT NULL),
        |uni AS (SELECT w AS wu, count(*) AS c1 FROM toks GROUP BY w),
        |n1 AS (SELECT CAST(count(*) AS BIGINT) AS n1 FROM toks),
        |n2 AS (SELECT CAST(count(*) AS BIGINT) AS n2 FROM bi),
        |big AS (SELECT w1, w2, count(*) AS n_pair FROM bi GROUP BY w1, w2)
        |SELECT w1, w2, n_pair,
        |  (CAST(n_pair AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE))
        |    / (CAST(n2 AS DOUBLE) * CAST(a.c1 AS DOUBLE) * CAST(b.c1 AS DOUBLE)) AS lift
        |FROM big JOIN uni a ON a.wu = w1 JOIN uni b ON b.wu = w2, n1, n2
        |WHERE n_pair >= 5
        |ORDER BY lift DESC, w1, w2 LIMIT 30""".stripMargin) +
    ("x45_corpus_pipeline" ->
      (s"WITH kept AS (SELECT doc_id, q.n_tokens" +
        s" FROM (${baseOracles("x02_quality_score")}) q" +
        s" JOIN (${baseOracles("x03_lang_id")}) l USING (doc_id)" +
        s" JOIN (${Dedup.oracles("x10_dedup_exact")}) d USING (doc_id)" +
        " WHERE q.quality_ok AND d.is_canonical AND l.lang_detected = 'en')" +
        " SELECT CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 80 THEN 'train'" +
        "             WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90 THEN 'val'" +
        "             ELSE 'test' END AS split," +
        "   count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens" +
        " FROM kept GROUP BY 1 ORDER BY split"))
}
