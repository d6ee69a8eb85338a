package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.engine.{SessionMemo, Tables}
import graft.engine.Pin.PinOps

/** Unigram-LM (SentencePiece-style) tokenizer TRAINER — the subword family's
  * second member next to the x101 BPE trainer (Kudo ACL'18 "Subword
  * Regularization", §3; reference analogy: the tokenizer the reference's
  * text lane would train ahead of model ingest). Reduced-lattice,
  * Viterbi-EM (hard-EM) form, chosen so every step is cross-engine
  * deterministic and hash-gateable:
  *
  *  - SEED: candidate pieces are all substrings of vocab words up to
  *    `MaxPieceLen` chars. Multi-char candidates are pruned to the top
  *    `SeedMultiVocab` by (count DESC, piece ASC) — a total order, so the
  *    seed is reproducible; ALL single characters are kept unconditionally
  *    (Kudo's coverage guarantee — the lattice can always fall back to a
  *    char path).
  *  - E-STEP (Viterbi): each word is segmented by the max-probability
  *    path under the current unigram model p(piece) = count/total. The DP
  *    carries NEGATED path probabilities ("negscore"), so the per-position
  *    argmax is `array_min` over struct(negscore, path) — score ties break
  *    on the lexicographically smallest path (spaces sort below letters,
  *    so earlier splits win), a TOTAL order making the chosen segmentation
  *    unique. All probabilities are single correctly-rounded double
  *    divisions and the path score is a left-to-right double product —
  *    both IEEE-deterministic, so DuckDB's unrolled DP (positions 1..
  *    `MaxWordLen` as plain CTE layers; no recursive CTE, 1.0.0-safe)
  *    lands on bit-identical scores and therefore identical paths. No
  *    libm log anywhere (the x07/x54 determinism rule).
  *  - M-STEP: piece counts re-estimated from the Viterbi segmentation
  *    (hard counts — integers, weighted by word frequency). Multi-char
  *    pieces that went unused are PRUNED (the EM shrink); single chars are
  *    floored at count 1 (coverage floor) so every word stays segmentable.
  *
  * Scale shape (the Sennrich/Kudo trick the x101 trainer also uses):
  * corpus-sized work happens ONCE — the word histogram, one shuffle on the
  * word key with map-side combine. Every EM round after that is
  * VOCAB-sized: the piece model is collected into a one-row broadcast MAP
  * (pieces are bounded by `SeedMultiVocab` + the char inventory), and the
  * whole Viterbi DP is `MaxWordLen` NARROW column rewrites over the vocab
  * rows — no per-position join, no per-position shuffle, no driver loop
  * over rows. At 100 TB the histogram shuffle dominates and everything
  * else rides a ~10M-row vocab; words longer than `MaxWordLen` chars are
  * excluded up front (the standard trainer cap — SentencePiece's
  * max-length guard) which also bounds the unrolled DP depth.
  *
  * Cited reference shape: `dags/flights_data_pipeline.py:160` is the
  * closest the reference comes (pandas CSV token handling) — the trainer
  * itself is an addendum capability (SURVEY §2.20), not a port.
  */
object UnigramLm {

  /** Words longer than this many chars are excluded from training (the
    * SentencePiece max-length guard); also the unrolled DP depth.
    */
  val MaxWordLen = 16

  /** Maximum candidate piece length in characters. */
  val MaxPieceLen = 4

  /** Seed prune: multi-char candidates kept, by (count DESC, piece ASC). */
  val SeedMultiVocab = 64

  /** EM rounds (fixed — both engines unroll the same count). */
  val Rounds = 3

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.splitCorpus(s, dir, n)

  /** documents → (w, freq) word histogram — the ONE corpus-sized pass.
    * Same token law as the x101 BPE trainer (whitespace split of
    * lowercased text) plus the MaxWordLen cap, mirrored in the twin.
    */
  private def wordHistogram(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(TextAnalysis.wsTokens(lower(col("text")))).as("w"))
      .filter(length(col("w")).between(1, MaxWordLen))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** Seed lattice: (all single chars with raw counts, top-V multi-char
    * substrings by (count DESC, piece ASC)).
    */
  private def seedPieces(words: DataFrame): (DataFrame, DataFrame) = {
    val chars = words
      .select(col("freq"), explode(expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).cast(LongType).as("piece_count"))
    val multi = words
      .select(col("freq"), explode(expr(
        s"""flatten(transform(sequence(1, length(w)), i ->
           |  filter(transform(sequence(2, $MaxPieceLen), l ->
           |    CASE WHEN i + l - 1 <= length(w) THEN substring(w, i, l) END),
           |    p -> p IS NOT NULL)))""".stripMargin)).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).cast(LongType).as("piece_count"))
      .orderBy(col("piece_count").desc, col("piece")).limit(SeedMultiVocab)
    (chars, multi)
  }

  /** One Viterbi E-step: segment every vocab word under p(piece) =
    * piece_count/total. The model rides as a one-row broadcast map; the DP
    * is `MaxWordLen` narrow projections appending position i's best
    * struct(negscore, path) (negscore = NEGATED running probability, so
    * `array_min` is argmax-with-path-tiebreak). dp(1) is position 0
    * (empty prefix, negscore -1.0); position p lives at index p+1.
    * Returns (w, freq, segmentation, n_pieces).
    */
  private def viterbiSegment(words: DataFrame, pieces: DataFrame): DataFrame = {
    val pmap = pieces
      .crossJoin(broadcast(pieces.agg(
        sum(col("piece_count")).cast(LongType).as("total"))))
      .agg(map_from_entries(collect_list(struct(col("piece"),
        (col("piece_count").cast(DoubleType) / col("total").cast(DoubleType))
          .as("prob")))).as("pmap"))
    var dp = words.crossJoin(broadcast(pmap))
      .withColumn("dp", expr(
        "array(named_struct('negscore', cast(-1.0 as double), 'path', ''))"))
    for (i <- 1 to MaxWordLen) {
      val cands = (1 to math.min(i, MaxPieceLen)).map { l =>
        val start = i - l + 1 // piece start; ALSO dp index of position i-l
        val piece = s"substring(w, $start, $l)"
        val prev = s"element_at(dp, $start)"
        val path =
          if (i - l == 0) piece
          else s"concat($prev.path, ' ', $piece)"
        s"""CASE WHEN $prev IS NOT NULL
           |       AND try_element_at(pmap, $piece) IS NOT NULL
           |  THEN named_struct(
           |    'negscore', $prev.negscore * try_element_at(pmap, $piece),
           |    'path', $path)
           |END""".stripMargin
      }
      dp = dp.withColumn("dp", expr(
        s"""concat(dp, array(CASE WHEN length(w) >= $i THEN
           |  array_min(filter(array(${cands.mkString(",\n")}), x -> x IS NOT NULL))
           |END))""".stripMargin))
      // periodic materialization keeps the projection stack (and codegen
      // unit) bounded; vocab-sized rows, so this is cheap by design
      if (i % 4 == 0) dp = dp.pinned
    }
    dp.select(col("w"), col("freq"),
        expr("element_at(dp, length(w) + 1).path").as("segmentation"))
      .withColumn("n_pieces",
        size(split(col("segmentation"), " ")).cast(IntegerType))
  }

  /** M-step: hard counts from the Viterbi paths; unused multi-char pieces
    * pruned, single chars floored at count 1 (coverage).
    */
  private def reestimate(chars: DataFrame, seg: DataFrame): DataFrame = {
    val used = seg
      .select(col("freq"), explode(split(col("segmentation"), " ")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).cast(LongType).as("piece_count"))
    used.filter(length(col("piece")) >= 2)
      .unionByName(chars.select(col("piece"))
        .join(used.withColumnRenamed("piece_count", "used_count"),
          Seq("piece"), "left")
        .select(col("piece"),
          coalesce(col("used_count"), lit(1L)).cast(LongType).as("piece_count")))
  }

  /** Full trainer: seed, then `rounds` Viterbi-EM rounds. Returns (final
    * piece model, the round-`rounds` segmentation that produced it).
    * Each round boundary localCheckpoints — two consumers per frame (next
    * round + the output queries) would otherwise re-run the prefix chain.
    */
  private[graft] def trainFromWords(wordsIn: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    val words = wordsIn.pinned
    val (charsRaw, multi) = seedPieces(words)
    val chars = charsRaw.pinned
    var pieces = chars.unionByName(multi).pinned
    var seg: DataFrame = words.sparkSession.emptyDataFrame
    for (_ <- 1 to rounds) {
      seg = viterbiSegment(words, pieces).pinned
      pieces = reestimate(chars, seg).pinned
    }
    (pieces, seg)
  }

  /** x165/x166/x167 share one training run per (session, dataset, rounds). */
  private val cache = SessionMemo[(String, Int), (DataFrame, DataFrame)]("UnigramLm.cache")

  private def train(s: SparkSession, dir: String,
      rounds: Int = Rounds): (DataFrame, DataFrame) =
    cache(s, (dir, rounds))(trainFromWords(wordHistogram(s, dir), rounds))

  /** x165: the trained piece vocabulary — the artifact a unigram-LM
    * tokenizer ships. rank's global window is vocab-bounded
    * (SeedMultiVocab + the char inventory), not corpus-sized.
    */
  def trainedVocab(s: SparkSession, dir: String): DataFrame =
    train(s, dir)._1.select(col("piece"),
      length(col("piece")).cast(IntegerType).as("piece_len"),
      col("piece_count"),
      row_number().over(Window.orderBy(col("piece_count").desc, col("piece")))
        .cast(LongType).as("rank"))

  /** x167: the final Viterbi segmentation per vocab word — the strongest
    * gate (paths, not just counts, must match the twin's DP bitwise).
    */
  def segmentations(s: SparkSession, dir: String): DataFrame =
    train(s, dir)._2.select(col("w"), col("freq"), col("n_pieces"),
      col("segmentation"))

  /** x166: tokenizer-card headline — corpus totals under the final model
    * (exact integer sums; the two ratios are single double divisions).
    */
  def encodeReport(s: SparkSession, dir: String): DataFrame = {
    val (pieces, seg) = train(s, dir)
    seg.agg(
        count(lit(1)).as("n_vocab_words"),
        sum(col("freq")).cast(LongType).as("n_ws_tokens"),
        sum(col("freq") * length(col("w"))).cast(LongType).as("n_chars"),
        sum(col("freq") * col("n_pieces")).cast(LongType).as("n_pieces_total"))
      .crossJoin(broadcast(pieces.agg(
        count(lit(1)).cast(LongType).as("model_vocab_size"))))
      .select(col("n_vocab_words"), col("n_ws_tokens"), col("n_chars"),
        col("n_pieces_total"), col("model_vocab_size"),
        (col("n_chars").cast(DoubleType) / col("n_pieces_total").cast(DoubleType))
          .as("chars_per_piece"),
        (col("n_pieces_total").cast(DoubleType) / col("n_ws_tokens").cast(DoubleType))
          .as("pieces_per_word"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x165_unigram_lm_train" -> ((s: SparkSession, dir: String) => trainedVocab(s, dir)),
    "x166_unigram_lm_encode" -> ((s: SparkSession, dir: String) => encodeReport(s, dir)),
    "x167_unigram_lm_segments" -> ((s: SparkSession, dir: String) => segmentations(s, dir)))

  // ---------------------------------------------------------------------
  // DuckDB twin: the same trainer UNROLLED — seed CTEs, then per round a
  // (total, probs, dp_0..dp_MaxWordLen, seg, counts, pieces) block. The
  // dp layers are plain (non-recursive) CTEs — per position one UNION of
  // ≤ MaxPieceLen legs joined to the prob table on the substring, argmax
  // via row_number() OVER (PARTITION BY w ORDER BY negscore, path).
  // Arithmetic is spelled to match the Spark plan op-for-op: prob is one
  // DOUBLE division, negscore a left-to-right DOUBLE product.
  // ---------------------------------------------------------------------

  private def oracleCtes(rounds: Int): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    parts += s"""w0 AS MATERIALIZED (
      |  SELECT w, CAST(count(*) AS BIGINT) AS freq
      |  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
      |        FROM documents)
      |  WHERE length(w) BETWEEN 1 AND $MaxWordLen GROUP BY w)""".stripMargin
    parts += """ch AS MATERIALIZED (
      |  SELECT substr(w, i, 1) AS piece, CAST(sum(freq) AS BIGINT) AS piece_count
      |  FROM (SELECT w, freq, unnest(generate_series(1, length(w))) AS i FROM w0)
      |  GROUP BY 1)""".stripMargin
    parts += s"""mseed AS MATERIALIZED (
      |  SELECT piece, piece_count FROM (
      |    SELECT substr(w, i, l) AS piece, CAST(sum(freq) AS BIGINT) AS piece_count
      |    FROM (
      |      SELECT w, freq, i,
      |        unnest(generate_series(2, least($MaxPieceLen, length(w) - i + 1))) AS l
      |      FROM (SELECT w, freq, unnest(generate_series(1, length(w))) AS i FROM w0))
      |    GROUP BY 1)
      |  ORDER BY piece_count DESC, piece LIMIT $SeedMultiVocab)""".stripMargin
    parts += "p0 AS MATERIALIZED (SELECT * FROM ch UNION ALL SELECT * FROM mseed)"
    for (r <- 1 to rounds) {
      parts += s"tot$r AS MATERIALIZED (SELECT CAST(sum(piece_count) AS BIGINT) AS total FROM p${r - 1})"
      parts += s"""pp$r AS MATERIALIZED (
        |  SELECT piece, CAST(piece_count AS DOUBLE) / CAST(total AS DOUBLE) AS prob
        |  FROM p${r - 1}, tot$r)""".stripMargin
      parts += s"d${r}_0 AS MATERIALIZED (SELECT w, freq, CAST(-1.0 AS DOUBLE) AS negscore, '' AS path FROM w0)"
      for (i <- 1 to MaxWordLen) {
        val legs = (1 to math.min(i, MaxPieceLen)).map { l =>
          val start = i - l + 1
          val pathExpr =
            if (i - l == 0) "p.piece" else "d.path || ' ' || p.piece"
          s"""SELECT d.w, d.freq, d.negscore * p.prob AS negscore, $pathExpr AS path
             |      FROM d${r}_${i - l} d JOIN pp$r p ON p.piece = substr(d.w, $start, $l)
             |      WHERE length(d.w) >= $i""".stripMargin
        }
        parts += s"""d${r}_$i AS MATERIALIZED (
          |  SELECT w, freq, negscore, path FROM (
          |    SELECT w, freq, negscore, path,
          |      row_number() OVER (PARTITION BY w ORDER BY negscore, path) AS rn
          |    FROM (${legs.mkString("\n      UNION ALL\n")}))
          |  WHERE rn = 1)""".stripMargin
      }
      val segLegs = (1 to MaxWordLen)
        .map(i => s"SELECT * FROM d${r}_$i WHERE length(w) = $i")
      parts += s"seg$r AS MATERIALIZED (${segLegs.mkString(" UNION ALL ")})"
      parts += s"""u$r AS MATERIALIZED (
        |  SELECT piece, CAST(sum(freq) AS BIGINT) AS piece_count
        |  FROM (SELECT freq, unnest(string_split(path, ' ')) AS piece FROM seg$r)
        |  GROUP BY 1)""".stripMargin
      parts += s"""p$r AS MATERIALIZED (
        |  SELECT piece, piece_count FROM u$r WHERE length(piece) >= 2
        |  UNION ALL
        |  SELECT c.piece, CAST(coalesce(u.piece_count, 1) AS BIGINT) AS piece_count
        |  FROM ch c LEFT JOIN u$r u ON u.piece = c.piece)""".stripMargin
    }
    "WITH " + parts.mkString(",\n")
  }

  val oracles: Map[String, String] = Map(
    "x165_unigram_lm_train" -> (oracleCtes(Rounds) +
      s"""
         |SELECT piece, CAST(length(piece) AS INTEGER) AS piece_len, piece_count,
         |  CAST(row_number() OVER (ORDER BY piece_count DESC, piece) AS BIGINT) AS rank
         |FROM p$Rounds""".stripMargin),
    "x166_unigram_lm_encode" -> (oracleCtes(Rounds) +
      s"""
         |SELECT CAST(count(*) AS BIGINT) AS n_vocab_words,
         |  CAST(sum(freq) AS BIGINT) AS n_ws_tokens,
         |  CAST(sum(freq * length(w)) AS BIGINT) AS n_chars,
         |  CAST(sum(freq * n_pieces) AS BIGINT) AS n_pieces_total,
         |  (SELECT CAST(count(*) AS BIGINT) FROM p$Rounds) AS model_vocab_size,
         |  CAST(sum(freq * length(w)) AS DOUBLE) / CAST(sum(freq * n_pieces) AS DOUBLE)
         |    AS chars_per_piece,
         |  CAST(sum(freq * n_pieces) AS DOUBLE) / CAST(sum(freq) AS DOUBLE)
         |    AS pieces_per_word
         |FROM (SELECT w, freq, len(string_split(path, ' ')) AS n_pieces FROM seg$Rounds)""".stripMargin),
    "x167_unigram_lm_segments" -> (oracleCtes(Rounds) +
      s"""
         |SELECT w, freq, CAST(len(string_split(path, ' ')) AS INTEGER) AS n_pieces,
         |  path AS segmentation
         |FROM seg$Rounds""".stripMargin))
}
