package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.engine.Tables

/** Corpus-preparation operators a training-data pipeline runs between raw
  * documents and the tokenizer: fixed-budget chunking with overlap (the
  * RAG/pretraining segmenter), chunk-grain exact dedup (the
  * paragraph-level near-boilerplate filter doc-level dedup misses), PII
  * redaction, and token->vocabulary-id encoding.
  *
  * Scale notes:
  *   - chunking is explode + codegen'd projection, shuffle-free: each
  *     document expands to its own chunk rows map-side;
  *   - chunk dedup shuffles only (chunk_hash) — one 128-bit key per
  *     32-token block, ~3% of the text volume;
  *   - PII redaction is a pure per-row regexp projection;
  *   - vocab encoding broadcasts the bounded vocabulary (the id table is
  *     `vocabSize` rows by construction) into the exploded token stream,
  *     so the corpus side never shuffles until the per-doc reassembly.
  */
object Corpus {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.splitCorpus(s, dir, n)

  /** (doc_id, chunk_idx, n_chunk_tokens, chunk_hash) with fixed-size
    * token windows starting every `chunkSize - overlap` tokens; the last
    * chunk may be short (it keeps the tail rather than dropping it).
    * `chunk_hash` is md5 of the space-rejoined chunk — the dedup /
    * cache key; emitting the hash instead of the text keeps graded
    * output narrow.
    */
  def docChunks(s: SparkSession, dir: String,
      chunkSize: Int = 32, overlap: Int = 8): DataFrame =
    chunksOf(t(s, dir, "documents"), chunkSize, overlap)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** The chunker over any (doc_id, text) frame — public so specs can
    * feed crafted documents.
    */
  def chunksOf(docs: DataFrame, chunkSize: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkSize, "overlap must be in [0, chunkSize)")
    val stride = chunkSize - overlap
    docs
      .select(col("doc_id"), TextAnalysis.wsTokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")).cast(LongType))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L), expr(s"(n - 1) div $stride"))).as("chunk_idx"))
      .withColumn("chunk",
        slice(col("toks"), (col("chunk_idx") * stride + 1).cast(IntegerType), lit(chunkSize)))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).cast(LongType).as("n_chunk_tokens"),
        md5(array_join(col("chunk"), " ").cast("binary")).as("chunk_hash"))
  }

  /** Chunk-grain exact dedup over non-overlapping 32-token blocks: the
    * first occurrence (smallest doc_id, then chunk_idx) of each block is
    * canonical; repeated blocks across documents are the
    * boilerplate/near-duplicate passages document-level dedup (x10)
    * cannot see. Per doc: block count, duplicated-block count, and the
    * token budget that survives block dedup.
    */
  def chunkDedup(s: SparkSession, dir: String, chunkSize: Int = 32): DataFrame = {
    val w = Window.partitionBy(col("chunk_hash")).orderBy(col("doc_id"), col("chunk_idx"))
    docChunks(s, dir, chunkSize, overlap = 0)
      .withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("rn") === 1, 0L).otherwise(1L)).as("n_dup_chunks"),
        sum(when(col("rn") === 1, col("n_chunk_tokens")).otherwise(0L)).as("tokens_kept"))
      .orderBy(col("doc_id"))
  }

  /** Chunk-grain dedup WITH document reassembly — the op x52 stops short
    * of: drop every non-canonical (repeated) 32-token block and emit the
    * scrubbed document itself, not just its counts (the CCNet/
    * RefinedWeb-style "remove duplicated passages and rewrite the
    * corpus" pass). Canonical = first occurrence by (doc_id, chunk_idx)
    * — the same total order as x52, so the two ops agree on what
    * survives.
    *
    * Scale shape — text moves ONCE: the keep/drop decision rides a
    * NARROW (chunk_hash, doc_id, chunk_idx) frame through the window
    * shuffle and a narrow per-doc kept-index aggregate; the full text
    * then joins that verdict on doc_id (its single exchange) and the
    * scrubbed document is re-sliced from the original token array
    * map-side (`transform` over the kept indices). Chunk text never
    * rides a shuffle — at 100 TB the dedup lanes carry ~3% of the
    * corpus volume (one 128-bit hash per 32-token block) and the
    * payload crosses the wire exactly once, which is the floor for an
    * op that must emit rewritten documents.
    */
  def chunkScrub(s: SparkSession, dir: String, chunkSize: Int = 32): DataFrame =
    chunkScrubOf(t(s, dir, "documents"), chunkSize)

  /** The scrubber over any (doc_id, text) frame — public for specs. */
  def chunkScrubOf(docs: DataFrame, chunkSize: Int): DataFrame = {
    val stride = chunkSize
    val narrow = docs
      .select(col("doc_id"), TextAnalysis.wsTokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")).cast(LongType))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L), expr(s"(n - 1) div $stride"))).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        size(slice(col("toks"), (col("chunk_idx") * stride + 1).cast(IntegerType),
          lit(chunkSize))).cast(LongType).as("n_chunk_tokens"),
        md5(array_join(slice(col("toks"), (col("chunk_idx") * stride + 1).cast(IntegerType),
          lit(chunkSize)), " ").cast("binary")).as("chunk_hash"))
    val w = Window.partitionBy(col("chunk_hash")).orderBy(col("doc_id"), col("chunk_idx"))
    val verdict = narrow
      .withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rn") === 1, col("n_chunk_tokens")).otherwise(0L)).as("tokens_kept"),
        sort_array(collect_list(when(col("rn") === 1, col("chunk_idx")))).as("kept_idx"))
    docs
      .select(col("doc_id"), TextAnalysis.wsTokens(col("text")).as("toks"))
      .join(verdict, "doc_id")
      .select(col("doc_id"), col("n_chunks"), col("n_kept"), col("tokens_kept"),
        md5(array_join(flatten(transform(col("kept_idx"),
          i => slice(col("toks"), (i * stride + 1).cast(IntegerType), lit(chunkSize)))),
          " ").cast("binary")).as("scrubbed_md5"))
      .orderBy(col("doc_id"))
  }

  /** PII patterns, shared verbatim with the DuckDB twin (both engines'
    * regex dialects — java.util.regex and RE2 — agree on this subset:
    * char classes, bounded repeats, `\b`, `\d`).
    */
  val PiiEmail = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PiiPhone = "\\b\\d{3}-\\d{3,4}-\\d{4}\\b"
  val PiiLongId = "\\b\\d{13,18}\\b"

  /** Mask emails, dashed phone numbers, and 13-18 digit account-style
    * ids. Email first: its local part may itself contain digit runs the
    * later patterns would mangle.
    */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, PiiEmail, "<EMAIL>"),
        PiiPhone, "<PHONE>"),
      PiiLongId, "<ID>")

  /** Graded PII query. The synthetic tables carry no raw PII, so the
    * fixture text is constructed deterministically from customer keys
    * (name-derived email, key-derived phone/account number) — the
    * operator under test is `redactPii` plus the per-class match counts;
    * the construction is mirrored verbatim in the oracle.
    */
  def piiRedaction(s: SparkSession, dir: String, maxKey: Int = 200): DataFrame = {
    val profile = concat(
      lit("contact "), lower(col("c_name")), lit(" "),
      lower(regexp_replace(col("c_name"), "#", ".")), lit("@example.com tel 555-"),
      lpad((col("c_custkey") % 1000).cast("string"), 3, "0"), lit("-"),
      lpad(((col("c_custkey") * 7) % 10000).cast("string"), 4, "0"),
      lit(" acct "), (col("c_custkey") + 900000000000000L).cast("string"))
    t(s, dir, "customer")
      .filter(col("c_custkey") < maxKey)
      .withColumn("profile", profile)
      .select(
        col("c_custkey"),
        redactPii(col("profile")).as("redacted"),
        size(regexp_extract_all(col("profile"), lit(PiiEmail), lit(0))).cast(LongType).as("n_emails"),
        size(regexp_extract_all(col("profile"), lit(PiiPhone), lit(0))).cast(LongType).as("n_phones"),
        size(regexp_extract_all(col("profile"), lit(PiiLongId), lit(0))).cast(LongType).as("n_ids"))
      .orderBy(col("c_custkey"))
  }

  /** Token->id encoding against a frequency-ranked vocabulary: ids are
    * 1..vocabSize by (count desc, token), out-of-vocabulary tokens map
    * to 0, and each document becomes its ordered id sequence (emitted as
    * a comma-joined string — the graded-output convention for arrays).
    */
  def vocabEncode(s: SparkSession, dir: String, vocabSize: Int = 40): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), posexplode(TextAnalysis.wsTokens(lower(col("text")))))
      .withColumnRenamed("col", "w")
    val wVocab = Window.orderBy(col("n_occurrences").desc, col("w"))
    val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("n_occurrences"))
      .withColumn("token_id", row_number().over(wVocab).cast(LongType))
      .filter(col("token_id") <= vocabSize)
      .select(col("w"), col("token_id"))
    toks.join(broadcast(vocab), Seq("w"), "left")
      .withColumn("tid", coalesce(col("token_id"), lit(0L)))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("token_id").isNull, 1L).otherwise(0L)).as("n_oov"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tid")))),
            x => x.getField("tid").cast("string")), ",").as("ids"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x50_doc_chunks" -> ((s: SparkSession, dir: String) => docChunks(s, dir)),
    "x51_pii_redaction" -> ((s: SparkSession, dir: String) => piiRedaction(s, dir)),
    "x52_chunk_dedup" -> ((s: SparkSession, dir: String) => chunkDedup(s, dir)),
    "x53_vocab_encode" -> ((s: SparkSession, dir: String) => vocabEncode(s, dir)),
    "x116_chunk_scrub" -> ((s: SparkSession, dir: String) => chunkScrub(s, dir)))

  private val ChunkCte =
    """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
      |c AS (SELECT doc_id, toks,
      |        unnest(generate_series(0, (len(toks)-1) // %STRIDE%)) AS chunk_idx
      |      FROM d),
      |h AS (SELECT doc_id, chunk_idx,
      |        CAST(len(list_slice(toks, CAST(chunk_idx*%STRIDE%+1 AS INT), CAST(chunk_idx*%STRIDE%+%SIZE% AS INT))) AS BIGINT) AS n_chunk_tokens,
      |        md5(array_to_string(list_slice(toks, CAST(chunk_idx*%STRIDE%+1 AS INT), CAST(chunk_idx*%STRIDE%+%SIZE% AS INT)), ' ')) AS chunk_hash
      |      FROM c)""".stripMargin

  val oracles: Map[String, String] = Map(
    "x50_doc_chunks" ->
      (ChunkCte.replace("%STRIDE%", "24").replace("%SIZE%", "32") +
        "\nSELECT doc_id, chunk_idx, n_chunk_tokens, chunk_hash FROM h ORDER BY doc_id, chunk_idx"),
    "x52_chunk_dedup" ->
      (ChunkCte.replace("%STRIDE%", "32").replace("%SIZE%", "32") +
        """,
          |r AS (SELECT doc_id, n_chunk_tokens,
          |        row_number() OVER (PARTITION BY chunk_hash ORDER BY doc_id, chunk_idx) AS rn
          |      FROM h)
          |SELECT doc_id, count(*) AS n_chunks,
          |  CAST(sum(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_dup_chunks,
          |  CAST(sum(CASE WHEN rn = 1 THEN n_chunk_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
          |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // x116: same chunk geometry as x52 (stride = size = 32), plus the
    // reassembly — kept chunks re-joined in chunk_idx order with single
    // spaces, which equals Spark's flatten-then-join because chunks are
    // themselves space-joined token slices. coalesce('') covers a doc
    // whose every block is a repeat (string_agg over all-NULL is NULL;
    // Spark's empty flatten joins to '').
    "x116_chunk_scrub" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |c AS (SELECT doc_id, toks,
        |        unnest(generate_series(0, (len(toks)-1) // 32)) AS chunk_idx
        |      FROM d),
        |h AS (SELECT doc_id, chunk_idx,
        |        array_to_string(list_slice(toks, CAST(chunk_idx*32+1 AS INT), CAST(chunk_idx*32+32 AS INT)), ' ') AS chunk_txt
        |      FROM c),
        |r AS (SELECT doc_id, chunk_idx, chunk_txt,
        |        CAST(len(string_split(chunk_txt, ' ')) AS BIGINT) AS n_chunk_tokens,
        |        row_number() OVER (PARTITION BY md5(chunk_txt) ORDER BY doc_id, chunk_idx) AS rn
        |      FROM h)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN rn = 1 THEN n_chunk_tokens ELSE 0 END) AS BIGINT) AS tokens_kept,
        |  md5(coalesce(string_agg(CASE WHEN rn = 1 THEN chunk_txt END, ' ' ORDER BY chunk_idx), '')) AS scrubbed_md5
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x51_pii_redaction" ->
      """WITH p AS (
        |  SELECT c_custkey,
        |    'contact ' || lower(c_name) || ' ' || lower(replace(c_name, '#', '.'))
        |      || '@example.com tel 555-' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0')
        |      || '-' || lpad(CAST((c_custkey * 7) % 10000 AS VARCHAR), 4, '0')
        |      || ' acct ' || CAST(c_custkey + 900000000000000 AS VARCHAR) AS profile
        |  FROM customer WHERE c_custkey < 200)
        |SELECT c_custkey,
        |  regexp_replace(regexp_replace(regexp_replace(profile,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{3}-\d{3,4}-\d{4}\b', '<PHONE>', 'g'),
        |    '\b\d{13,18}\b', '<ID>', 'g') AS redacted,
        |  len(regexp_extract_all(profile, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(profile, '\b\d{3}-\d{3,4}-\d{4}\b')) AS n_phones,
        |  len(regexp_extract_all(profile, '\b\d{13,18}\b')) AS n_ids
        |FROM p ORDER BY c_custkey""".stripMargin,
    "x53_vocab_encode" ->
      """WITH toks AS (
        |  SELECT doc_id, w, i AS pos
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
        |        FROM documents),
        |       LATERAL (SELECT unnest(ws) AS w, unnest(generate_series(1, len(ws))) AS i)),
        |vocab AS (
        |  SELECT w, row_number() OVER (ORDER BY count(*) DESC, w) AS token_id
        |  FROM toks GROUP BY w
        |  QUALIFY token_id <= 40),
        |enc AS (
        |  SELECT t.doc_id, t.pos, coalesce(v.token_id, 0) AS tid, v.token_id
        |  FROM toks t LEFT JOIN vocab v USING (w))
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN token_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos) AS ids
        |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
